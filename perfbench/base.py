"""What every workload shares: its seed and work directory, the Spark
session of the Spark workloads, per-op job-group counts, and the traced
run's spans around the engine's public entry points."""

from __future__ import annotations

import functools
import math
import os
from typing import Dict, List, Optional

from harness import JobCounter, Tracer, harvest_rest, start_spark, stop_spark

# (module, attribute, span name) of the public calls the traced run
# wraps, so calls the engine makes to them from inside a verb nest under
# that verb's span. Patched only in the traced run, only in this process.
TRACED_CALLS = [
    ("qbeast_spark_spark.sources.log", "CommitLog.snapshot", "log.snapshot"),
    ("qbeast_spark_spark.sources.log", "CommitLog.commit", "log.commit"),
    ("qbeast_spark_spark.sources.reader", "prune_files", "reader.prune"),
    ("qbeast_spark_spark.sources.reader", "QbeastTable.sample_files",
     "reader.sample_files"),
]


def _wrap(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def traced(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    traced.__perfbench_wrapped__ = fn
    return traced


def install_traced_calls(tracer: Tracer) -> None:
    import importlib

    for modname, attr, span in TRACED_CALLS:
        mod = importlib.import_module(modname)
        owner, _, leaf = attr.rpartition(".")
        target = getattr(mod, owner) if owner else mod
        fn = getattr(target, leaf)
        if not hasattr(fn, "__perfbench_wrapped__"):
            setattr(target, leaf, _wrap(fn, tracer, span))


def mean(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("mean of no values")
    return float(sum(xs) / len(xs))


class Workload:
    """Lifecycle: ``plan()`` (pure: the op list for the seed), ``setup()``,
    then ``before_op``/``run_op``/``after_op`` per op, ``verify``, the
    metric methods, ``close()``."""

    # ops per second on a 4-CPU host; sizes the op count to --seconds
    nominal_rate = 1.0
    cycle = 1
    # the per-layer metrics this workload's ops move: in the traced run
    # each must be produced and above 0, so a failed harvest or a renamed
    # Spark metric fails the run instead of reading as 0
    exercised: frozenset = frozenset()

    def __init__(self, seed: int, seconds: int, work: str,
                 tracer: Tracer) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.jobs: Optional[JobCounter] = None
        self.kept: Dict[int, str] = {}
        self.rest: Dict[str, Dict[str, float]] = {}

    def n_ops(self) -> int:
        """Whole cycles covering at least ``seconds`` at the nominal rate."""
        return math.ceil(self.seconds * self.nominal_rate / self.cycle) \
            * self.cycle

    def start_spark(self) -> None:
        import qbeast_spark_spark as qss

        self.spark = start_spark(self.work, traced=self.tracer.enabled)
        qss.register_data_source(self.spark)
        self.jobs = JobCounter(self.spark, f"op{self.seed}")
        if self.tracer.enabled:
            install_traced_calls(self.tracer)

    def setup_tracing_only(self) -> None:
        if self.tracer.enabled:
            install_traced_calls(self.tracer)

    # -- per op ------------------------------------------------------------

    def before_op(self, i: int, op: dict) -> None:
        """Bookkeeping before op ``i``, untimed, once per op."""

    def repeatable(self, op: dict) -> bool:
        """Whether running ``op`` again leaves the state and the answer
        as they were, so a stolen measurement can be taken again."""
        return False

    def agree(self, a, b) -> bool:
        """Whether two measurements of one op returned the same answer."""
        return a == b

    def begin_try(self, i: int, attempt: int) -> None:
        if self.jobs is not None:
            self.jobs.begin(i, attempt)

    def end_try(self) -> None:
        if self.jobs is not None:
            self.jobs.end()

    def run_op(self, i: int, op: dict):
        raise NotImplementedError

    def after_op(self, i: int, op: dict, rec: dict) -> None:
        """Bookkeeping after op ``i``, untimed; ``rec`` is the kept
        measurement."""
        if self.jobs is not None:
            rec["counts"] = self.jobs.counts(i, rec["try"])
            self.kept[i] = self.jobs.group(i, rec["try"])

    def rest_of(self, i: int) -> Dict[str, float]:
        """The traced run's REST stage and SQL metrics of op ``i``'s kept
        measurement. An op that ran Spark jobs must have some."""
        if not self.rest:
            self.rest = harvest_rest(self.spark)
            if not self.rest:
                raise RuntimeError("the Spark REST API returned no job "
                                   "group metrics")
        return self.rest.get(self.kept[i], {})

    # -- results -----------------------------------------------------------

    def verify(self, recs: List[dict]) -> Dict[int, str]:
        """op id -> why its result is wrong."""
        raise NotImplementedError

    def e2e_metrics(self, recs: List[dict], per_block) -> dict:
        """The workload-specific end-to-end metrics. ``per_block(f)`` is
        the median of ``f(block)`` over the run's whole cycles."""
        raise NotImplementedError

    def layer_metrics(self, recs: List[dict], tracer: Tracer) -> dict:
        """Per-layer metrics; every name in ``exercised`` must be among
        them and above 0."""
        raise NotImplementedError

    def exact_counts(self, recs: List[dict]) -> dict:
        """Counts that a fixed seed fixes exactly (detail line)."""
        return {}

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None

    # -- helpers -----------------------------------------------------------

    def kind_mean(self, recs, kinds, key) -> float:
        return mean(key(r) for r in recs if r["kind"] in kinds)

    @staticmethod
    def rate(block, rows) -> float:
        """Rows per second of op time over ``block``."""
        return sum(rows(r) for r in block) * 1e3 / sum(r["ms"] for r in block)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)
