"""metadata_scale: the commit log and pruning at file-count scale.

Driver-only: no Spark session, no Spark job. Set-up fabricates two
logs through ``CommitLog.commit`` (perfbench/metalog.py):

- ``large``: 10^5 files, so the default ``auto`` checkpoint format
  writes a parquet checkpoint and snapshots are columnar;
- ``small``: 5x10^3 files, below the 10^4 bar, so a JSON checkpoint and
  plain objects.

The timed ops are cold ``CommitLog(path).snapshot()`` (every read pays
it), ``prune_files`` with seeded boxes of 10^-4..10^-1 selectivity plus a
keep-all predicate, ``sample_files(f)``, and a one-file commit every
cycle, so the JSON tail grows and each log passes a checkpoint. Every
prune and sample answer is checked against a brute-force box or weight
test over the generator's known per-file bounds.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List

import numpy as np

from base import Workload, mean
from harness import dir_bytes
from metalog import DOMAIN, MetaLog

TABLES = {"large": 100_000, "small": 5_000}
PER_TABLE = ["snapshot", "prune", "prune", "prune", "keepall", "sample"]
FRACTIONS = (0.001, 0.01, 0.1)
# the three prune boxes of a cycle draw one selectivity from each band
# (log10), and sample fractions rotate, so every cycle does the same work
SEL_BANDS = ((-4.0, -3.0), (-3.0, -2.0), (-2.0, -1.0))


def make_plan(seed: int, n_ops: int) -> List[dict]:
    rng = np.random.default_rng([seed, 4])
    cycle = [(t, k) for t in TABLES for k in PER_TABLE] + [(None, "commit")]
    ops: List[dict] = []
    c = 0
    while len(ops) < n_ops:
        band = {t: 0 for t in TABLES}
        for j in rng.permutation(len(cycle)):
            table, kind = cycle[j]
            if kind == "commit":    # the two logs take turns
                table = list(TABLES)[c % len(TABLES)]
            op = {"kind": kind, "table": table}
            if kind == "prune":
                sel = 10 ** rng.uniform(*SEL_BANDS[band[table]])
                band[table] += 1
                side = np.sqrt(sel) * DOMAIN
                x0, y0 = rng.uniform(0, DOMAIN - side, 2)
                op["box"] = [float(x0), float(x0 + side),
                             float(y0), float(y0 + side)]
            elif kind == "sample":
                op["fraction"] = FRACTIONS[c % len(FRACTIONS)]
            ops.append(op)
        c += 1
    return ops[:n_ops]


def box_filters(box) -> List[tuple]:
    x0, x1, y0, y1 = box
    return [("x", ">=", x0), ("x", "<=", x1), ("y", ">=", y0),
            ("y", "<=", y1)]


class MetadataScale(Workload):
    nominal_rate = 24.0
    cycle = len(TABLES) * len(PER_TABLE) + 1
    exercised = frozenset({
        "log.snapshot_ms", "log.commit_ms", "log.log_mb_written",
        "reader.prune_ms", "reader.sample_files_ms",
        "reader.files_selected_frac", "reader.mb_selected",
        "self.log_ms_per_op", "self.reader_ms_per_op",
        "trace.op_p50_ms", "trace.cpu_ms_per_op",
    })

    def plan(self) -> List[dict]:
        self.ops = make_plan(self.seed, self.n_ops())
        return self.ops

    def setup(self) -> None:
        from qbeast_spark_spark.sources.log import CommitLog

        self.logs: Dict[str, MetaLog] = {}
        self.snap = {}
        for name, n in TABLES.items():
            ml = MetaLog(self.path(name), n, self.seed)
            ml.generate()
            self.logs[name] = ml
            self.snap[name] = CommitLog(ml.table).snapshot()
        self.log_before = {n: dir_bytes(os.path.join(ml.table, "_qbeast_log"))
                           for n, ml in self.logs.items()}
        self.setup_tracing_only()

    # -- ops ---------------------------------------------------------------

    def repeatable(self, op: dict) -> bool:
        return op["kind"] != "commit"

    def before_op(self, i: int, op: dict) -> None:
        if op["kind"] == "commit":
            self.pending = self.logs[op["table"]].one_file()

    def run_op(self, i: int, op: dict):
        from qbeast_spark_spark.sources.log import CommitLog
        from qbeast_spark_spark.sources.reader import QbeastTable, prune_files

        ml = self.logs[op["table"]]
        kind = op["kind"]
        if kind == "snapshot":
            s = CommitLog(ml.table).snapshot()
            return [s.version, len(s.files)]
        snap = self.snap[op["table"]]
        if kind == "prune":
            return sorted(prune_files(snap, box_filters(op["box"])))
        if kind == "keepall":
            return sorted(prune_files(snap, [("x", ">=", 0.0)]))
        if kind == "sample":
            return sorted(QbeastTable(None, ml.table).sample_files(
                op["fraction"], snap=snap))
        files, w, d = self.pending
        return ml.commit(CommitLog(ml.table), files, w, d)

    def after_op(self, i: int, op: dict, rec: dict) -> None:
        from qbeast_spark_spark.core.weight import fraction_to_weight
        from qbeast_spark_spark.sources.log import CommitLog

        ml = self.logs[op["table"]]
        tr, kind = ml.truth, op["kind"]
        if kind == "commit":
            files = self.pending[0]
            rec["user_bytes"] = sum(len(json.dumps(f.to_json()))
                                    for f in files)
            with self.tracer.paused():
                self.snap[op["table"]] = CommitLog(ml.table).snapshot()
            rec["expected"] = tr.version
            sel = np.zeros(len(tr.paths), bool)
        elif kind == "snapshot":
            rec["expected"] = [tr.version, tr.live()]
            sel = np.zeros(len(tr.paths), bool)
        else:
            if kind == "prune":
                sel = tr.box(*op["box"])
            elif kind == "keepall":
                sel = tr.alive.copy()
            else:
                sel = tr.sampled(fraction_to_weight(op["fraction"]))
            rec["expected"] = tr.names(sel)
        rec["selected_frac"] = sel.sum() / tr.live()
        rec["mb"] = float(tr.size[sel].sum()) / 2**20
        rec["rows"] = int(tr.rows[sel].sum())

    # -- oracle and metrics --------------------------------------------------

    def verify(self, recs: List[dict]) -> Dict[int, str]:
        wrong = {}
        for r in recs:
            if r["ok"] and r["result"] != r["expected"]:
                got, want = r["result"], r["expected"]
                if isinstance(want, list) and want and isinstance(want[0],
                                                                  str):
                    got, want = set(got), set(want)
                    wrong[r["id"]] = (f"{len(got - want)} extra, "
                                      f"{len(want - got)} missing files")
                else:
                    wrong[r["id"]] = f"got {got}, expected {want}"
        self.log_after = {n: dir_bytes(os.path.join(ml.table, "_qbeast_log"))
                          for n, ml in self.logs.items()}
        return wrong

    def log_bytes_written(self) -> int:
        return sum(self.log_after[n] - self.log_before[n] for n in self.logs)

    def e2e_metrics(self, recs, per_block) -> dict:
        return {
            "scan_mb_per_op": mean(r["mb"] for r in recs),
            "rows_per_s": per_block(lambda b: self.rate(
                b, lambda r: r["rows"])),
            # log bytes written per byte of the add actions committed
            "write_amp": self.log_bytes_written()
            / max(1, sum(r.get("user_bytes", 0) for r in recs)),
        }

    def layer_metrics(self, recs, tracer) -> dict:
        planned = [r for r in recs
                   if r["kind"] in ("prune", "keepall", "sample")]
        return {
            "log.snapshot_ms": mean(tracer.durations_ms("log.snapshot")),
            "log.commit_ms": mean(tracer.durations_ms("log.commit")),
            "log.log_mb_written": self.log_bytes_written() / 2**20,
            "reader.prune_ms": mean(tracer.durations_ms("reader.prune")),
            "reader.sample_files_ms":
                mean(tracer.durations_ms("reader.sample_files")),
            "reader.files_selected_frac":
                mean(r["selected_frac"] for r in planned),
            "reader.mb_selected": mean(r["mb"] for r in planned),
        }

    def exact_counts(self, recs) -> dict:
        return {
            "files_selected": sum(len(r["expected"]) for r in recs
                                  if r["kind"] in ("prune", "keepall",
                                                   "sample")),
            "scan_mb_total": sum(r["mb"] for r in recs),
            "log_bytes_written": self.log_bytes_written(),
            "versions": {n: ml.truth.version for n, ml in self.logs.items()},
        }
