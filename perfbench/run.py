#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a detail record (op mix, counts,
run-isolation evidence). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

from harness import (NCPU, Tracer, host_cpu, idle_gate,  # noqa: E402
                     loadavg1, peak_rss_mb, process_age_s, reap_descendants,
                     tree_cpu_s)

WORKLOADS = ("read_mix", "ingest_dml", "metadata_scale")


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload_class(name: str):
    if name == "read_mix":
        from wl_read_mix import ReadMix
        return ReadMix
    if name == "ingest_dml":
        from wl_ingest_dml import IngestDml
        return IngestDml
    if name == "metadata_scale":
        from wl_metadata_scale import MetadataScale
        return MetadataScale
    raise ValueError(f"unknown workload {name!r}")


# A measurement of an op counts as clean when the hypervisor stole at
# most this share of the machine's CPU time while it ran (/proc/stat
# counts steal in 10 ms ticks: one tick during a 200 ms op on 4 CPUs
# is 1.25%).
MAX_STEAL_SHARE = 0.02
# A stolen measurement of a repeatable op is taken again, at most this
# many more times, while the timed window is shorter than
# RETAKE_BUDGET x --seconds; the least stolen measurement is kept.
MAX_RETAKES = 2
RETAKE_BUDGET = 1.25


def measure(wl, i: int, op: dict, attempt: int, tracer: Tracer) -> dict:
    """One timed call of op ``i``; only the call itself is timed."""
    wl.begin_try(i, attempt)
    s0 = host_cpu()["steal_s"]
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    err = None
    try:
        with tracer.span("bench.op"):
            result = wl.run_op(i, op)
    except Exception:       # a failed op is counted, not fatal
        result, err = None, traceback.format_exc(limit=3)
    t1 = time.perf_counter()
    c1 = tree_cpu_s()
    steal_ms = (host_cpu()["steal_s"] - s0) * 1e3
    ms = (t1 - t0) * 1e3
    wl.end_try()
    return {"ms": ms, "cpu_ms": (c1 - c0) * 1e3, "steal_ms": steal_ms,
            "steal_share": steal_ms / (ms * NCPU), "try": attempt,
            "result": result, "ok": err is None, "error": err}


def timed_loop(wl, ops, tracer: Tracer, seconds: float):
    """Closed loop, one client: each op starts when the previous one
    returned. The benchmark's own bookkeeping runs between ops.

    Host steal decides which measurements count: a repeatable op
    (``wl.repeatable``) whose measurement was stolen is run again, within
    a bounded budget, and the least stolen measurement is kept. Every
    measurement must return the same result."""
    recs = []
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        tracer.op = i
        wl.before_op(i, op)
        tries, spans = [], []
        while not tries or (
                wl.repeatable(op) and tries[-1]["ok"]
                and tries[-1]["steal_share"] > MAX_STEAL_SHARE
                and len(tries) <= MAX_RETAKES
                and time.perf_counter() - t_start < RETAKE_BUDGET * seconds):
            first = len(tracer.spans)
            tries.append(measure(wl, i, op, len(tries), tracer))
            spans.append((first, len(tracer.spans)))
        best = min(tries, key=lambda t: t["steal_share"])
        for t, (a, b) in zip(tries, spans):
            if t is not best:
                tracer.discard(a, b)
        rec = {"id": i, "kind": op["kind"], **best, "tries": len(tries)}
        if not all(wl.agree(t["result"], best["result"])
                   for t in tries if t["ok"]):
            rec["ok"] = False
            rec["error"] = ("measurements disagree: "
                            f"{[t['result'] for t in tries]}")
        wl.after_op(i, op, rec)
        recs.append(rec)
    tracer.op = None
    return recs


def block_median(recs, size: int, value) -> float:
    """Median over consecutive blocks of ``size`` ops (whole cycles, so
    every block has the same op mix) of ``value(block)``: a burst of host
    contention moves one block, not the figure."""
    blocks = [recs[i:i + size] for i in range(0, len(recs), size)]
    return statistics.median(value(b) for b in blocks if len(b) == size)


def end_to_end(wl, recs, setup_s: float) -> dict:
    lat = [r["ms"] for r in recs]
    out = {
        "setup_s": setup_s,
        "op_p50_ms": float(np.percentile(lat, 50)),
        "op_p90_ms": float(np.percentile(lat, 90)),
        "ops_per_s": block_median(
            recs, wl.cycle, lambda b: len(b) * 1e3 / sum(r["ms"] for r in b)),
        # a mean over the whole run: /proc counts CPU in 10 ms ticks,
        # too coarse to take per cycle
        "cpu_ms_per_op": sum(r["cpu_ms"] for r in recs) / len(recs),
        "peak_rss_mb": peak_rss_mb(),
    }
    out.update(wl.e2e_metrics(recs, lambda value: block_median(
        recs, wl.cycle, value)))
    return out


def per_layer(wl, recs, tracer: Tracer) -> dict:
    n = len(recs)
    out = {f"self.{layer}_ms_per_op": ms / n
           for layer, ms in tracer.self_ms_by_layer().items()
           if layer != "bench"}
    lat = [r["ms"] for r in recs]
    out["trace.op_p50_ms"] = float(np.percentile(lat, 50))
    out["trace.cpu_ms_per_op"] = sum(r["cpu_ms"] for r in recs) / n
    out.update(wl.layer_metrics(recs, tracer))
    return out


def shape(metrics: dict, declared: list, fill_missing: bool) -> dict:
    """Attach units from BENCHMARK.json. Every metric produced must be
    declared there. A declared per-layer metric the workload does not
    exercise reads 0 (``fill_missing``); a missing end-to-end metric is
    a bug."""
    units = {m["name"]: m["unit"] for m in declared}
    extra = sorted(set(metrics) - set(units))
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {extra}")
    missing = sorted(set(units) - set(metrics))
    if missing and not fill_missing:
        raise KeyError(f"end-to-end metrics not produced: {missing}")
    return {name: {"value": float(metrics.get(name, 0.0)),
                   "unit": units[name]} for name in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the trace spans here "
                    "(JSON lines; --trace 1 only)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the program under test must be present in the checkout
    try:
        contract = load_contract()
        sys.path.insert(0, ROOT)
        import qbeast_spark_spark  # noqa: F401
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot run here: {e!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tracer = Tracer(enabled=bool(args.trace))
    wl = workload_class(args.workload)(args.seed, args.seconds, work,
                                       tracer)
    try:
        ops = wl.plan()
        wl.setup()
        setup_s = process_age_s()
        gate = idle_gate()
        ev0 = {"load1": loadavg1(), **host_cpu()}
        t0 = time.perf_counter()
        recs = timed_loop(wl, ops, tracer, args.seconds)
        window_s = time.perf_counter() - t0
        ev1 = {"load1": loadavg1(), **host_cpu()}
        wrong = wl.verify(recs)
        for r in recs:
            if r["ok"] and r["id"] in wrong:
                r["ok"], r["error"] = False, wrong[r["id"]]
        if args.trace:
            layer = per_layer(wl, recs, tracer)
            dead = sorted(n for n in wl.exercised
                          if not layer.get(n, 0.0) > 0.0)
            if dead:
                raise RuntimeError(f"per-layer metrics {args.workload} "
                                   f"exercises are missing or 0: {dead}")
            metrics = shape(layer, contract["per_layer"], fill_missing=True)
        else:
            metrics = shape(end_to_end(wl, recs, setup_s),
                            contract["end_to_end"], fill_missing=False)
        if args.spans and args.trace:
            tracer.dump(args.spans)
    finally:
        wl.close()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    failed = [r for r in recs if not r["ok"]]
    kinds = {}
    for r in recs:
        kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(recs), "op_kinds": kinds,
        "op_error_frac": len(failed) / len(recs),
        "errors": [{"id": r["id"], "kind": r["kind"],
                    "error": str(r["error"])[-400:]} for r in failed[:5]],
        "window_s": window_s, "setup_s": setup_s,
        "isolation": {
            "load1_start": ev0["load1"], "load1_end": ev1["load1"],
            "steal_s": ev1["steal_s"] - ev0["steal_s"],
            "steal_share": (ev1["steal_s"] - ev0["steal_s"])
            / (window_s * NCPU),
            "host_busy_s": ev1["busy_s"] - ev0["busy_s"], **gate,
            # measurements taken again because they were stolen, and kept
            # measurements still above the steal limit
            "retakes": sum(r["tries"] - 1 for r in recs),
            "ops_kept_stolen": sum(r["steal_share"] > MAX_STEAL_SHARE
                                   for r in recs)},
        "counts": wl.exact_counts(recs),
        "ops_ms": [round(r["ms"], 1) for r in recs],
        "ops_steal_ms": [round(r["steal_ms"]) for r in recs],
    }
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({"correct": not failed, "attempted": len(recs),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
