#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and summarise the spread.

    python3 perfbench/steadiness.py --workloads read_mix,ingest_dml \\
        --seeds 1-10 --seconds 15 --out steadiness.json

For every workload and end-to-end metric: median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the quartile spread
as a share of the median, and max/min. ``--same-seed N`` also runs seed
1 N times and reports whether the exact counts repeated. ``--traced N``
adds N traced runs (seeds from the start of the range) and reports the
tracing overhead against the untraced runs of the same seeds. Every run's
isolation evidence (load, steal) is kept in the report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: "
                           f"{p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["detail"] = json.loads(lines[-2])["detail"]
    out["wall_s"] = time.perf_counter() - t0
    return out


def summary(values) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "max_over_min": max(values) / min(values) if min(values)
            else float("inf"), "values": values}


def seeds_of(spec: str):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default="read_mix,ingest_dml,metadata_scale")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--same-seed", type=int, default=0)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    seconds = args.seconds or contract["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in contract["end_to_end"]}
    report = {"seconds": seconds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = [run_once(wl, s, seconds, 0) for s in seeds_of(args.seeds)]
        metrics = {}
        for name in bounds:
            s = summary([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds[name]
            s["within_third_of_bound"] = s["spread"] < bounds[name] / 3
            metrics[name] = s
        entry = {
            "metrics": metrics,
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": summary([r["wall_s"] for r in runs]),
            "isolation": [dict(seed=r["detail"]["seed"],
                               **r["detail"]["isolation"]) for r in runs],
            "ops": [{"ms": r["detail"]["ops_ms"],
                     "steal_ms": r["detail"]["ops_steal_ms"]} for r in runs],
            "counts": [r["detail"]["counts"] for r in runs],
        }
        if args.same_seed:
            again = [run_once(wl, 1, seconds, 0)
                     for _ in range(args.same_seed)]
            counts = [r["detail"]["counts"] for r in again]
            entry["same_seed_counts_identical"] = all(
                c == counts[0] for c in counts)
            entry["same_seed_counts"] = counts[0]
        if args.traced:
            traced = [run_once(wl, s, seconds, 1)
                      for s in seeds_of(args.seeds)[:args.traced]]
            base = runs[:args.traced]

            def med(rs, name):
                return statistics.median(r["metrics"][name]["value"]
                                         for r in rs)
            entry["tracing_overhead"] = {
                "op_p50": med(traced, "trace.op_p50_ms")
                / med(base, "op_p50_ms") - 1,
                "cpu_per_op": med(traced, "trace.cpu_ms_per_op")
                / med(base, "cpu_ms_per_op") - 1,
            }
            entry["traced_metrics"] = {
                k: statistics.median(r["metrics"][k]["value"]
                                     for r in traced)
                for k in traced[0]["metrics"]}
        report["workloads"][wl] = entry
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
        for name, s in metrics.items():
            print(f"{wl:15s} {name:15s} median {s['median']:.6g} "
                  f"spread {s['spread']:.4f} bound {s['bound']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
