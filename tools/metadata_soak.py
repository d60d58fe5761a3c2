#!/usr/bin/env python
"""Metadata-plane soak: does the commit log survive 100-TB file counts?

The reference inherits Delta's parquet checkpoints and Spark-side log
replay (delta/src/main/scala/io/qbeast/spark/delta/
DeltaQbeastSnapshot.scala:45-297), so a 100-TB table with ~10^5-10^6
files never parses its whole file list on one core. This repo's log is
driver-side Python; this tool fabricates commit logs at increasing file
counts (no data files — metadata only) and measures the operations every
query/DML pays:

- snapshot construction (checkpoint seed + post-checkpoint replay)
- selective prune_files (the read path's planning step)
- worst-case prune_files (keep-everything predicate)
- sample_files at 1% and 10% (the sampling read path's planning step)
- checkpoint write + driver RSS

Each size runs in a SUBPROCESS so RSS numbers are clean. Output: one
JSON line per size; run with --md to print a SCALE.md-ready table.

The fabricated layout mirrors a real table: one 2-dim linear revision,
files in breadth-first cube order (1-2 blocks each, weights growing
with depth), per-file column-stats boxes derived from the cube region,
per-commit cubeWeights and cubeDomains, ~N_COMMITS commits with a checkpoint at the last
multiple of CHECKPOINT_INTERVAL (so replay = seed + a few JSON tails),
a sprinkle of remove+re-add rewrites, and DV descriptors on ~1% of
files.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_COMMITS = 103          # checkpoint at v100, 3-commit JSON tail
DOMAIN = 1_000_000.0     # x/y value domain for the linear revision


def _rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _bfs_cube(k: int, dims: int = 2):
    """File index -> (depth, path_int) in breadth-first cube order."""
    fanout = 1 << dims
    depth, level_start, level_size = 0, 0, 1
    while k >= level_start + level_size:
        level_start += level_size
        level_size *= fanout
        depth += 1
    return depth, k - level_start


def _cube_region(depth: int, path: int, dims: int = 2):
    """Same math as index/vectorized.cube_ranges, scalar."""
    frm = [0.0] * dims
    for level in range(depth):
        width = 2.0 ** -(level + 1)
        idx = (path >> (dims * level)) & ((1 << dims) - 1)
        for i in range(dims):
            if (idx >> i) & 1:
                frm[i] += width
    side = 2.0 ** -depth
    return frm, [f + side for f in frm]


def _depth_weights(depth: int, n_files: int, dims: int = 2):
    """(min, max) block weight of a cube at ``depth``: an OTree's
    weights grow with depth, so the range spans the fraction of files
    above this level to the fraction through it, and a fraction-f
    sample keeps about the shallowest f of the files."""
    from qbeast_spark_spark.core.weight import fraction_to_weight

    fanout = 1 << dims
    above = (fanout ** depth - 1) // (fanout - 1)
    through = above + fanout ** depth
    return (fraction_to_weight(min(1.0, above / n_files)),
            fraction_to_weight(min(1.0, through / n_files)))


def generate(table: str, n_files: int, fmt: str = "json") -> None:
    """Fabricate a commit log with ``n_files`` live files under
    ``table``/_qbeast_log, shaped like a real ingest history."""
    from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
    from qbeast_spark_spark.core.transform import LinearTransformation
    from qbeast_spark_spark.sources.log import (
        CHECKPOINT_INTERVAL, CommitLog, IndexFile, Block, Snapshot)

    log_dir = os.path.join(table, "_qbeast_log")
    os.makedirs(log_dir, exist_ok=True)
    rev = Revision(1, int(time.time() * 1000), 5_000_000,
                   [ColumnToIndex("x", ""), ColumnToIndex("y", "")],
                   [LinearTransformation(0.0, DOMAIN),
                    LinearTransformation(0.0, DOMAIN)],
                   ["bigint", "bigint"])
    schema = json.dumps({"type": "struct", "fields": [
        {"name": c, "type": "long", "nullable": True, "metadata": {}}
        for c in ("x", "y")]})

    # running snapshot state for the checkpoint (objects are transient —
    # the MEASURED path reads only what this generator writes to disk)
    snap = Snapshot(table)
    ckpt_version = ((N_COMMITS - 1) // CHECKPOINT_INTERVAL) \
        * CHECKPOINT_INTERVAL
    per_commit = max(1, n_files // N_COMMITS)
    fid = 0
    for v in range(N_COMMITS):
        adds, weights, domains = [], {}, {}
        want = per_commit if v < N_COMMITS - 1 else n_files - fid
        for _ in range(max(0, want)):
            depth, path = _bfs_cube(fid)
            frm, to = _cube_region(depth, path)
            cube = f"{depth}:{path:x}"
            lo, hi = _depth_weights(depth, n_files)
            blocks = [Block(cube, lo, hi, 5_000_000)]
            if fid % 3 == 0 and depth > 0:     # rollup: parent tail block
                pd_, pp = depth - 1, path & ((1 << (2 * (depth - 1))) - 1)
                blocks.append(Block(f"{pd_}:{pp:x}",
                                    *_depth_weights(pd_, n_files), 250_000))
            f = IndexFile(
                path=f"{uuid.uuid5(uuid.NAMESPACE_URL, str(fid)).hex}.parquet",
                size=120 << 20, rows=5_250_000, revision_id=1,
                blocks=blocks,
                column_stats={"x": [frm[0] * DOMAIN, to[0] * DOMAIN],
                              "y": [frm[1] * DOMAIN, to[1] * DOMAIN]},
                dv=({"storageType": "u", "pathOrInlineDv": "ab" + "0" * 20,
                     "offset": 1, "sizeInBytes": 40, "cardinality": 1000}
                    if fid % 100 == 7 else None))
            adds.append(f)
            weights[cube] = hi
            domains[cube] = 5_000_000.0
            fid += 1
        removes = []
        if v % 10 == 5 and snap.files:          # occasional rewrite
            victim = next(iter(snap.files))
            removes.append(victim)
        payload = {
            "timestamp": int(time.time() * 1000) + v,
            "writerNonce": uuid.uuid4().hex,
            "operation": "WRITE", "dataChange": True, "resetStats": False,
            "add": [f.to_json() for f in adds],
            "remove": removes,
            "revisions": ({"1": rev.to_json()} if v == 0 else {}),
            "cubeWeights": {"1": weights} if weights else {},
            "cubeDomains": {"1": domains} if domains else {},
            "schema": schema if v == 0 else None,
            "properties": ({"qbeast.checkpoint.format": fmt}
                           if v == 0 else {}),
            "txn": None, "cdc": None, "protocol": None,
        }
        with open(os.path.join(log_dir, f"{v:012d}.json"), "w") as fh:
            json.dump(payload, fh, sort_keys=True)
        # mirror replay into the running snapshot
        for p in removes:
            snap.files.pop(p, None)
        for f in adds:
            snap.files[f.path] = f
        if v == 0:
            snap.revisions[1] = rev
            snap.schema_json = schema
            snap.properties["qbeast.checkpoint.format"] = fmt
        dstw = snap.cube_weights.setdefault(1, {})
        for c, w in weights.items():
            dstw[c] = min(dstw.get(c, w), w)
        dstd = snap.cube_domains.setdefault(1, {})
        for c, d in domains.items():
            dstd[c] = dstd.get(c, 0.0) + d
        snap.version = v
        if v == ckpt_version:
            CommitLog(table)._write_checkpoint(snap)


def measure_one(n_files: int, keep: str = None,
                fmt: str = "json") -> dict:
    from qbeast_spark_spark.sources.log import CommitLog
    from qbeast_spark_spark.sources.reader import prune_files, sample_files

    table = keep or tempfile.mkdtemp(prefix=f"qmeta_{n_files}_")
    out = {"files": n_files, "format": fmt}
    t0 = time.perf_counter()
    generate(table, n_files, fmt=fmt)
    out["gen_s"] = round(time.perf_counter() - t0, 3)
    out["log_mb"] = round(sum(
        os.path.getsize(os.path.join(table, "_qbeast_log", p))
        for p in os.listdir(os.path.join(table, "_qbeast_log"))) / 2**20, 1)

    rss0 = _rss_mb()
    log = CommitLog(table)
    t0 = time.perf_counter()
    snap = log.snapshot()
    out["snapshot_s"] = round(time.perf_counter() - t0, 3)
    out["rss_after_snapshot_mb"] = round(_rss_mb(), 1)
    out["rss_delta_mb"] = round(_rss_mb() - rss0, 1)
    out["live_files"] = len(snap.files)

    # selective box: the 100-TB read-path shape — most files pruned
    box = [("x", ">=", 0.49 * DOMAIN), ("x", "<=", 0.51 * DOMAIN),
           ("y", ">=", 0.49 * DOMAIN), ("y", "<=", 0.51 * DOMAIN)]
    t0 = time.perf_counter()
    kept = prune_files(snap, box)
    out["prune_selective_s"] = round(time.perf_counter() - t0, 3)
    out["prune_selective_kept"] = len(kept)
    t0 = time.perf_counter()
    kept_all = prune_files(snap, [("x", ">=", 0.0)])
    out["prune_keepall_s"] = round(time.perf_counter() - t0, 3)
    out["prune_keepall_kept"] = len(kept_all)
    for pct in (1, 10):
        t0 = time.perf_counter()
        sampled = sample_files(snap, pct / 100.0)
        out[f"sample_{pct}pct_s"] = round(time.perf_counter() - t0, 3)
        out[f"sample_{pct}pct_kept"] = len(sampled)

    # auto_maintain's policy threshold check (maintenance.py): on a
    # kernel-backed snapshot this must be O(arrays), never the
    # materialize-all object cost — the streaming sink pays it every
    # maintain_every batches (VERDICT r9 Next #1).
    from qbeast_spark_spark.sources import maintenance as mnt
    t0 = time.perf_counter()
    mnt._staging_rows(snap)
    mnt._live_revisions(snap)
    mnt._small_file_count(snap, 32 * 2**20)
    out["maintain_tallies_s"] = round(time.perf_counter() - t0, 3)
    out["maintain_kept_kernel"] = \
        getattr(snap.files, "kernel", None) is not None

    t0 = time.perf_counter()
    log._write_checkpoint(snap)
    out["checkpoint_write_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    log._seed_from_checkpoint(snap.version)
    out["checkpoint_seed_s"] = round(time.perf_counter() - t0, 3)

    # DML planning proxies: full-key list + live-row sum. On a
    # kernel-backed snapshot values() MATERIALIZES every IndexFile —
    # the deferred object cost a whole-table write path would pay.
    t0 = time.perf_counter()
    _ = list(snap.files.keys())
    out["keys_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    _ = sum(f.live_rows for f in snap.files.values())
    out["dml_scan_proxy_s"] = round(time.perf_counter() - t0, 3)
    out["rss_peak_mb"] = round(_rss_mb(), 1)
    if not keep:
        shutil.rmtree(table, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,50000,200000")
    ap.add_argument("--one", type=int, help="internal: run one size")
    ap.add_argument("--keep", help="keep the generated table at this path")
    ap.add_argument("--md", action="store_true",
                    help="print a SCALE.md-ready table")
    ap.add_argument("--format", default="json",
                    choices=["json", "parquet", "auto"])
    args = ap.parse_args()
    if args.one:
        print(json.dumps(measure_one(args.one, keep=args.keep,
                                     fmt=args.format)))
        return
    rows = []
    for n in [int(s) for s in args.sizes.split(",")]:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", str(n),
             "--format", args.format]
            + (["--keep", args.keep + f"_{n}"] if args.keep else []),
            capture_output=True, text=True, check=True)
        row = json.loads(p.stdout.strip().splitlines()[-1])
        rows.append(row)
        print(json.dumps(row), flush=True)
    if args.md and rows:
        cols = ["files", "format", "live_files", "log_mb", "snapshot_s",
                "rss_delta_mb", "prune_selective_s",
                "prune_selective_kept", "prune_keepall_s",
                "sample_1pct_s", "sample_10pct_s",
                "checkpoint_write_s", "checkpoint_seed_s",
                "dml_scan_proxy_s"]
        print("| " + " | ".join(cols) + " |")
        print("|" + "---|" * len(cols))
        for r in rows:
            print("| " + " | ".join(str(r.get(c)) for c in cols) + " |")


if __name__ == "__main__":
    main()
