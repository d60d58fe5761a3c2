"""Format-2 (columnar) checkpoints + the FileKernel/LazyFiles metadata
plane (sources/metadata.py) — the 100-TB-file-count path.

The reference never materializes per-file objects on one core at high
file counts (Delta parquet checkpoints + Spark-side replay,
delta/src/main/scala/io/qbeast/spark/delta/DeltaQbeastSnapshot.scala:
45-297); these tests pin that this engine's parquet checkpoint yields
snapshots IDENTICAL to the JSON path — same files, same prune sets,
same reads — while keeping the file state columnar until a write path
genuinely needs objects."""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from conftest import load
from qbeast_spark_spark.sources.log import CommitLog
from qbeast_spark_spark.sources.metadata import FileKernel, LazyFiles
from qbeast_spark_spark.sources.reader import prune_files


def _build_fmt2_table(spark, path, n_commits=11):
    """Real indexed table whose log ends in a format-2 checkpoint:
    write n_commits appends with the parquet checkpoint format forced,
    crossing the CHECKPOINT_INTERVAL=10 boundary."""
    li = load(spark, "lineitem").limit(3000)
    qss.write(li, path, columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, path)
    qt.set_properties({"qbeast.checkpoint.format": "parquet"})
    chunk = li.limit(200)
    for _ in range(n_commits - 2):
        qss.write(chunk, path, columns_to_index=["l_orderkey",
                                                 "l_extendedprice"],
                  cube_size=500)
    return qt, li


# The default 11-commit table is IDENTICAL for every test (deterministic
# writes over deterministic data) but was rebuilt per test — 15 x 11
# Spark write jobs ≈ 2 minutes of the suite's budget (the driver's
# single-process run overran it in r11). Build it once per process and
# copytree per test: the log stores relative file paths, so the copy is
# a fully independent, mutation-safe table (relocatability asserted the
# first time by a count over the clone).
_FMT2_BASE: dict = {}


def _clone_fmt2(spark, dst):
    import shutil as _shutil
    import tempfile as _tempfile

    base = _FMT2_BASE.get("path")
    if base is None:
        base = os.path.join(
            _tempfile.mkdtemp(prefix="qbeast_fmt2_base_"), "t")
        _build_fmt2_table(spark, base)
        _FMT2_BASE["path"] = base
        _FMT2_BASE["rows"] = qss.QbeastTable.for_path(spark, base) \
            .to_df().count()
    _shutil.copytree(base, dst)
    qt = qss.QbeastTable.for_path(spark, dst)
    if not _FMT2_BASE.get("reloc_checked"):
        assert qt.to_df().count() == _FMT2_BASE["rows"]
        _FMT2_BASE["reloc_checked"] = True
    return qt, load(spark, "lineitem").limit(3000)


def test_format2_checkpoint_real_table(spark, tmp_table):
    qt, li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    metas = [p for p in os.listdir(log_dir)
             if p.endswith(".checkpoint.meta.json")]
    assert metas, "no format-2 checkpoint written"
    v = metas[-1].split(".")[0]
    assert os.path.exists(os.path.join(log_dir, v + ".checkpoint.parquet"))
    assert os.path.exists(
        os.path.join(log_dir, v + ".checkpoint.state.parquet"))
    # the pointer names format 2 and the legacy single-JSON is absent at
    # this version (so a legacy engine falls back to full replay)
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh)["format"] == 2
    assert not os.path.exists(os.path.join(log_dir, v + ".checkpoint.json"))
    # snapshot is kernel-backed and reads are exact
    snap = qt.snapshot(refresh=True)
    assert getattr(snap.files, "kernel", None) is not None
    expect = 3000 + 200 * 9
    assert qt.to_df().count() == expect
    got = qt.read([("l_orderkey", "<", 500)]).count()
    want = (li.where("l_orderkey < 500").count()
            + 9 * li.limit(200).where("l_orderkey < 500").count())
    assert got == want


def test_format2_snapshot_equals_full_replay(spark, tmp_table):
    """A format-2 seeded snapshot must equal the no-checkpoint full JSON
    replay — the exact state a legacy (pre-format-2) engine would build,
    since it cannot see the parquet checkpoint at all."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log = CommitLog(tmp_table)
    seeded = log.snapshot()
    assert getattr(seeded.files, "kernel", None) is not None
    # legacy view: no usable checkpoint -> replay every commit JSON
    os.remove(os.path.join(tmp_table, "_qbeast_log", "_last_checkpoint"))
    legacy = CommitLog(tmp_table).snapshot()
    assert getattr(legacy.files, "kernel", None) is None
    assert sorted(seeded.files.keys()) == sorted(legacy.files.keys())
    a = {p: f.to_json() for p, f in seeded.files.items()}
    b = {p: f.to_json() for p, f in legacy.files.items()}
    assert a == b
    assert seeded.cube_weights == legacy.cube_weights
    assert seeded.cube_domains == legacy.cube_domains
    assert seeded.txns == legacy.txns
    assert seeded.version == legacy.version


def test_kernel_prune_equals_object_path(spark, tmp_table):
    """prune_files over the kernel == prune_files over materialized
    IndexFiles, across filter shapes (ranges, =, in, strings on
    non-indexed columns, unknown columns)."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log = CommitLog(tmp_table)
    kernel_snap = log.snapshot()
    assert getattr(kernel_snap.files, "kernel", None) is not None
    object_snap = log.snapshot()
    object_snap.files = dict(
        (p, f) for p, f in object_snap.files.items())  # materialize
    rng = random.Random(7)
    cases = [
        [("l_orderkey", ">=", 100), ("l_orderkey", "<", 900)],
        [("l_extendedprice", ">", 30000.0)],
        [("l_orderkey", "=", 1)],
        [("l_orderkey", "in", [1, 2, 3])],
        [("l_returnflag", "=", "A")],          # string stats column
        [("l_returnflag", "in", ["N"])],
        [("l_shipdate", ">", "1995-01-01")],   # non-indexed, maybe-stat
        [("no_such_col", ">", 5)],
        [("l_orderkey", "in", [])],            # empty IN excludes all
        [("l_orderkey", ">", "zzz")],          # cross-type: never prunes
        # adversarial literals: NaN / +-inf against float stats
        [("l_extendedprice", ">", float("nan"))],
        [("l_extendedprice", "=", float("nan"))],
        [("l_quantity", "<=", float("nan"))],
        [("l_extendedprice", "<", float("inf"))],
        [("l_extendedprice", ">", float("inf"))],
        [("l_quantity", ">=", float("-inf"))],
        [("l_quantity", "<", float("-inf"))],
        [("l_quantity", "in", [float("nan"), float("-inf")])],
        # ints beyond float64's exact range, against int and float stats
        [("l_orderkey", ">", 2 ** 53 + 1)],
        [("l_orderkey", "<", 2 ** 63 + 5)],
        [("l_orderkey", "=", -(2 ** 64))],
        [("l_extendedprice", "<", 2 ** 53 + 1)],
        [("l_quantity", ">", 2 ** 53 + 1)],
        [("l_quantity", "<=", -(2 ** 60) - 1)],
        [("l_quantity", "in", [2 ** 60 + 1, 5])],
        # None literals
        [("l_orderkey", "=", None)],
        [("l_quantity", ">", None)],
        [("l_returnflag", "in", [None, "A"])],
        # mixed int/str IN
        [("l_orderkey", "in", [1, "x"])],
        [("l_orderkey", "in", ["x", -5])],
        [("l_returnflag", "in", ["A", 1])],
        # bool literals
        [("l_orderkey", "=", True)],
        [("l_quantity", ">", False)],
        [("l_discount", "<=", True)],
        [("l_returnflag", "=", True)],
    ]
    for _ in range(30):
        lo = rng.randint(0, 5000)
        cases.append([("l_orderkey", ">=", lo),
                      ("l_orderkey", "<=", lo + rng.randint(0, 2000)),
                      ("l_extendedprice", ">=",
                       float(rng.randint(0, 60000)))])
    for filt in cases:
        a = prune_files(kernel_snap, filt)
        b = prune_files(object_snap, filt)
        assert a == b, (filt, len(a), len(b))


def test_kernel_sample_files_equal(spark, tmp_table):
    qt, _li = _clone_fmt2(spark, tmp_table)
    snap = qt.snapshot(refresh=True)
    assert getattr(snap.files, "kernel", None) is not None
    # object path: same snapshot, materialized
    mat = CommitLog(tmp_table).snapshot()
    mat.files = {p: x for p, x in mat.files.items()}
    for f, lb in ((0.01, 0.0), (0.1, 0.0), (0.5, 0.0), (1.0, 0.0),
                  (0.1, 0.05), (0.5, 0.2), (1.0, 0.5), (0.3, 0.29)):
        kern = set(qt.sample_files(f, lb, snap=snap))
        obj = set(qt.sample_files(f, lb, snap=mat))
        assert kern == obj, (f, lb)


def test_lazy_files_contract(spark, tmp_table):
    """Single-key ops, membership, len, and key iteration never
    materialize; values()/items() do — and every op stays correct in
    both regimes."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    snap = CommitLog(tmp_table).snapshot()
    lf = snap.files
    assert isinstance(lf, LazyFiles)
    n = len(lf)
    keys = list(lf.keys())
    assert len(keys) == n and len(set(keys)) == n
    k0 = keys[0]
    assert k0 in lf
    f0 = lf[k0]
    assert f0.path == k0 and f0.rows > 0
    assert lf.get("nope") is None and "nope" not in lf
    with pytest.raises(KeyError):
        lf["nope"]
    # kernel-side mutation: overwrite + delete without materializing
    popped = lf.pop(k0)
    assert popped.path == k0 and k0 not in lf and len(lf) == n - 1
    lf[k0] = popped
    assert k0 in lf and len(lf) == n
    assert lf.kernel is not None, "still columnar after key ops"
    # whole-collection read materializes, identically
    items = dict(lf.items())
    assert lf.kernel is None
    assert len(items) == n and items[k0].to_json() == popped.to_json()


def test_format2_dml_and_optimize_roundtrip(spark, tmp_table):
    """Write paths (DELETE, optimize) work on kernel-backed snapshots —
    they materialize where needed and the next checkpoint round-trips
    through the columnar writer."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    before = qt.to_df().count()
    out = qt.delete([("l_orderkey", "<", 100)])
    assert qt.to_df().count() == before - out["rows_deleted"]
    qt.optimize()
    snap = qt.snapshot(refresh=True)
    assert qt.to_df().count() == before - out["rows_deleted"]
    # keep appending to force the NEXT checkpoint from a mutated kernel
    li = load(spark, "lineitem").limit(100)
    for _ in range(12):
        qss.write(li, tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=500)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    metas = sorted(p for p in os.listdir(log_dir)
                   if p.endswith(".checkpoint.meta.json"))
    assert len(metas) >= 2, "no second format-2 checkpoint"
    # seeded state still equals a full legacy replay
    seeded = CommitLog(tmp_table).snapshot()
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    legacy = CommitLog(tmp_table).snapshot()
    a = {p: f.to_json() for p, f in seeded.files.items()}
    b = {p: f.to_json() for p, f in legacy.files.items()}
    assert a == b


def test_auto_threshold_keeps_small_tables_json(spark, tmp_table):
    """Default (auto) format: small tables keep the single-JSON
    checkpoint — no parquet artifacts appear."""
    li = load(spark, "lineitem").limit(500)
    qss.write(li, tmp_table, columns_to_index=["l_orderkey"],
              cube_size=200)
    for _ in range(11):
        qss.write(li.limit(50), tmp_table,
                  columns_to_index=["l_orderkey"], cube_size=200)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    names = os.listdir(log_dir)
    assert any(p.endswith(".checkpoint.json") for p in names)
    assert not any(p.endswith(".checkpoint.meta.json") for p in names)
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh)["format"] == 1


def test_vacuum_ages_out_superseded_checkpoints(spark, tmp_table):
    """Superseded checkpoints (both formats) are O(#files) derived
    state and must age out with vacuum; the pointer target survives,
    and pre-checkpoint time travel still replays exactly."""
    qt, _li = _build_fmt2_table(spark, tmp_table, n_commits=22)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    cpts = sorted(p for p in os.listdir(log_dir) if ".checkpoint." in p)
    assert len({p.split(".")[0] for p in cpts}) >= 2, cpts
    last = max(int(p.split(".")[0]) for p in cpts)
    # age everything past retention, then vacuum with zero retention
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    old_ckpts = [v for v in victims if ".checkpoint." in v]
    assert old_ckpts, "no superseded checkpoint selected"
    assert all(int(os.path.basename(v).split(".")[0]) < last
               for v in old_ckpts)
    before = qt.snapshot(refresh=True)
    qt.vacuum(retention_hours=0.0)
    remaining = [p for p in os.listdir(log_dir) if ".checkpoint." in p]
    assert {int(p.split(".")[0]) for p in remaining} == {last}
    # current snapshot unchanged; pre-checkpoint time travel replays
    after = CommitLog(tmp_table).snapshot()
    assert sorted(after.files.keys()) == sorted(before.files.keys())
    tt = CommitLog(tmp_table).snapshot(at_version=5)
    assert tt.version == 5 and len(tt.files) > 0


def test_format2_concurrent_appends_consistent(spark, tmp_table):
    """Racing appends on a format-2 table across checkpoint boundaries:
    every commit lands exactly once, the checkpoint pointer stays
    usable (last-writer-wins is safe — checkpoints are derived state),
    and the final snapshot equals a full JSON replay."""
    import threading

    li = load(spark, "lineitem").limit(1000)
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.set_properties({"qbeast.checkpoint.format": "parquet"})
    chunk = li.limit(100)
    errs = []

    def appender(i):
        try:
            for _ in range(6):
                qss.write(chunk, tmp_table,
                          columns_to_index=["l_orderkey",
                                            "l_extendedprice"],
                          cube_size=500)
        except Exception as e:      # pragma: no cover
            errs.append((i, e))

    ts = [threading.Thread(target=appender, args=(i,)) for i in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert qt.to_df().count() == 1000 + 18 * 100
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    assert any(p.endswith(".checkpoint.meta.json")
               for p in os.listdir(log_dir))
    seeded = CommitLog(tmp_table).snapshot()
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    legacy = CommitLog(tmp_table).snapshot()
    assert {p: f.to_json() for p, f in seeded.files.items()} \
        == {p: f.to_json() for p, f in legacy.files.items()}


def test_kernel_nan_and_half_null_stats_never_prune(spark, tmp_path):
    """r9 review (confirmed): float NaN bounds and half-null stat pairs
    must read back as ABSENT stats (never prune) — the scalar path's
    NaN comparisons are all False, and a NaN smuggled through a fill
    value as 0.0 would prune files that hold matching rows."""
    import numpy as np

    from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
    from qbeast_spark_spark.core.transform import LinearTransformation
    from qbeast_spark_spark.sources.log import Block, IndexFile, Snapshot
    from qbeast_spark_spark.sources.metadata import (FileKernel, LazyFiles,
                                                     _files_arrow_table)
    import pyarrow.parquet as pq

    files = {
        "a.parquet": IndexFile("a.parquet", 1, 10, 1,
                               [Block("0:0", 0, 2 ** 30, 10)],
                               {"x": [1.0, float("nan")],
                                "y": [5, 9]}),
        "b.parquet": IndexFile("b.parquet", 1, 10, 1,
                               [Block("0:0", 0, 2 ** 30, 10)],
                               {"x": [2.0, 3.0], "y": [None, 4]}),
    }
    fp = str(tmp_path / "files.parquet")
    t = _files_arrow_table(files, None)
    pq.write_table(t, fp)
    k = FileKernel.from_parquet(fp)
    kind, mns, mxs, present = k.stats["x"]
    assert kind == "f" and not present[0] and present[1]
    kind_y, _m, _x, present_y = k.stats["y"]
    assert not present_y[1], "half-null pair must be absent"
    snap = Snapshot(str(tmp_path))
    snap.files = LazyFiles(k)
    snap.revisions = {1: Revision(1, 0, 100, [ColumnToIndex("z", "")],
                                  [LinearTransformation(0.0, 1.0)],
                                  ["double"])}
    # '=' probe far outside the NaN file's [1.0, NaN->0.0] corrupted
    # range: with the fix the file has NO x stats and must survive
    kept = prune_files(snap, [("x", "=", 5.0)])
    assert "a.parquet" in kept
    # b's y=[None,4]: half pair, must survive a y probe as well
    kept2 = prune_files(snap, [("y", ">", 100)])
    assert "b.parquet" in kept2
    # the materialized objects also drop the unusable pairs
    assert "x" not in (k.get("a.parquet").column_stats or {})
    assert "y" not in (k.get("b.parquet").column_stats or {})


def test_kernel_stats_compare_exactly_beyond_2_53(tmp_path):
    """Base-lane stats skipping compares int/float pairs with Python's
    exact semantics, like the object lane: near 2^53 NumPy's float64
    rounding would keep files the object lane prunes."""
    import pyarrow.parquet as pq

    from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
    from qbeast_spark_spark.core.transform import LinearTransformation
    from qbeast_spark_spark.sources.log import Block, IndexFile, Snapshot
    from qbeast_spark_spark.sources.metadata import _files_arrow_table

    big = 2 ** 53
    blocks = [Block("0:0", 0, 2 ** 30, 10)]
    files = {
        "i.parquet": IndexFile("i.parquet", 1, 10, 1, blocks,
                               {"n": [big + 1, big + 3]}),
        "f.parquet": IndexFile("f.parquet", 1, 10, 1, blocks,
                               {"x": [float(big), float(big)]}),
    }
    fp = str(tmp_path / "files.parquet")
    pq.write_table(_files_arrow_table(files, None), fp)
    rev = Revision(1, 0, 100, [ColumnToIndex("z", "")],
                   [LinearTransformation(0.0, 1.0)], ["double"])
    ksnap, osnap = Snapshot(str(tmp_path)), Snapshot(str(tmp_path))
    ksnap.files = LazyFiles(FileKernel.from_parquet(fp))
    osnap.files = files
    ksnap.revisions = osnap.revisions = {1: rev}
    for filt in ([("n", "=", float(big))], [("n", "in", [float(big)])],
                 [("x", "=", big + 1)], [("x", "<", big - 1)],
                 [("n", "<", float(big + 2))], [("x", ">=", big + 1)]):
        assert prune_files(ksnap, filt) == prune_files(osnap, filt), filt
    # and the exact answers: both '=' probes prove their file empty
    assert prune_files(ksnap, [("n", "=", float(big))]) == ["f.parquet"]
    assert prune_files(ksnap, [("x", "=", big + 1)]) == ["i.parquet"]


def test_format2_partial_sync_falls_back_to_replay(spark, tmp_table):
    """r9 review: a log dir missing ANY of the three format-2 artifacts
    (partial rsync/object-store lag) must fall back to full JSON
    replay, not crash in the seed."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    state = [p for p in os.listdir(log_dir)
             if p.endswith(".checkpoint.state.parquet")]
    assert state
    os.remove(os.path.join(log_dir, state[-1]))
    log = CommitLog(tmp_table)
    assert log._last_checkpoint_version() is None
    snap = log.snapshot()          # full replay, no crash
    assert getattr(snap.files, "kernel", None) is None
    assert len(snap.files) > 0
    assert qt.to_df().count() == 3000 + 200 * 9


def test_replay_discard_never_materializes(spark, tmp_table):
    """r9 review: replaying a remove commit on a kernel snapshot flips
    tombstone bits — it must not build (then discard) IndexFiles."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 1500)])       # a remove-heavy commit
    snap = CommitLog(tmp_table).snapshot()
    k = getattr(snap.files, "kernel", None)
    assert k is not None, "kernel must survive replaying removes"
    assert not k._singles, "replay materialized removed files"


def test_vacuum_cleans_checkpoint_tmps(spark, tmp_table):
    """Crash-orphaned checkpoint staging tmps (O(#files) bytes each)
    age out with the other staging residue."""
    qt, _li = _clone_fmt2(spark, tmp_table)
    log_dir = os.path.join(tmp_table, "_qbeast_log")
    for name in ("000000000099.checkpoint.parquet.tmp",
                 "000000000099.checkpoint.meta.json.tmp",
                 "_last_checkpoint.tmp"):
        with open(os.path.join(log_dir, name), "wb") as fh:
            fh.write(b"orphan")
        os.utime(os.path.join(log_dir, name), (0, 0))   # ancient
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    got = {os.path.basename(v) for v in victims}
    assert {"000000000099.checkpoint.parquet.tmp",
            "000000000099.checkpoint.meta.json.tmp",
            "_last_checkpoint.tmp"} <= got


def test_lazy_cube_state_overlay_semantics(tmp_path):
    """LazyCubeState: replay merges land in the overlay without
    loading; materialization equals the eager merge. min (weights) and
    sum (domains) both covered, plus resetStats."""
    from qbeast_spark_spark.sources.log import (
        _read_cube_state_parquet, _write_cube_state_parquet)
    from qbeast_spark_spark.sources.metadata import LazyCubeState

    base_w = {1: {"0:0": 100, "1:1": 50}}
    base_d = {1: {"0:0": 10.0, "1:1": 5.0}}
    p = os.path.join(str(tmp_path), "s.parquet")
    _write_cube_state_parquet(base_w, base_d, p)
    loads = []

    def loader_w():
        loads.append("w")
        return _read_cube_state_parquet(p)[0]

    def loader_d():
        loads.append("d")
        return _read_cube_state_parquet(p)[1]

    w = LazyCubeState(loader_w, "min")
    d = LazyCubeState(loader_d, "sum")
    # replay merges: no load happens
    w.merge_pending(1, {"0:0": 80, "2:2": 70})    # min with base 100
    w.merge_pending(1, {"0:0": 90})               # loses to 80
    d.merge_pending(1, {"0:0": 2.0})
    d.merge_pending(2, {"9:9": 1.0})
    assert not loads, "merge_pending must not load the base"
    assert bool(w) and bool(d)                    # overlay counts
    assert not loads
    # materialization == eager result
    assert w[1] == {"0:0": 80, "1:1": 50, "2:2": 70}
    assert d[1] == {"0:0": 12.0, "1:1": 5.0}
    assert d[2] == {"9:9": 1.0}
    assert loads == ["w", "d"]
    # resetStats drops everything, later merges apply to empty state
    w2 = LazyCubeState(loader_w, "min")
    w2.merge_pending(1, {"0:0": 80})
    w2.reset()
    w2.merge_pending(1, {"5:5": 7})
    assert dict(w2) == {1: {"5:5": 7}}


def test_maintenance_tallies_kernel_equals_object_walk(spark, tmp_table):
    """auto_maintain's policy thresholds (maintenance.py) read off the
    kernel arrays on format-2 snapshots; the tallies must equal the
    object walk a JSON snapshot would do, including staging files and
    the post-checkpoint tail."""
    from qbeast_spark_spark.core.revision import STAGING_REVISION_ID
    from qbeast_spark_spark.sources import maintenance as mnt

    qt, li = _clone_fmt2(spark, tmp_table)
    # staging lane + one extra indexed append so the snapshot has a
    # non-empty post-checkpoint tail on top of the parquet base
    qt.append_staging(li.limit(120))
    qss.write(li.limit(80), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)

    log = CommitLog(tmp_table)
    ksnap = log.snapshot()
    k = getattr(ksnap.files, "kernel", None)
    assert k is not None, "snapshot not kernel-backed"

    osnap = log.snapshot()
    list(osnap.files.values())          # force the object walk
    assert getattr(osnap.files, "kernel", None) is None

    for small in (0, 10_000, 1 << 40):
        assert mnt._small_file_count(ksnap, small) == \
            mnt._small_file_count(osnap, small)
    assert mnt._staging_rows(ksnap) == mnt._staging_rows(osnap) > 0
    assert sorted(mnt._staging_paths(ksnap)) == \
        sorted(mnt._staging_paths(osnap))
    revs = mnt._live_revisions(ksnap)
    assert revs == mnt._live_revisions(osnap)
    assert STAGING_REVISION_ID not in revs
    for keep in revs:
        assert sorted(mnt._old_revision_paths(ksnap, keep)) == \
            sorted(mnt._old_revision_paths(osnap, keep))
    # tally reads must NOT have materialized the kernel snapshot
    assert getattr(ksnap.files, "kernel", None) is not None


def test_auto_maintain_noop_keeps_kernel_columnar(spark, tmp_table):
    """A healthy table's auto_maintain pass is a pure threshold check —
    on a format-2 snapshot it must not pay the materialize-all object
    cost (the 100-TB streaming-sink policy path, VERDICT r9 #1)."""
    from unittest.mock import patch

    from qbeast_spark_spark.sources.log import CommitLog as CL
    from qbeast_spark_spark.sources.maintenance import auto_maintain
    from qbeast_spark_spark.sources.metadata import FileKernel as FK

    _clone_fmt2(spark, tmp_table)
    report = {}
    with patch.object(FK, "materialize",
                      side_effect=AssertionError(
                          "auto_maintain materialized the file dict")):
        report = auto_maintain(
            spark, tmp_table,
            max_staging_rows=1 << 40, max_revisions=1 << 20,
            max_small_files=1 << 30)
    assert report == {}
    # and the snapshot the policy check used really was kernel-backed
    assert getattr(CL(tmp_table).snapshot().files, "kernel", None) \
        is not None


def test_checkpoint_state_copy_forward_equals_eager(spark, tmp_table):
    """r10 (VERDICT r9 #7): a checkpoint written from a still-lazy
    format-2 snapshot copies the previous state parquet forward (plus a
    vectorized overlay merge) instead of materializing the cube dicts —
    and the result must be byte-equivalent IN STATE to the eager
    writer's output and to the full-JSON-replay truth."""
    from qbeast_spark_spark.sources.log import (
        _copy_forward_cube_state, _read_cube_state_parquet)

    qt, li = _clone_fmt2(spark, tmp_table)
    # two more appends -> replay overlays on top of the checkpoint base
    for _ in range(2):
        qss.write(li.limit(150), tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=500)
    log = CommitLog(tmp_table)
    snap = log.snapshot()
    cw, cd = snap.cube_weights, snap.cube_domains
    assert cw.is_lazy and cd.is_lazy
    assert cw.pending_overlay, "expected replay overlays"

    dst = os.path.join(tmp_table, "cf.state.parquet")
    assert _copy_forward_cube_state(cw, cd, dst)
    assert cw.is_lazy and cd.is_lazy, "copy-forward must not materialize"
    got_w, got_d = _read_cube_state_parquet(dst)

    # truth: the full JSON replay (what a legacy engine computes)
    os.remove(os.path.join(tmp_table, "_qbeast_log", "_last_checkpoint"))
    truth = CommitLog(tmp_table).snapshot()
    assert got_w == {k: dict(v) for k, v in truth.cube_weights.items()}
    assert sorted(got_d) == sorted(truth.cube_domains)
    for rid, items in truth.cube_domains.items():
        assert got_d[rid] == pytest.approx(dict(items))


def test_checkpoint_write_keeps_lazy_state_and_reads_back(spark,
                                                          tmp_table):
    """End-to-end through _write_checkpoint: the no-overlay shape is a
    pure file copy, laziness survives the write, and a snapshot seeded
    from the NEW checkpoint equals one seeded from the old."""
    qt, li = _clone_fmt2(spark, tmp_table)
    log = CommitLog(tmp_table)
    snap = log.snapshot()
    cw = snap.cube_weights
    if not cw.pending_overlay:      # seed exactly at the checkpoint
        assert cw.is_lazy
    before = {k: dict(v) for k, v in log.snapshot().cube_weights.items()}
    log._write_checkpoint(snap)
    assert snap.cube_weights.is_lazy or not cw.pending_overlay
    seeded = log._seed_from_checkpoint(snap.version)
    assert {k: dict(v) for k, v in seeded.cube_weights.items()} == before
    # and reads through the new checkpoint stay exact
    assert qt.to_df().count() == \
        sum(f.live_rows for f in seeded.files.values())


def test_detail_kernel_equals_object_walk(spark, tmp_table):
    """r10: DESCRIBE-DETAIL tallies off the kernel arrays == the object
    walk, without materializing the snapshot (detail() is a dashboard
    call a 10^6-file table answers from metadata)."""
    qt, li = _clone_fmt2(spark, tmp_table)
    qt.append_staging(li.limit(100))
    qt.delete([("l_orderkey", "<", 30)])        # some DVs or rewrites
    qss.write(li.limit(60), tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)

    from qbeast_spark_spark.core.revision import STAGING_REVISION_ID

    # detail() refreshes and must land on a kernel-backed snapshot
    assert getattr(CommitLog(tmp_table).snapshot().files,
                   "kernel", None) is not None
    d_kernel = qt.detail()

    # truth: the object walk over a materialized twin of the snapshot
    osnap = CommitLog(tmp_table).snapshot()
    files = list(osnap.files.values())
    small = 32 * 1024 * 1024
    assert d_kernel["numFiles"] == len(files)
    assert d_kernel["numRows"] == sum(f.live_rows for f in files)
    assert d_kernel["sizeInBytes"] == sum(f.size for f in files)
    assert d_kernel["numSmallFiles(<32MB)"] == sum(
        1 for f in files if f.size < small)
    assert d_kernel["numFilesWithDeletionVectors"] == sum(
        1 for f in files if f.dv)
    assert d_kernel["numStagingFiles"] == sum(
        1 for f in files
        if f.revision_id == STAGING_REVISION_ID) >= 1
    assert d_kernel["revisions"] == sorted({f.revision_id
                                            for f in files})
    assert d_kernel["numRows"] == qt.to_df().count()


def test_vacuum_dv_liveness_on_kernel_snapshot(spark, tmp_table):
    """r10: vacuum's DV-sidecar liveness set comes off the kernel's
    dv_json array on format-2 snapshots — a live bitmap must survive a
    zero-retention dry run, and reads stay exact afterwards."""
    qt, li = _clone_fmt2(spark, tmp_table)
    before = qt.to_df().count()
    out = qt.delete([("l_orderkey", "<", 80)], mode="dv")
    assert out["rows_deleted"] > 0
    snap = CommitLog(tmp_table).snapshot()
    assert getattr(snap.files, "kernel", None) is not None
    assert snap.files.kernel.live_dvs() or any(
        f.dv for f in snap.files.values())
    dv_files = [n for n in os.listdir(tmp_table)
                if n.startswith("deletion_vector_")]
    assert dv_files
    victims = qt.vacuum(dry_run=True, retention_hours=0.0)
    assert not (set(dv_files) & set(victims)), \
        "vacuum would delete a live DV sidecar"
    assert qt.to_df().count() == before - out["rows_deleted"]


def test_pyds_fraction_builds_only_kept_files(spark, tmp_table):
    """option("fraction") planning on a columnar snapshot selects files
    off the block-weight arrays (the shared reader.sample_files) and
    builds an IndexFile only for the files it plans — not one per live
    file — and plans exactly QbeastTable.sample_files' selection."""
    from unittest.mock import patch

    from qbeast_spark_spark.sources.pyds import QbeastBatchReader

    qt, _li = _clone_fmt2(spark, tmp_table)
    built = []
    build = FileKernel._build

    def counting_build(self, i):
        built.append(i)
        return build(self, i)

    with patch.object(FileKernel, "_build", counting_build):
        parts = QbeastBatchReader(tmp_table, {"fraction": "0.01"},
                                  None).partitions()
    assert parts, "a 1% sample plans at least one file"
    assert len(built) <= len(parts), (len(built), len(parts))
    keys = list(CommitLog(tmp_table).snapshot().files.keys())
    assert len(parts) < len(keys)
    # the planned files, in snapshot key order (partition order)
    planned = [os.path.relpath(p.abs_path, tmp_table) for p in parts]
    sampled = set(qt.sample_files(0.01))
    assert planned == [k for k in keys if k in sampled]
