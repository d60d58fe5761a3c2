"""Driver lane vs distributed lane of the indexed writer (writer.py
``_materialize``): the same batch, weights and file map must produce the
same rows, the same parquet schemas (timezone annotation included), the
same Block stats and row groups per file, and the same sample / prune
answers — on adversarial values, under ANSI on and off. Plus the guard's
boundary: ``min(cube size, DRIVER_MAX_WRITE_ROWS)`` rows take the driver
lane and skip the sketch, one more row does not; wide columns and row
counts the log cannot bound keep the rows off the driver. And the row
groups are the writer's, not the caller's Arrow batch size."""

import datetime as dt
import decimal
import json
import math
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

CUBE = 40
ROWS_SCHEMA = ("x double, s string, ts timestamp, tsn timestamp_ntz, "
               "d date, dec decimal(12,2), flag boolean, rid string")
SPECIALS = [None, float("nan"), float("inf"), float("-inf"), 0.0, -0.0]


def _frame(spark, rows):
    """``one`` is a not-null column: the files must keep that flag."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(rows, ROWS_SCHEMA) \
        .withColumn("one", F.lit(1))


def _rows(start, n, specials=False):
    out = []
    for i in range(start, start + n):
        x = SPECIALS[i % len(SPECIALS)] if specials and i % 3 == 0 \
            else (i * 7919) % 1000 / 10.0
        out.append((
            x, None if specials and i % 5 == 0 else f"s{i % 17}",
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=37 * i),
            dt.datetime(2023, 6, 1) + dt.timedelta(seconds=311 * i),
            dt.date(2020, 1, 1) + dt.timedelta(days=i % 400),
            decimal.Decimal(i * 13 % 10_000) / 100, i % 2 == 0,
            f"id-{i}"))
    return out


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """A multi-level index (cube size 40, 600 rows) every lane test
    copies, so both lanes append against the same weights."""
    from qbeast_spark_spark import write_qbeast

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        path = str(tmp_path_factory.mktemp("lanes") / "base")
        write_qbeast(_frame(spark, _rows(0, 600)), path,
                     columns_to_index=["x", "s"], cube_size=CUBE,
                     bloom_columns=["rid"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    return path


def _lane_write(spark, base, dst, batch, rows):
    """Copy ``base`` to ``dst``, write ``batch`` through ``_materialize``
    with the base's weights and file map, and commit the adds."""
    from qbeast_spark_spark.core.cube import parse_cube
    from qbeast_spark_spark.index.analyzer import (
        compute_rollup_from_counts, with_index_columns)
    from qbeast_spark_spark.sources.log import CommitLog
    from qbeast_spark_spark.sources.writer import (
        _complete_file_map, _materialize)

    shutil.copytree(base, dst)
    log = CommitLog(dst)
    snap = log.snapshot()
    rev = snap.latest_revision()
    weights = {parse_cube(c): w for c, w in
               snap.cube_weights[rev.revision_id].items()}
    counts = {}
    for f in snap.files.values():
        for b in f.blocks:
            k = parse_cube(b.cube)
            counts[k] = counts.get(k, 0.0) + b.count
    rollup = compute_rollup_from_counts(counts, rev.dims,
                                        rev.desired_cube_size)
    file_map = _complete_file_map(weights.keys(), rollup, rev.dims)
    add = _materialize(with_index_columns(batch, rev), rev, weights,
                       file_map, max(1, len(set(rollup.values()))), dst,
                       bloom_cols=("rid",), rows=rows)
    log.commit(add=add, revisions={rev.revision_id: rev},
               operation="APPEND")
    return add


def _spy_collects(spark, monkeypatch):
    """Record every driver-side Arrow collect (the driver lane's one)."""
    collects = []
    cls = type(spark.range(0))      # the session's concrete DataFrame
    real = cls._collect_as_arrow

    def spy(self, *a, **k):
        collects.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(cls, "_collect_as_arrow", spy)
    return collects


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _file_sig(f):
    return tuple(sorted((b.cube, b.min_weight, b.max_weight, b.count)
                        for b in f.blocks))


def _row_groups(path):
    md = pq.ParquetFile(path).metadata
    return [md.row_group(i).num_rows for i in range(md.num_row_groups)]


def _lane_view(spark, path, add):
    """Everything that must agree between lanes, keyed by file content
    (file names are random)."""
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.reader import prune_files

    by_name = {f.path: f for f in add}
    files = []
    rows = Counter()
    for f in add:
        tbl = pq.read_table(os.path.join(path, f.path))
        rows.update(tuple(_norm(v) for v in r.values())
                    for r in tbl.to_pylist())
        files.append((_file_sig(f), pq.read_schema(
            os.path.join(path, f.path)).to_string(),
            json.dumps(f.column_stats, sort_keys=True, default=str),
            json.dumps(f.blooms, sort_keys=True),
            _row_groups(os.path.join(path, f.path))))
    qt = qss.QbeastTable.for_path(spark, path)
    snap = qt.snapshot(refresh=True)

    def sig(rel):           # base files keep their names
        return (1, _file_sig(by_name[rel])) if rel in by_name else (0, rel)

    samples = {}
    for frac in (0.05, 0.3, 1.0):
        samples[frac] = (
            sorted(map(sig, qt.sample_files(frac))),
            Counter(tuple(_norm(v) for v in r)
                    for r in qt.sample(frac).collect()))
    prunes = {}
    for flt in ([("x", ">=", 10.0), ("x", "<", 40.0)],
                [("s", "=", "s3")], [("rid", "=", "id-nope")],
                [("x", ">", 1e300)]):
        prunes[str(flt)] = sorted(map(sig, prune_files(snap, flt)))
    return rows, sorted(files), samples, prunes


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_driver_lane_matches_distributed_lane(spark, base_table, tmp_path,
                                              ansi, monkeypatch):
    from qbeast_spark_spark.sources.writer import DRIVER_MAX_WRITE_ROWS

    cap = min(CUBE, DRIVER_MAX_WRITE_ROWS)
    collects = _spy_collects(spark, monkeypatch)
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    # a non-UTC session zone: toArrow() would re-annotate LTZ timestamps
    # as UTC, the mapInArrow workers see the session zone
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        batches = {
            "empty": [],
            "specials": _rows(1000, cap, specials=True),
            "at_cap": _rows(2000, cap),
            "above_cap": _rows(3000, cap + 1, specials=True),
        }
        for name, rows in batches.items():
            batch = _frame(spark, rows)
            views = []
            # rows=0 passes the guard whatever the batch size; cap + 1
            # fails it: the same batch through each lane
            for lane, bound in (("driver", 0), ("distributed", cap + 1)):
                dst = str(tmp_path / f"{name}-{lane}")
                before = len(collects)
                add = _lane_write(spark, base_table, dst, batch, bound)
                assert (len(collects) > before) == (lane == "driver"), lane
                views.append(_lane_view(spark, dst, add))
            drv, dist = views
            assert sum(drv[0].values()) == len(rows), name
            assert drv[0] == dist[0], f"{name}: row multisets differ"
            assert drv[1] == dist[1], f"{name}: files differ"
            assert drv[2] == dist[2], f"{name}: sample answers differ"
            assert drv[3] == dist[3], f"{name}: prune answers differ"
            if rows:
                schema = views[0][1][0][1]
                assert 'tz=America/New_York' in schema, schema
                assert "tsn: timestamp[us]\n" in schema, schema
                assert "one: int32 not null" in schema, schema
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_row_groups_ignore_the_callers_arrow_batch_size(spark, tmp_path):
    """The writer sizes its row groups itself and leaves the session conf
    alone: a 70k-row write (distributed lane) plus a 2k-row append
    (driver lane) under a caller's ``maxRecordsPerBatch`` of 1,000 sees
    1,000 mid-write and lays out the same row groups as under the unset
    conf — 65,536 rows each, the remainder in a file's last group."""
    from pyspark.sql import functions as F

    from qbeast_spark_spark import write_qbeast
    from qbeast_spark_spark.sources.log import CommitLog
    from qbeast_spark_spark.sources.sink import ROW_GROUP_ROWS

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)

    def layout(path, batch_size):
        seen = []
        if batch_size is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, str(batch_size))
        for n in (70_000, 2_000):
            df = spark.range(0, n, 1, 2).select(
                "id", (F.col("id") * 7919 % 1000).alias("x"),
                F.format_string("s%d", F.col("id") % 97).alias("s"))
            write_qbeast(df, path, columns_to_index=["x"],
                         pre_commit_hooks=[
                             lambda _: seen.append(spark.conf.get(key, None))])
        files = CommitLog(path).snapshot().files
        return seen, sorted(_row_groups(os.path.join(path, f))
                            for f in files)

    try:
        seen, small = layout(str(tmp_path / "small"), 1000)
        unset_seen, unset = layout(str(tmp_path / "unset"), None)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert seen == ["1000", "1000"], seen
    assert unset_seen == [None, None], unset_seen
    # one cube at the default cube size: one file per write
    assert small == unset == [[2_000], [ROW_GROUP_ROWS,
                                        70_000 - ROW_GROUP_ROWS]], small


def test_guard_boundary_and_write_diagnostics(spark, tmp_path, monkeypatch):
    """``min(cube, cap)`` rows: driver lane, sketch skipped, diagnostics
    reset (no stale sketch fraction, domains phase 0.0) and fewer Spark
    jobs; one row more: the distributed lane and the sketch run."""
    import qbeast_spark_spark as qss
    from qbeast_spark_spark import write_qbeast
    from qbeast_spark_spark.index import analyzer as A
    from qbeast_spark_spark.sources import writer as W

    sc = spark.sparkContext
    cap = min(CUBE, W.DRIVER_MAX_WRITE_ROWS)
    jobs = {}
    for n in (cap, cap + 1):
        path = str(tmp_path / f"t{n}")
        # a stale value left by an earlier write
        monkeypatch.setattr(A, "LAST_SKETCH_FRACTION", 0.5)
        group = f"lane-probe-{n}"
        sc.setJobGroup(group, group)
        try:
            write_qbeast(spark.createDataFrame(_rows(0, n), ROWS_SCHEMA),
                         path, columns_to_index=["x", "s"], cube_size=CUBE)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert all(isinstance(v, float) for v in W.LAST_WRITE_PHASES.values())
        assert A.LAST_SKETCH_FRACTION is None
        domains = W.LAST_WRITE_PHASES["domains"]
        assert (domains == 0.0) == (n == cap), (n, domains)
        qt = qss.QbeastTable.for_path(spark, path)
        assert qt.to_df().count() == n
        assert sum(f.rows for f in qt.snapshot().files.values()) == n
    # the driver lane drops the sketch job and the assign/write stages
    assert jobs[cap] < jobs[cap + 1], jobs


def test_driver_fits_estimates_arrow_bytes(spark):
    """Fixed-width and string columns give a width; binary, array, map
    and struct columns give none, so such a batch stays distributed."""
    from pyspark.sql import types as T

    from qbeast_spark_spark.sources.writer import (
        DRIVER_MAX_WRITE_BYTES, DRIVER_MAX_WRITE_ROWS, _STRING_BYTES,
        _driver_fits)

    narrow = T.StructType.fromDDL(ROWS_SCHEMA)
    # 8 + str + 8 + 8 + 4 + 16 + 1 + str
    width = 45 + 2 * (4 + _STRING_BYTES)
    assert _driver_fits(narrow, DRIVER_MAX_WRITE_ROWS)
    assert _driver_fits(narrow, DRIVER_MAX_WRITE_BYTES // width)
    assert not _driver_fits(narrow, DRIVER_MAX_WRITE_BYTES // width + 1)
    for wide in ("bin binary", "v array<float>", "m map<string,int>",
                 "st struct<a:int>"):
        assert not _driver_fits(T.StructType.fromDDL(f"x double, {wide}"),
                                1), wide


def test_wide_rows_at_the_cap_stay_off_the_driver(tmp_path):
    """64 rows of 256 KB blobs at cube size 64 (so at the row cap): 16 MB,
    four times ``spark.driver.maxResultSize``. The write must skip the
    sketch yet keep the rows on the executors — a driver collect of the
    batch fails the job."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
import qbeast_spark_spark as qss
from qbeast_spark_spark.sources import writer as W
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.driver.maxResultSize", "4m")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
blob = F.concat(F.col("id").cast("string").cast("binary"),
                F.unhex(F.repeat(F.lit("ab"), 256 * 1024)))
df = spark.range(64).select(F.col("id").alias("k"), blob.alias("blob"))
p = {str(tmp_path / "t")!r}
qss.write(df, p, columns_to_index=["k"], cube_size=64)
assert W.LAST_WRITE_PHASES["domains"] == 0.0, W.LAST_WRITE_PHASES
got = qss.QbeastTable.for_path(spark, p).to_df().agg(
    F.count(F.lit(1)), F.sum(F.length("blob"))).first()
assert tuple(got) == (64, 64 * 256 * 1024 + 10 + 2 * 54), tuple(got)
print("WIDE_ROWS_OK")
"""
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "WIDE_ROWS_OK" in out.stdout


def test_stats_less_delta_adds_bound_no_rewrite(spark, tmp_path,
                                                monkeypatch):
    """A Delta add without ``numRecords`` stats imports as 0 rows. That is
    no bound: optimize over such files (at the 5M default cube size) must
    not take the driver lane on the strength of it."""
    import pyarrow as pa

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources import writer as W
    from qbeast_spark_spark.sources.log import CommitLog

    p = tmp_path / "delta"
    (p / "_delta_log").mkdir(parents=True)
    data = pa.table({"k": pa.array(range(3000), pa.int64()),
                     "v": pa.array([i % 97 / 7.0 for i in range(3000)])})
    adds = []
    for i in range(3):
        name = f"part-{i}.parquet"
        pq.write_table(data.slice(i * 1000, 1000), str(p / name))
        adds.append({"add": {"path": name, "partitionValues": {},
                             "size": os.path.getsize(p / name),
                             "modificationTime": 0, "dataChange": True}})
    schema = spark.createDataFrame([], "k bigint, v double").schema.json()
    actions = [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
               {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                   "options": {}},
                             "schemaString": schema, "partitionColumns": [],
                             "configuration": {}}}] + adds
    with open(p / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    qss.attach_qbeast_delta(str(p))
    files = CommitLog(str(p)).snapshot().files.values()
    assert all(f.rows == 0 and f.size > 0 for f in files)
    assert W._stored_rows(files) is None

    collects = _spy_collects(spark, monkeypatch)
    qss.optimize_table(spark, str(p), columns_to_index=["k", "v"])
    assert collects == []
    qt = qss.QbeastTable.for_path(spark, str(p))
    assert qt.to_df().count() == 3000
    snap = qt.snapshot(refresh=True)
    assert sum(f.rows for f in snap.files.values()) == 3000
    assert all(f.revision_id == 1 for f in snap.files.values())
