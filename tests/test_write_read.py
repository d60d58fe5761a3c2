"""End-to-end write -> read correctness, the reference's dominant oracle
pattern (QbeastSparkCorrectnessTest.scala:25-81, QbeastSamplingTest.scala:34-42,
TestUtils.checkFileFiltering:60-83): the qbeast table must return exactly the
source rows; samples hit the +/-1% tolerance while reading fewer files."""

import os

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss

from conftest import load


@pytest.fixture(scope="module")
def lineitem(spark):
    return load(spark, "lineitem")


def _write(df, path, cols, cube_size=500):
    qss.write(df, path, columns_to_index=cols, cube_size=cube_size)


def test_roundtrip_exact(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"])
    back = qss.QbeastTable.for_path(spark, tmp_table).to_df()
    assert back.count() == lineitem.count()
    assert set(back.columns) == set(lineitem.columns)
    # full multiset equality via exceptAll both ways
    assert back.exceptAll(lineitem).count() == 0
    assert lineitem.exceptAll(back).count() == 0


def test_sampling_accuracy_and_pruning(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = lineitem.count()
    all_files = len(qt.file_paths())
    assert all_files > 1, "need multiple files for a pruning assertion"
    for f in (0.1, 0.2, 0.5, 0.93):
        got = qt.sample(f).count()
        assert abs(got - n * f) <= max(0.01 * n, 1), (f, got, n)
    # small fraction must read strictly fewer files (TestUtils.scala:60-83)
    small = qt.sample(0.01)
    read_files = {os.path.basename(r[0]) for r in
                  small.select(F.input_file_name()).distinct().collect()}
    assert 0 < len(read_files) < all_files


def test_sample_is_subset(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"])
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    s = qt.sample(0.2)
    assert s.exceptAll(lineitem).count() == 0
    # deterministic: same call twice -> same rows
    assert s.exceptAll(qt.sample(0.2)).count() == 0


def test_filter_pruning_matches_plain_filter(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    filters = [("l_orderkey", ">=", 1000), ("l_orderkey", "<", 3000),
               ("l_extendedprice", ">=", 20000.0)]
    got = qt.read(filters)
    expect = lineitem.where(
        (F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 3000)
        & (F.col("l_extendedprice") >= 20000.0))
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    # and it pruned: selective filter reads fewer than all files
    pruned = qt._prune_files(qt.snapshot(), filters)
    assert len(pruned) < len(qt.file_paths())


def test_append_keeps_sampling_accuracy(spark, tmp_table, lineitem):
    half1 = lineitem.where(F.col("l_linenumber") <= 3)
    half2 = lineitem.where(F.col("l_linenumber") > 3)
    _write(half1, tmp_table, ["l_orderkey", "l_extendedprice"], cube_size=200)
    _write(half2, tmp_table, ["l_orderkey", "l_extendedprice"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = lineitem.count()
    assert qt.to_df().count() == n
    got = qt.sample(0.1).count()
    assert abs(got - n * 0.1) <= 0.01 * n
    back = qt.to_df()
    assert back.exceptAll(lineitem).count() == 0
    assert lineitem.exceptAll(back).count() == 0


def test_overwrite(spark, tmp_table, lineitem):
    _write(lineitem.limit(1000), tmp_table, ["l_orderkey"])
    qss.write(lineitem, tmp_table, columns_to_index=["l_orderkey"],
              cube_size=500, mode="overwrite")
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    assert qt.to_df().count() == lineitem.count()


def test_timestamp_roundtrip_and_filter(spark, tmp_table):
    orders = load(spark, "orders")
    qss.write(orders, tmp_table, columns_to_index=["o_orderdate", "o_totalprice"],
              cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    back = qt.to_df()
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0
    # timestamp range filter: epoch-millis normalization must be exact
    import datetime as dt

    cut = dt.datetime(1995, 6, 1)
    got = qt.read([("o_orderdate", ">=", cut)])
    expect = orders.where(F.col("o_orderdate") >= F.lit(cut))
    assert got.count() == expect.count()


def test_string_hash_index_roundtrip(spark, tmp_table):
    cust = load(spark, "customer")
    qss.write(cust, tmp_table, columns_to_index=["c_mktsegment", "c_custkey"],
              cube_size=50)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    back = qt.to_df()
    assert back.exceptAll(cust).count() == 0
    assert cust.exceptAll(back).count() == 0


def test_index_metrics(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    m = qt.index_metrics()
    assert m["rows"] == lineitem.count()
    assert m["files"] >= 1 and m["height"] >= 1
    assert len(qt.revisions()) == 1


def test_disjunctive_read_matches_plain_filter(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"])
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    dnf = [
        [("l_orderkey", "<", 500), ("l_extendedprice", ">=", 30000.0)],
        [("l_orderkey", ">=", 5000), ("l_extendedprice", "<", 5000.0)],
    ]
    got = qt.read(dnf)
    expect = lineitem.where(
        ((F.col("l_orderkey") < 500) & (F.col("l_extendedprice") >= 30000.0))
        | ((F.col("l_orderkey") >= 5000) & (F.col("l_extendedprice") < 5000.0)))
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    # each disjoint box touches fewer files than the union read
    snap = qt.snapshot(refresh=True)
    f_union = set(qt._prune_files(snap, dnf[0])) | set(
        qt._prune_files(snap, dnf[1]))
    assert len(f_union) <= len(qt.file_paths())


def test_schema_evolution_on_append(spark, tmp_table, lineitem):
    base = lineitem.select("l_orderkey", "l_extendedprice", "l_quantity")
    _write(base.limit(2000), tmp_table, ["l_orderkey", "l_extendedprice"])
    extended = (base.limit(1000)
                .withColumn("l_new_flag", F.lit("x")))
    # mismatched append without merge_schema is rejected
    with pytest.raises(ValueError):
        _write(extended, tmp_table, ["l_orderkey", "l_extendedprice"])
    # with merge_schema the new column joins the table schema
    qss.write(extended, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500, merge_schema=True)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    got = qt.to_df()
    assert got.count() == 3000
    assert "l_new_flag" in got.columns
    # old rows read the evolved column as null
    assert got.where(F.col("l_new_flag").isNull()).count() == 2000
    # type change is always rejected
    retyped = base.limit(10).withColumn(
        "l_quantity", F.col("l_quantity").cast("string"))
    with pytest.raises(ValueError):
        qss.write(retyped, tmp_table,
                  columns_to_index=["l_orderkey", "l_extendedprice"],
                  cube_size=500, merge_schema=True)


def test_vacuum_removes_dereferenced_files(spark, tmp_table, lineitem):
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"])
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = qt.to_df().count()
    qt.optimize(fraction=1.0)  # rewrites every file; old ones dereferenced
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    # default retention (7 days) protects freshly written orphans — a vacuum
    # racing an in-flight write must not delete its uncommitted files
    assert qt.vacuum(dry_run=True) == []
    dead = qt.vacuum(dry_run=True, retention_hours=0.0)
    assert dead  # optimize left orphans
    removed = qt.vacuum(retention_hours=0.0)
    assert removed == dead
    # table still reads fully after physical deletion
    assert qt.to_df().count() == n
    assert qt.vacuum(dry_run=True, retention_hours=0.0) == []


def test_string_equality_pruning(spark, tmp_table, lineitem):
    """Point lookups on a hash-indexed string column prune files: the
    driver-side murmur3 twin maps the literal to the same [0,1] coordinate
    the write path used (QuerySpecBuilder equality-on-hash parity)."""
    df = lineitem.withColumn(
        "bucket_key", F.concat(F.lit("key_"), (F.col("l_orderkey") % 500)))
    _write(df, tmp_table, ["bucket_key", "l_extendedprice"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    got = qt.read([("bucket_key", "=", "key_7")])
    expect = df.where(F.col("bucket_key") == "key_7")
    assert got.count() == expect.count() > 0
    assert got.exceptAll(expect).count() == 0
    # and it actually pruned
    snap = qt.snapshot(refresh=True)
    pruned = qt._prune_files(snap, [("bucket_key", "=", "key_7")])
    assert len(pruned) < len(qt.file_paths())


def test_range_sample_partitions_disjoint(spark, tmp_table, lineitem):
    """sample(ub, lower_bound=lb) reads the weight range [lb, ub): disjoint
    ranges partition the table (SampleRule's Sample(lb, ub) semantics)."""
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"])
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = lineitem.count()
    s1 = qt.sample(0.3)
    s2 = qt.sample(0.7, lower_bound=0.3)
    s3 = qt.sample(1.0, lower_bound=0.7)
    total = s1.count() + s2.count() + s3.count()
    assert total == n  # exact partition, no overlap, no loss
    assert s1.intersect(s2).count() == 0


def test_csv_source_ingestion(spark, tmp_path, lineitem):
    """Any Spark source feeds the indexed write (the reference's docs flow
    reads CSV then writes qbeast; our write takes any DataFrame). CSV
    roundtrips through schema inference -> indexed table -> sampled read."""
    csv_dir = str(tmp_path / "csv_src")
    (lineitem.select("l_orderkey", "l_extendedprice", "l_quantity",
                     "l_returnflag")
     .coalesce(2).write.option("header", True).csv(csv_dir))
    back = (spark.read.option("header", True).option("inferSchema", True)
            .csv(csv_dir))
    table = str(tmp_path / "t")
    qss.write(back, table, columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, table)
    n = back.count()
    assert qt.to_df().count() == n
    assert qt.to_df().exceptAll(back).count() == 0
    assert abs(qt.sample(0.5).count() - 0.5 * n) <= 0.05 * n


def test_random_filter_boxes_match_plain_where(spark, tmp_table, lineitem):
    """Property test: for ANY conjunction/disjunction of range filters on
    the indexed dims, the pruned read equals a plain WHERE on the raw
    data. Deterministic seed; 24 random boxes per run."""
    import random

    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"],
           cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    df = qt.to_df()
    rng = random.Random(20260813)
    ok_min, ok_max = 1, 6000
    pr_min, pr_max = 900.0, 105000.0

    def rand_box():
        conj = []
        if rng.random() < 0.8:
            lo = rng.randint(ok_min, ok_max)
            hi = rng.randint(lo, ok_max)
            op_lo = rng.choice([">=", ">"])
            op_hi = rng.choice(["<", "<="])
            conj.append(("l_orderkey", op_lo, lo))
            conj.append(("l_orderkey", op_hi, hi))
        if rng.random() < 0.6 or not conj:
            lo = rng.uniform(pr_min, pr_max)
            hi = rng.uniform(lo, pr_max)
            conj.append(("l_extendedprice", ">=", lo))
            conj.append(("l_extendedprice", "<", hi))
        return conj

    def to_sql(conj):
        return " AND ".join(f"{c} {op} {v!r}" for c, op, v in conj)

    for trial in range(24):
        if rng.random() < 0.3:   # disjunction of two boxes
            b1, b2 = rand_box(), rand_box()
            filters = [b1, b2]
            sql = f"({to_sql(b1)}) OR ({to_sql(b2)})"
        else:
            filters = rand_box()
            sql = to_sql(filters)
        got = qt.read(filters).count()
        expect = df.where(sql).count()
        assert got == expect, (filters, got, expect)


def test_tolerance_sampling_meets_precision(spark, tmp_table, lineitem):
    """The tolerance() API (the reference declares it and leaves the body
    unimplemented) returns a sample whose mean is within the requested
    relative error, and looser precision asks for a smaller fraction."""
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"],
           cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    true_avg = qt.to_df().agg(F.avg("l_extendedprice")).collect()[0][0]

    sampled, frac = qt.tolerance("l_extendedprice", precision=0.02)
    got_avg = sampled.agg(F.avg("l_extendedprice")).collect()[0][0]
    assert abs(got_avg - true_avg) / true_avg <= 0.02
    assert 0 < frac <= 1.0

    _, frac_loose = qt.tolerance("l_extendedprice", precision=0.2)
    assert frac_loose <= frac

    with pytest.raises(ValueError):
        qt.tolerance("l_extendedprice", precision=0.0)


def test_column_stats_skipping_on_unindexed_column(spark, tmp_table, lineitem):
    """Per-file [min, max] stats prune on columns OUTSIDE the index: a
    predicate on l_quantity (not indexed) must still read fewer files
    when the data is clustered on it, and results stay exact."""
    # cluster rows so files have narrow l_quantity ranges: index a column
    # correlated with the probe column
    df = lineitem.withColumn("qbucket", F.col("l_quantity").cast("long"))
    _write(df, tmp_table, ["qbucket", "l_orderkey"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    snap = qt.snapshot()
    assert any(f.column_stats for f in snap.files.values())
    # stats recorded for numeric and string columns
    f0 = next(f for f in snap.files.values() if f.column_stats)
    assert "l_quantity" in f0.column_stats
    assert "l_returnflag" in f0.column_stats

    total = len(qt.file_paths())
    # probe a non-indexed column; correctness first
    got = qt.read([("l_quantity", "<", 3.0)])
    expect = df.where("l_quantity < 3.0")
    assert got.count() == expect.count() > 0
    # pruning proof: strictly fewer files than the table holds
    pruned = qt._prune_files(snap, [("l_quantity", "<", 3.0)])
    assert 0 < len(pruned) < total

    # string-column skipping: equality on a value outside every range
    none = qt._prune_files(snap, [("l_returnflag", "=", "Z")])
    assert none == []
    # and IN with only out-of-range values
    assert qt._prune_files(snap, [("l_quantity", "in", (-5.0, -1.0))]) == []


def test_approx_agg_scaled_estimates(spark, tmp_table, lineitem):
    """approx_agg applies the 1/fraction scale-up engine-side: estimates
    land within a few percent of the exact aggregates, composing with
    filter pruning."""
    _write(lineitem, tmp_table, ["l_orderkey", "l_extendedprice"],
           cube_size=300)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    exact = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_extendedprice").alias("s"),
        F.avg("l_quantity").alias("a")).collect()[0]

    est = qt.approx_agg(0.2, sums=["l_extendedprice"],
                        avgs=["l_quantity"]).collect()[0]
    assert abs(est["count_est"] - exact["n"]) / exact["n"] < 0.05
    assert abs(est["l_extendedprice_sum_est"] - exact["s"]) / exact["s"] < 0.05
    assert abs(est["l_quantity_avg_est"] - exact["a"]) / exact["a"] < 0.05

    # fraction 1.0 is exact
    full = qt.approx_agg(1.0, sums=["l_extendedprice"]).collect()[0]
    assert full["count_est"] == exact["n"]
    assert abs(full["l_extendedprice_sum_est"] - exact["s"]) < 1e-6

    # composes with filters: estimate over a pruned slice
    sl_exact = lineitem.where("l_orderkey < 3000").count()
    sl = qt.approx_agg(0.5, count=True,
                       filters=[("l_orderkey", "<", 3000)]).collect()[0]
    assert abs(sl["count_est"] - sl_exact) / sl_exact < 0.1

    with pytest.raises(ValueError):
        qt.approx_agg(0.0)
    with pytest.raises(ValueError):
        qt.approx_agg(0.5, sums=(), avgs=(), count=False)


def test_provided_column_stats_bound_transformations(spark, lineitem):
    """columnStats min/max win over the data and REMOVE that column from
    the stats scan (at scale the job degrades to a footer count); partial
    stats (min only) still fall back to the data pass for the max."""
    from qbeast_spark_spark.core.revision import parse_columns_to_index
    from qbeast_spark_spark.sources.writer import _build_transformations

    tf, n = _build_transformations(
        lineitem, parse_columns_to_index(["l_orderkey", "l_extendedprice"]),
        ["bigint", "double"],
        {"l_orderkey": {"min": -5, "max": 99999}})
    assert n == lineitem.count()
    assert (tf[0].min_value, tf[0].max_value) == (-5.0, 99999.0)
    data_max = float(lineitem.agg(F.max("l_orderkey")).first()[0])
    tf2, _ = _build_transformations(
        lineitem, parse_columns_to_index(["l_orderkey"]), ["bigint"],
        {"l_orderkey": {"min": 0}})
    assert (tf2[0].min_value, tf2[0].max_value) == (0.0, data_max)
