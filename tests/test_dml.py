"""DELETE / UPDATE keep the index readable (sources/dml.py) — the verbs
the reference hands to DeltaTable, after which its docs say the table
"should only be read using delta" (Quickstart.md:409-427)."""

import os

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from conftest import load


@pytest.fixture()
def table(spark, tmp_table):
    li = load(spark, "lineitem")
    qss.write(li, tmp_table,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    return tmp_table, li


def test_delete_removes_only_matching_rows(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    files_before = set(qt.file_paths())
    expect_gone = li.where("l_orderkey < 1000").count()
    out = qt.delete([("l_orderkey", "<", 1000)])
    assert out["rows_deleted"] == expect_gone
    assert out["files_rewritten"] >= 1
    got = qt.to_df()
    assert got.count() == li.count() - expect_gone
    assert got.where("l_orderkey < 1000").count() == 0
    # untouched data identical
    keep = li.where("l_orderkey >= 1000")
    assert got.exceptAll(keep).count() == 0
    assert keep.exceptAll(got).count() == 0
    # no more files rewritten than existed, and the table still prunes
    # (at this tiny scale the root cube can overlap every file, so strict
    # < is not guaranteed; the no-match test covers the zero-file case)
    assert out["files_rewritten"] <= len(files_before)
    snap = qt.snapshot(refresh=True)
    pruned = qt._prune_files(snap, [("l_orderkey", ">=", 9000)])
    assert len(pruned) < len(snap.files)


def test_delete_sql_string_and_sampling_stay_exact(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    out = qt.delete("l_extendedprice > 50000.0")
    assert out["rows_deleted"] == li.where("l_extendedprice > 50000.0").count()
    n = qt.to_df().count()
    # sampling still accurate after the rewrite (weights re-assigned)
    s = qt.sample(0.2).count()
    assert abs(s - 0.2 * n) / n < 0.05
    # deterministic: same sample twice
    assert qt.sample(0.2).count() == s


def test_delete_null_semantics(spark, tmp_table):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    out = qt.delete("v > 20.0")
    # NULL comparison doesn't match -> the NULL row survives (SQL DELETE)
    assert out["rows_deleted"] == 1
    left = {r["k"] for r in qt.to_df().collect()}
    assert left == {1, 2}


def test_delete_truncate_is_metadata_only(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    out = qt.delete()
    assert out["rows_deleted"] == li.count()
    assert out["files_rewritten"] == 0
    assert qt.to_df().count() == 0
    # time travel still sees the pre-delete data
    assert qt.to_df(version=out["version"] - 1).count() == li.count()


def test_delete_no_matches_no_commit(spark, table):
    path, _li = table
    qt = qss.QbeastTable.for_path(spark, path)
    v_before = qt.snapshot(refresh=True).version
    out = qt.delete([("l_orderkey", "<", -5)])
    assert out == {"version": None, "rows_deleted": 0,
                   "files_rewritten": 0, "files_scanned": 0}
    assert qt.snapshot(refresh=True).version == v_before


def test_update_non_indexed_column(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    out = qt.update({"l_quantity": "l_quantity + 100"},
                    [("l_orderkey", "<", 500)])
    expect = li.where("l_orderkey < 500").count()
    assert out["rows_updated"] == expect
    got = qt.to_df()
    assert got.count() == li.count()
    bumped = got.where("l_orderkey < 500").agg(
        F.sum("l_quantity").alias("s")).first()["s"]
    base = li.where("l_orderkey < 500").agg(
        F.sum("l_quantity").alias("s")).first()["s"]
    assert float(bumped) == pytest.approx(float(base) + 100 * expect)
    # untouched rows keep their values
    same = got.where("l_orderkey >= 500").exceptAll(
        li.where("l_orderkey >= 500"))
    assert same.count() == 0


def test_update_indexed_column_within_space(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    # move a slice to another in-space position: pruned reads must follow
    out = qt.update({"l_extendedprice": "l_extendedprice + 1.0"},
                    "l_extendedprice < 2000.0")
    assert out["rows_updated"] == li.where(
        "l_extendedprice < 2000.0").count()
    got = qt.read([("l_extendedprice", "<", 2001.0)])
    assert got.count() == li.where("l_extendedprice < 2000.0").count()
    assert qt.to_df().count() == li.count()


def test_update_outside_revision_space_raises(spark, table):
    path, _li = table
    qt = qss.QbeastTable.for_path(spark, path)
    with pytest.raises(ValueError, match="outside the revision space"):
        qt.update({"l_extendedprice": "l_extendedprice + 1e9"},
                  [("l_orderkey", "<", 100)])


def test_update_type_cast_and_unknown_column(spark, table):
    path, _li = table
    qt = qss.QbeastTable.for_path(spark, path)
    with pytest.raises(ValueError, match="unknown column"):
        qt.update({"nope": "1"})
    # int expr into a double column: cast to the declared type
    qt.update({"l_quantity": "7"}, [("l_orderkey", "<", 100)])
    t = dict(qt.to_df().dtypes)["l_quantity"]
    assert t == "double"


def test_delete_on_staging_table(spark, tmp_table):
    li = load(spark, "lineitem").limit(3000)
    qss.convert_to_qbeast_dir = None  # no-op guard against typos
    # staging-only table: write plain parquet then convert
    li.coalesce(2).write.mode("overwrite").parquet(tmp_table)
    import glob
    import os
    for extra in glob.glob(os.path.join(tmp_table, "_SUCCESS")):
        os.remove(extra)
    qss.convert_to_qbeast(spark, tmp_table)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = qt.to_df().count()
    gone = qt.to_df().where("l_orderkey < 500").count()
    out = qt.delete("l_orderkey < 500")
    assert out["rows_deleted"] == gone
    assert qt.to_df().count() == n - gone
    assert qt.to_df().where("l_orderkey < 500").count() == 0


def test_delete_preserves_blooms(spark, tmp_table):
    li = load(spark, "lineitem").withColumn(
        "tag", F.concat(F.lit("t"), F.col("l_orderkey")))
    qss.write(li, tmp_table, columns_to_index=["l_orderkey"],
              cube_size=1000, bloom_columns=["tag"])
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 200)])
    snap = qt.snapshot(refresh=True)
    rewritten = [f for f in snap.files.values() if f.blooms]
    assert rewritten, "rewritten files must keep bloom coverage"
    # absent-key point lookup still prunes to zero files
    assert qt.read([("tag", "==", "no-such-tag")]).count() == 0

# -- MERGE INTO --------------------------------------------------------------

def test_merge_upsert_update_and_insert(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    # delete a key range, then merge it back with modified measures plus
    # matched updates on a surviving range
    qt.delete([("l_orderkey", "<", 800)])
    aggs = []
    for c in li.columns:
        if c == "l_orderkey":
            continue
        elif c == "l_quantity":
            aggs.append(F.lit(99.0).alias(c))
        elif c == "l_returnflag":
            aggs.append(F.lit("M").alias(c))
        else:
            aggs.append(F.min(c).alias(c))
    src = li.where("l_orderkey < 1200").groupBy("l_orderkey").agg(*aggs)
    n_ins = src.where("l_orderkey < 800").count()
    n_upd_rows = li.where("l_orderkey >= 800 AND l_orderkey < 1200").count()
    out = qt.merge(src, on="l_orderkey",
                   when_matched_update={"l_returnflag": "'M'"},
                   when_not_matched_insert="all")
    assert out["rows_inserted"] == n_ins
    assert out["rows_updated"] == n_upd_rows
    got = qt.to_df()
    assert got.count() == li.where("l_orderkey >= 800").count() + n_ins
    # inserted rows carry the source values
    ins = got.where("l_orderkey < 800")
    assert ins.count() == n_ins
    assert ins.where("l_quantity <> 99.0 OR l_returnflag <> 'M'").count() == 0
    # matched rows flagged, everything else untouched
    assert got.where(
        "l_orderkey >= 800 AND l_orderkey < 1200 AND l_returnflag <> 'M'"
    ).count() == 0
    rest = got.where("l_orderkey >= 1200")
    base = li.where("l_orderkey >= 1200")
    assert rest.exceptAll(base).count() == 0
    assert base.exceptAll(rest).count() == 0
    # sampling still works after the merge rewrite
    n = got.count()
    assert abs(qt.sample(0.2).count() - 0.2 * n) / n < 0.05


def test_merge_update_all_takes_source_row(spark, tmp_table):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")], ["k", "v", "s"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame([(2, 200.0, "B"), (4, 400.0, "D")],
                                ["k", "v", "s"])
    out = qt.merge(src, on="k", when_matched_update="all",
                   when_not_matched_insert="all")
    assert out["rows_updated"] == 1 and out["rows_inserted"] == 1
    # k=4 is outside the tiny [1,3] revision space -> staged, not lost
    assert out["inserts_staged"] is True
    got = {r["k"]: (r["v"], r["s"]) for r in qt.to_df().collect()}
    assert got == {1: (10.0, "a"), 2: (200.0, "B"),
                   3: (30.0, "c"), 4: (400.0, "D")}
    # the staging lane is real: optimize() folds it into the index
    qss.optimize_table(spark, tmp_table)
    got2 = {r["k"]: (r["v"], r["s"]) for r in qt.to_df().collect()}
    assert got2 == got


def test_merge_matched_delete(spark, tmp_table):
    df = spark.createDataFrame([(i, float(i)) for i in range(20)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame([(k,) for k in (3, 5, 7, 99)], ["k"])
    out = qt.merge(src, on="k", when_matched_delete=True)
    assert out["rows_deleted"] == 3 and out["rows_inserted"] == 0
    left = {r["k"] for r in qt.to_df().collect()}
    assert left == set(range(20)) - {3, 5, 7}


def test_merge_duplicate_matched_source_keys_raise(spark, tmp_table):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame([(1, 9.0), (1, 8.0), (5, 5.0)], ["k", "v"])
    with pytest.raises(ValueError, match="multiple rows"):
        qt.merge(src, on="k", when_matched_update="all")
    # duplicate UNmatched keys are fine: both rows insert (Delta semantics)
    out = qt.merge(src.where("k = 5").unionAll(src.where("k = 5")),
                   on="k", when_matched_update="all",
                   when_not_matched_insert="all")
    assert out["rows_inserted"] == 2


def test_merge_insert_only_and_expression_insert(spark, tmp_table):
    df = spark.createDataFrame([(1, 1.0, "x")], ["k", "v", "s"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame([(1, 100.0), (2, 2.0)], ["k", "w"])
    # insert-only merge: matched source rows ignored, no files rewritten
    out = qt.merge(src, on="k",
                   when_not_matched_insert={"k": "k", "v": "w * 10"})
    assert out["rows_inserted"] == 1
    assert out["rows_updated"] == 0 and out["files_rewritten"] == 0
    got = {r["k"]: (r["v"], r["s"]) for r in qt.to_df().collect()}
    assert got == {1: (1.0, "x"), 2: (20.0, None)}


def test_merge_out_of_space_inserts_go_to_staging(spark, table):
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    n0 = li.count()
    # inserts beyond the revision space are staged (revision 0) in the
    # same atomic commit, not clamp-indexed and not rejected
    src = (li.limit(5)
           .withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000_000))
    out = qt.merge(src, on="l_orderkey", when_not_matched_insert="all")
    assert out["rows_inserted"] == 5 and out["inserts_staged"] is True
    assert qt.to_df().count() == n0 + 5
    assert qt.to_df().where("l_orderkey >= 10000000000").count() == 5
    # update-only merge against the same wide source still works and the
    # strict in-place update check still raises when moving indexed cols
    with pytest.raises(ValueError, match="outside the revision space"):
        qt.update({"l_extendedprice": "l_extendedprice + 1e9"},
                  [("l_orderkey", "<", 100)])
    # merge with no WHEN clause is rejected
    with pytest.raises(ValueError, match="WHEN clause"):
        qt.merge(li.limit(1), on="l_orderkey")


def test_merge_prunes_pass1_with_source_key_box(spark, table):
    """MERGE's find-matched-files pass prunes candidates with the
    source's key [min, max] box through the index (dml.py pass 1): a
    narrow-key source must scan strictly fewer files than the table
    holds, results identical to an unpruned merge; an all-null-key
    source skips the scan entirely."""
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    n_files = len(qt.file_paths())
    assert n_files > 4          # pruning needs something to prune

    # delete/update report the same observability field
    d = qt.delete([("l_orderkey", ">=", 100000)])          # no matches
    assert d["files_scanned"] < n_files and d["version"] is None
    u = qt.update({"l_quantity": "l_quantity"},
                  [("l_orderkey", "<", 50)])
    assert 0 < u["files_scanned"] < n_files
    # the update rewrote files: refresh the total before the merge
    # assertions so the pruning bound compares against current state
    n_files = len(qt.file_paths())

    src = (li.where("l_orderkey BETWEEN 100 AND 140")
           .select("l_orderkey").distinct())
    n_match = li.where("l_orderkey BETWEEN 100 AND 140").count()
    out = qt.merge(src, on="l_orderkey",
                   when_matched_update={"l_returnflag": "'Z'"})
    assert out["rows_updated"] == n_match
    assert 0 < out["files_scanned"] < n_files, (
        f"box should prune: scanned {out['files_scanned']} of {n_files}")
    got = qt.to_df()
    assert got.where(
        "l_orderkey BETWEEN 100 AND 140 AND l_returnflag <> 'Z'"
    ).count() == 0
    assert got.where(
        "l_returnflag = 'Z' AND l_orderkey NOT BETWEEN 100 AND 140"
    ).count() == 0

    # all-null keys: nothing can match, pass 1 never scans
    src_null = spark.createDataFrame(
        [(None,)], "l_orderkey bigint")
    out2 = qt.merge(src_null, on="l_orderkey",
                    when_matched_update={"l_returnflag": "'X'"})
    assert out2["files_scanned"] == 0
    assert out2["rows_updated"] == 0 and out2["version"] is None

    # insert-only merge over a narrow new-key source: the anti-join
    # right side is box-pruned too, and inserts land correctly
    fresh = li.where("l_orderkey BETWEEN 200 AND 220").withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(90000))
    before = qt.to_df().count()
    out3 = qt.merge(fresh, on="l_orderkey",
                    when_not_matched_insert="all")
    assert out3["rows_inserted"] == fresh.count()
    assert qt.to_df().count() == before + out3["rows_inserted"]


def test_delete_auto_policy_dv_below_threshold(spark, table):
    """r7 verdict task 3 — DV-first DELETE: auto mode (the new default)
    writes deletion vectors when matched rows are a minority of the
    matched files' live rows, and still rewrites for bulk deletes."""
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    # selective: l_orderkey < 40 is a tiny slice of the matched files
    expect_gone = li.where("l_orderkey < 40").count()
    out = qt.delete([("l_orderkey", "<", 40)])
    assert out["rows_deleted"] == expect_gone
    assert out["files_rewritten"] == 0 and out.get("files_dv", 0) >= 1
    assert qt.to_df().count() == li.count() - expect_gone
    # bulk: >50% of every matched file -> auto flips to rewrite
    out2 = qt.delete([("l_orderkey", "<", 1200)])
    assert out2["files_rewritten"] >= 1 and "files_dv" not in out2
    got = qt.to_df()
    keep = li.where("l_orderkey >= 1200")
    assert got.exceptAll(keep).count() == 0
    assert keep.exceptAll(got).count() == 0


def test_update_auto_policy_dv_below_threshold(spark, table):
    """r8 — merge-on-read UPDATE: auto mode masks the matched rows with
    deletion vectors and appends only the post-image rows when they are
    a minority of the matched files' live rows; a bulk update still
    rewrites. Final contents must equal the rewrite-mode result."""
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    expect = li.where("l_orderkey < 60").count()
    out = qt.update({"l_quantity": "l_quantity + 7"},
                    [("l_orderkey", "<", 60)])
    assert out["rows_updated"] == expect
    assert out["files_rewritten"] == 0 and out.get("files_dv", 0) >= 1
    got = qt.to_df()
    assert got.count() == li.count()
    bumped = got.where("l_orderkey < 60").agg(
        F.sum("l_quantity").alias("s")).first()["s"]
    base = li.where("l_orderkey < 60").agg(
        F.sum("l_quantity").alias("s")).first()["s"]
    assert float(bumped) == pytest.approx(float(base) + 7 * expect)
    # untouched rows identical
    assert got.where("l_orderkey >= 60").exceptAll(
        li.where("l_orderkey >= 60")).count() == 0
    # bulk: no filter -> every live row matches -> rewrite
    out2 = qt.update({"l_quantity": "l_quantity"}, None)
    assert out2["files_rewritten"] >= 1 and "files_dv" not in out2


def test_update_dv_and_rewrite_modes_agree(spark, tmp_table):
    """Forced dv vs forced rewrite UPDATE produce identical tables."""
    df = spark.createDataFrame([(i, float(i), "x") for i in range(200)],
                               ["k", "v", "s"])
    paths = [tmp_table + "_a", tmp_table + "_b"]
    for p in paths:
        qss.write(df, p, columns_to_index=["k"], cube_size=50)
    qa = qss.QbeastTable.for_path(spark, paths[0])
    qb = qss.QbeastTable.for_path(spark, paths[1])
    oa = qa.update({"v": "v * 2"}, [("k", "<", 30)], mode="dv")
    ob = qb.update({"v": "v * 2"}, [("k", "<", 30)], mode="rewrite")
    assert oa["rows_updated"] == ob["rows_updated"] == 30
    assert oa["files_rewritten"] == 0 and oa["files_dv"] >= 1
    assert ob["files_rewritten"] >= 1 and "files_dv" not in ob
    a, b = qa.to_df(), qb.to_df()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # pruned reads see the moved values through the DV-masked layout
    assert qa.read([("k", "<", 30)]).agg(
        F.sum("v").alias("s")).first()["s"] == sum(2.0 * i
                                                   for i in range(30))


def test_merge_matched_update_dv_mode(spark, table):
    """Merge-on-read MERGE: a selective matched update masks + appends
    instead of rewriting, with inserts landing in the same commit."""
    path, li = table
    qt = qss.QbeastTable.for_path(spark, path)
    total = li.count()
    src = (li.where("l_orderkey BETWEEN 300 AND 360")
           .select("l_orderkey").distinct())
    n_upd = li.where("l_orderkey BETWEEN 300 AND 360").count()
    out = qt.merge(src, on="l_orderkey",
                   when_matched_update={"l_returnflag": "'Z'"})
    assert out["rows_updated"] == n_upd
    assert out["files_rewritten"] == 0 and out.get("files_dv", 0) >= 1
    got = qt.to_df()
    assert got.count() == total
    assert got.where("l_orderkey BETWEEN 300 AND 360 "
                     "AND l_returnflag <> 'Z'").count() == 0
    assert got.where("l_returnflag = 'Z'").count() == n_upd
    # optimize() rewrites masked files, purges the DVs, keeps contents
    qss.optimize_table(spark, path)
    snap = qt.snapshot(refresh=True)
    assert all(not f.dv for f in snap.files.values())
    got2 = qt.to_df()
    assert got2.count() == total
    assert got2.where("l_returnflag = 'Z'").count() == n_upd


def test_merge_matched_delete_dv_mode(spark, tmp_table):
    """Matched-delete MERGE under forced dv: masks only, no appends,
    plus not-matched inserts in the same atomic commit."""
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=25)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame([(k, -1.0) for k in (3, 5, 7, 64, 42)],
                                ["k", "v"])
    out = qt.merge(src.where("k <> 42"), on="k",
                   when_matched_delete=True,
                   when_not_matched_insert=None, mode="dv")
    assert out["rows_deleted"] == 4 and out["files_rewritten"] == 0
    assert out["files_dv"] >= 1
    left = {r["k"] for r in qt.to_df().collect()}
    assert left == set(range(100)) - {3, 5, 7, 64}
    # delete + not-matched insert in ONE dv commit: 8/9 match (masked),
    # 200 is new and must land as an appended row in the same version
    src2 = spark.createDataFrame([(8, -1.0), (9, -1.0), (200, 7.5)],
                                 ["k", "v"])
    out2 = qt.merge(src2, on="k", when_matched_delete=True,
                    when_not_matched_insert="all", mode="dv")
    assert out2["rows_deleted"] == 2 and out2["rows_inserted"] == 1
    assert out2["files_rewritten"] == 0 and out2["files_dv"] >= 1
    got = {r["k"]: r["v"] for r in qt.to_df().collect()}
    assert 8 not in got and 9 not in got
    # k=200 is outside the [0,99] revision space -> staged lane, still
    # readable in the same committed version
    assert got[200] == 7.5 and out2["inserts_staged"]


def test_update_dv_cdf_images(spark, tmp_table):
    """CDF pre/post images are identical whether the UPDATE masked or
    rewrote (the frames are computed before the physical strategy)."""
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=25)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.enable_change_data_feed()
    out = qt.update({"v": "v + 0.5"}, [("k", "<", 10)], mode="dv")
    assert out["files_dv"] >= 1
    ch = qt.table_changes(out["version"], out["version"])
    pre = ch.where("_change_type = 'update_preimage'")
    post = ch.where("_change_type = 'update_postimage'")
    assert pre.count() == 10 and post.count() == 10
    assert float(post.agg(F.sum("v").alias("s")).first()["s"]) == \
        pytest.approx(sum(range(10)) + 5.0)


def test_update_dv_outside_revision_space_raises(spark, table):
    """The revision-space guard holds in dv mode (it checks the post
    rows — the only rows the mode writes)."""
    path, _li = table
    qt = qss.QbeastTable.for_path(spark, path)
    with pytest.raises(ValueError, match="outside the revision space"):
        qt.update({"l_extendedprice": "l_extendedprice + 1e9"},
                  [("l_orderkey", "<", 100)], mode="dv")


def test_update_nondeterministic_predicate_rejected(spark, tmp_table):
    """r8/r9: EVERY update strategy evaluates the predicate in multiple
    jobs (match counts, mask or rewrite, CDC), so a Catalyst-proven
    nondeterministic predicate is rejected in ALL modes (Delta parity —
    the r8 auto-fallback-to-rewrite still committed a different sample
    than it reported)."""
    df = spark.createDataFrame([(i, float(i)) for i in range(500)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=100)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    for mode in ("dv", "rewrite", "auto"):
        with pytest.raises(ValueError, match="deterministic"):
            qt.update({"v": "0.0"}, "rand() < 0.05", mode=mode)
    assert qt.to_df().count() == 500      # nothing committed


def test_merge_auto_threshold_split_by_clause(spark, tmp_table):
    """r8 review: a matched-DELETE merge is a delete (mask only) and
    uses DELETE's 0.5 bar; a matched-UPDATE merge masks AND appends and
    uses the stricter 0.25 bar — at a ~0.3 matched fraction the two
    clauses pick different physical modes."""
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               ["k", "v"])
    paths = [tmp_table + "_d", tmp_table + "_u"]
    for p in paths:
        qss.write(df, p, columns_to_index=["k"], cube_size=500)
    # one file of 100 rows -> matched fraction is exactly n/100
    src = spark.createDataFrame([(k,) for k in range(30)], ["k"])
    qd = qss.QbeastTable.for_path(spark, paths[0])
    out_d = qd.merge(src, on="k", when_matched_delete=True)
    assert out_d["files_rewritten"] == 0 and out_d.get("files_dv", 0) >= 1
    assert qd.to_df().count() == 70
    qu = qss.QbeastTable.for_path(spark, paths[1])
    out_u = qu.merge(src.withColumn("v", F.lit(-1.0)), on="k",
                     when_matched_update="all")
    assert out_u["files_rewritten"] >= 1 and "files_dv" not in out_u
    assert qu.to_df().where("v = -1.0").count() == 30


def test_delete_update_txn_epochs(spark, tmp_table):
    """r8: every DML verb speaks the (appId, version) epoch protocol —
    replays skip, no-op epochs still advance the high-water mark."""
    df = spark.createDataFrame([(i, float(i)) for i in range(50)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=100)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    out = qt.delete([("k", "<", 5)], txn_app_id="job", txn_version=1)
    assert out["rows_deleted"] == 5
    replay = qt.delete([("k", "<", 20)], txn_app_id="job", txn_version=1)
    assert replay.get("skipped_txn") is True
    assert qt.to_df().count() == 45       # the replayed epoch did nothing
    out2 = qt.update({"v": "v + 1"}, [("k", ">=", 40)],
                     txn_app_id="job", txn_version=2)
    assert out2["rows_updated"] == 10
    r2 = qt.update({"v": "v + 1"}, [("k", ">=", 40)],
                   txn_app_id="job", txn_version=2)
    assert r2.get("skipped_txn") is True
    assert qt.to_df().agg(F.sum("v").alias("s")).first()["s"] == \
        sum(range(5, 50)) + 10
    # no-op epoch advances the mark
    out3 = qt.delete([("k", "<", -1)], txn_app_id="job", txn_version=5)
    assert out3["version"] is not None
    assert qt.snapshot(refresh=True).txns.get("job") == 5


def test_delete_nondeterministic_predicate_rejected(spark, tmp_table):
    """r9: DELETE evaluates the predicate in three independent jobs
    (match counts, mask or survivors scan, CDC frame) in EVERY mode, so
    a Catalyst-proven nondeterministic predicate is rejected outright
    (Delta parity); deterministic predicates keep working."""
    df = spark.createDataFrame([(i, float(i)) for i in range(500)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=100)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    for mode in ("dv", "rewrite", "auto"):
        with pytest.raises(ValueError, match="deterministic"):
            qt.delete("rand() < 0.05", mode=mode)
    assert qt.to_df().count() == 500      # nothing committed
    out = qt.delete([("k", "<", 10)])     # deterministic still works
    assert out["rows_deleted"] == 10 and qt.to_df().count() == 490


def test_merge_pins_nondeterministic_source(spark, tmp_table):
    """r9 advice: MERGE pass 1 (file discovery) and pass 2 (mask /
    post-image) must see the SAME source rows. With an unpinned
    rand()-filtered source each pass would re-sample; pinned, the
    merged table is exactly consistent with the reported counts."""
    df = spark.createDataFrame([(i, float(i), "keep")
                                for i in range(2000)], ["k", "v", "tag"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    # nondeterministic source: ~3% of keys, re-sampled per evaluation
    # if not pinned (16 partitions so a re-run reshuffles the sample)
    src = (spark.range(0, 2000, 1, 16)
           .withColumnRenamed("id", "k")
           .where("rand() < 0.03")
           .withColumn("v", F.lit(-1.0))
           .withColumn("tag", F.lit("hit")))
    out = qt.merge(src, on="k", when_matched_update="all",
                   when_not_matched_insert=None)
    got = qt.to_df().where("tag = 'hit'").count()
    assert got == out["rows_updated"]
    assert qt.to_df().count() == 2000     # no rows lost or duplicated
    # same invariant through the dv lane on a fresh sampled source
    src2 = (spark.range(0, 2000, 1, 16)
            .withColumnRenamed("id", "k")
            .where("rand() < 0.02")
            .withColumn("v", F.lit(-2.0))
            .withColumn("tag", F.lit("hit2")))
    out2 = qt.merge(src2, on="k", when_matched_update="all",
                    when_not_matched_insert=None, mode="dv")
    assert qt.to_df().where("tag = 'hit2'").count() == \
        out2["rows_updated"]
    assert qt.to_df().count() == 2000


def test_merge_releases_pins_on_error(spark, tmp_table):
    """r9 review: a merge that raises AFTER pinning its source (e.g.
    the multiple-source-match guard) must unpersist everything — a
    retrying caller would otherwise accumulate pinned storage."""
    df = spark.createDataFrame([(i, float(i)) for i in range(200)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=100)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)], ["k", "v"])
    for _ in range(3):
        with pytest.raises(ValueError, match="multiple rows"):
            qt.merge(dup, on="k", when_matched_update="all")
    assert jsc.getPersistentRDDs().size() == base


def test_source_safe_to_rescan_shapes(spark):
    """Catalyst-proof gate for merge's source pin (r10): deterministic
    plans over stable leaves are rescan-safe; rand/sample/limit/
    subqueries/streams are not."""
    from qbeast_spark_spark.sources.dml import _source_safe_to_rescan

    pq = load(spark, "nation")
    assert _source_safe_to_rescan(pq)
    assert _source_safe_to_rescan(
        pq.where("n_nationkey > 3").select("n_name", "n_nationkey"))
    assert _source_safe_to_rescan(
        pq.join(pq.select("n_nationkey"), "n_nationkey")
        .groupBy("n_regionkey" if "n_regionkey" in pq.columns else
                 "n_nationkey").agg(F.count("*").alias("c")))
    assert _source_safe_to_rescan(
        spark.createDataFrame([(1, "a")], "k int, v string"))
    assert _source_safe_to_rescan(spark.range(5))
    # unsafe shapes
    assert not _source_safe_to_rescan(pq.where(F.rand(7) > 0.5))
    assert not _source_safe_to_rescan(pq.sample(0.5, seed=1))
    assert not _source_safe_to_rescan(pq.limit(3))
    assert not _source_safe_to_rescan(pq.offset(3))
    # r10 review: whole-row dedup is set-deterministic, subset dedup
    # keeps an arbitrary row per key; first/last/any_value are
    # order-dependent even though Catalyst calls them deterministic
    assert _source_safe_to_rescan(pq.distinct())
    assert _source_safe_to_rescan(pq.select("n_nationkey").distinct())
    assert not _source_safe_to_rescan(pq.dropDuplicates(["n_regionkey"]))
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(F.first("n_name")))
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(F.any_value("n_name")))
    # Window: tied orderings can break differently per shuffle
    # execution even with deterministic expressions (r10 review)
    from pyspark.sql import Window
    rn = F.row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_name"))
    assert not _source_safe_to_rescan(
        pq.withColumn("rn", rn).where("rn = 1"))
    pq.createOrReplaceTempView("__rescan_nation")
    assert not _source_safe_to_rescan(spark.sql(
        "select * from __rescan_nation where n_nationkey > "
        "(select min(n_nationkey) from __rescan_nation)"))
    spark.catalog.dropTempView("__rescan_nation")
    # r11 review: collect_list/collect_set array ORDERING tracks
    # partition arrival order; current_timestamp/current_date are
    # stamped per QueryExecution (ComputeCurrentTime), and each merge
    # pass is its own QueryExecution — all pin
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(F.collect_list("n_name")))
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(F.collect_set("n_name")))
    assert not _source_safe_to_rescan(
        pq.where(F.col("n_nationkey") < F.unix_timestamp(
            F.current_timestamp())))
    assert not _source_safe_to_rescan(
        pq.withColumn("d", F.current_date()))
    # sketch/tie-broken aggregates: result depends on merge order even
    # though Catalyst marks them deterministic (r11 review)
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(
            F.percentile_approx("n_nationkey", 0.5)))
    assert not _source_safe_to_rescan(
        pq.groupBy("n_regionkey").agg(F.mode("n_name")))


def test_source_rescan_requires_pinned_file_index(spark, tmp_path):
    """r11 review (ADVICE medium): only InMemoryFileIndex-backed scans
    (spark.read.parquet) capture their file list at analysis time; a
    catalog table source (CatalogFileIndex) re-lists files per query
    execution, so it must PIN even though the leaf is a
    HadoopFsRelation."""
    from qbeast_spark_spark.sources.dml import (
        _source_safe_to_rescan, _file_index_pinned)

    p = str(tmp_path / "cat_src")
    spark.range(10).write.parquet(p)
    direct = spark.read.parquet(p)
    assert _source_safe_to_rescan(direct)
    leaf = direct._jdf.queryExecution().analyzed()
    assert _file_index_pinned(leaf.relation())

    # a PARTITIONED catalog table defers its file listing to a
    # CatalogFileIndex (non-partitioned ones list eagerly into an
    # InMemoryFileIndex at resolution and are genuinely pinned)
    p2 = str(tmp_path / "cat_src_part")
    spark.range(10).withColumn("pt", F.col("id") % 2) \
        .write.partitionBy("pt").parquet(p2)
    spark.sql("DROP TABLE IF EXISTS __rescan_cat_tbl")
    spark.sql(f"CREATE TABLE __rescan_cat_tbl (id bigint, pt bigint) "
              f"USING parquet PARTITIONED BY (pt) LOCATION '{p2}'")
    spark.sql("MSCK REPAIR TABLE __rescan_cat_tbl")
    try:
        cat = spark.table("__rescan_cat_tbl")
        assert not _source_safe_to_rescan(cat)
    finally:
        spark.sql("DROP TABLE IF EXISTS __rescan_cat_tbl")


def test_merge_source_pin_skipped_for_deterministic_source(
        spark, tmp_table, monkeypatch):
    """Delta materialize-source parity (VERDICT r9 Next #3): a merge
    whose source plan Catalyst proves rescan-stable runs WITHOUT the
    source persist — the streaming upsert sink's per-batch shape — while
    materialize_source='all' and nondeterministic sources still pin."""
    df = spark.createDataFrame([(i, float(i)) for i in range(1000)],
                               ["k", "v"])
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=200)
    qt = qss.QbeastTable.for_path(spark, tmp_table)

    # patch the CONCRETE DataFrame class (pyspark 4's classic subclass
    # overrides persist, so patching the pyspark.sql.DataFrame base
    # would intercept nothing)
    cls = type(df)
    calls = []
    orig = cls.persist

    def counting(self, *a, **kw):
        calls.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", counting)

    # deterministic insert-only upsert: only the INSERT frame pins
    src = spark.createDataFrame([(i, -1.0) for i in range(1000, 1100)],
                                ["k", "v"])
    out = qt.merge(src, on="k", when_matched_update="all",
                   when_not_matched_insert="all")
    assert out["rows_inserted"] == 100 and out["rows_updated"] == 0
    n_auto = len(calls)

    calls.clear()
    src2 = spark.createDataFrame([(i, -2.0) for i in range(1100, 1200)],
                                 ["k", "v"])
    qt.merge(src2, on="k", when_matched_update="all",
             when_not_matched_insert="all", materialize_source="all")
    assert len(calls) == n_auto + 1, "materialize_source='all' must pin"

    calls.clear()
    src3 = (spark.range(0, 1000, 1, 8).withColumnRenamed("id", "k")
            .where("rand() < 0.05").withColumn("v", F.lit(-3.0)))
    qt.merge(src3, on="k", when_matched_update="all")
    assert len(calls) >= 1, "nondeterministic source must still pin"

    with pytest.raises(ValueError, match="materialize_source"):
        qt.merge(src2, on="k", when_matched_update="all",
                 materialize_source="never")

    assert qt.to_df().where("k >= 1000").count() == 200


def _listing(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _dirs, files in os.walk(path) for f in files)


@pytest.fixture()
def keyed(spark, tmp_path):
    """lineitem with a unique ``id`` merge key (the test data repeats
    (l_orderkey, l_linenumber)), indexed like ``table``."""
    raw = str(tmp_path / "keyed.parquet")
    (load(spark, "lineitem").withColumn("id", F.monotonically_increasing_id())
     .write.parquet(raw))
    li = spark.read.parquet(raw)
    path = str(tmp_path / "keyed")
    qss.write(li, path, columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    return path, li


def _dv_target(spark, path, li):
    """The table with a deletion vector on some files."""
    qt = qss.QbeastTable.for_path(spark, path)
    qt.delete([("l_orderkey", "<", 200)], mode="dv")
    return qt, li.where("l_orderkey >= 200")


def _upsert_source(li):
    """Rows 1000-1100 with a changed quantity (matches) plus rows
    2000-2100 under new ids (inserts)."""
    upd = (li.where("l_orderkey BETWEEN 1000 AND 1100")
           .withColumn("l_quantity", F.col("l_quantity") + 100))
    new = (li.where("l_orderkey BETWEEN 2000 AND 2100")
           .withColumn("id", F.col("id") + (1 << 40)))
    return upd.unionByName(new)


def test_merge_dv_upsert_runs_one_match_pass(spark, keyed):
    """A dv-mode upsert into a DV'd target scans the target once: the key
    box, the match pass, the insert aggregate, the mask and the write stay
    within 14 Spark jobs (two passes ran 23)."""
    path, li = keyed
    qt, live = _dv_target(spark, path, li)
    src = _upsert_source(li)
    n_upd = li.where("l_orderkey BETWEEN 1000 AND 1100").count()
    n_ins = li.where("l_orderkey BETWEEN 2000 AND 2100").count()
    sc = spark.sparkContext
    sc.setJobGroup("merge-one-pass", "merge-one-pass")
    try:
        out = qt.merge(src, on="id",
                       when_matched_update="all",
                       when_not_matched_insert="all", mode="dv")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge-one-pass")
    assert len(jobs) <= 14, len(jobs)
    assert out["rows_updated"] == n_upd and out["rows_inserted"] == n_ins
    assert out["files_dv"] >= 1 and out["files_rewritten"] == 0
    want = (live.where("NOT l_orderkey BETWEEN 1000 AND 1100")
            .unionByName(src))
    got = qt.to_df()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


@pytest.mark.parametrize("mode", ["dv", "rewrite"])
def test_merge_multiple_match_raises_before_writing(spark, keyed, mode):
    path, li = keyed
    qt, _live = _dv_target(spark, path, li)
    before, version = _listing(path), qt.snapshot(refresh=True).version
    src = _upsert_source(li)
    dup = src.unionByName(src.where("l_orderkey = 1000"))
    with pytest.raises(ValueError, match="multiple rows"):
        qt.merge(dup, on="id",
                 when_matched_update="all", when_not_matched_insert="all",
                 mode=mode)
    assert _listing(path) == before
    assert qt.snapshot(refresh=True).version == version


def test_merge_null_keys_insert(spark, tmp_table):
    """NULL source keys never match, so they insert."""
    df = spark.createDataFrame([(i, float(i)) for i in range(20)],
                               "k long, v double")
    qss.write(df, tmp_table, columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    src = spark.createDataFrame(
        [(None, 1.5), (None, 2.5), (3, 30.0), (50, 5.0)],
        "k long, v double")
    out = qt.merge(src, on="k", when_matched_update="all",
                   when_not_matched_insert="all")
    assert out["rows_updated"] == 1 and out["rows_inserted"] == 3
    got = sorted((r["k"] if r["k"] is not None else -1, r["v"])
                 for r in qt.to_df().collect())
    want = sorted([(i, float(i)) for i in range(20) if i != 3] +
                  [(3, 30.0), (50, 5.0), (-1, 1.5), (-1, 2.5)])
    assert got == want


def test_merge_insert_only_into_dv_target(spark, keyed):
    """Keys whose target rows a DV already masked insert again; keys of
    live rows do not; new keys insert."""
    path, li = keyed
    qt, live = _dv_target(spark, path, li)
    src = li.where("l_orderkey BETWEEN 150 AND 250")
    masked = src.where("l_orderkey < 200")
    out = qt.merge(src, on="id",
                   when_not_matched_insert="all")
    assert out["rows_inserted"] == masked.count()
    assert out["files_rewritten"] == 0 and out["rows_updated"] == 0
    want = live.unionByName(masked)
    got = qt.to_df()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_merge_match_frame_pins_only_what_is_read(spark, keyed,
                                                  monkeypatch):
    """Without CDF, a matched-delete merge reads only the keys, the file
    and the position of its matched rows, so only those are persisted."""
    path, li = keyed
    qt = qss.QbeastTable.for_path(spark, path)
    pinned = []
    orig = type(li).persist

    def spy(self, *a, **k):
        pinned.append(self.columns)
        return orig(self, *a, **k)

    monkeypatch.setattr(type(li), "persist", spy)
    src = li.where("l_orderkey BETWEEN 1000 AND 1100")
    n = src.count()
    out = qt.merge(src, on="id", when_matched_delete=True)
    assert out["rows_deleted"] == n
    assert [c for c in pinned if "_f" in c] == [["id", "_f", "_ri"]]
    assert qt.to_df().count() == li.count() - n
    assert qt.to_df().where("l_orderkey BETWEEN 1000 AND 1100").count() == 0
