"""Change data feed (sources/cdf.py): Delta CDF parity over the commit
log — derived decode for appends/truncates/overwrites, explicit change
files for DML, and the failure mode for pre-CDF rewrites."""

import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from tests.conftest import load


def _mk(spark, path, n=300, cube=100):
    li = load(spark, "lineitem").limit(n)
    qss.write(li, path, columns_to_index=["l_orderkey"], cube_size=cube)
    return qss.QbeastTable.for_path(spark, path)


def _types(df):
    return {r["_change_type"]: r["count"]
            for r in df.groupBy("_change_type").count().collect()}


def test_appends_decode_as_inserts_without_the_property(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    li = load(spark, "lineitem")
    qss.write(li.limit(500), tmp_table, columns_to_index=["l_orderkey"],
              cube_size=100, mode="append")
    ch = qt.table_changes(0)
    assert _types(ch) == {"insert": 700}
    # range scoping + commit metadata
    ch1 = qt.table_changes(1, 1)
    assert _types(ch1) == {"insert": 500}
    assert ch1.select("_commit_version").distinct().collect()[0][0] == 1
    assert ch1.schema["_commit_timestamp"].dataType.typeName() \
        == "timestamp"


def test_overwrite_and_truncate_decode(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    li = load(spark, "lineitem")
    qss.write(li.limit(50), tmp_table, columns_to_index=["l_orderkey"],
              cube_size=100, mode="overwrite")
    assert _types(qt.table_changes(1, 1)) == {"delete": 200, "insert": 50}
    qt.delete()                                     # truncate: pure removes
    assert _types(qt.table_changes(2, 2)) == {"delete": 50}


def test_pre_cdf_rewrite_commits_raise(spark, tmp_table):
    qt = _mk(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 100)], mode="rewrite")
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        qt.table_changes(1, 1).count()
    qt2 = _mk(spark, tmp_table + "_dv")
    qt2.delete([("l_orderkey", "<", 100)], mode="dv")
    with pytest.raises(ValueError, match="deletion-vector"):
        qt2.table_changes(1, 1).count()


def test_delete_rewrite_records_change_rows(spark, tmp_table):
    qt = _mk(spark, tmp_table)
    qt.enable_change_data_feed()
    r = qt.delete([("l_orderkey", "<", 100)], mode="rewrite")
    ch = qt.table_changes(r["version"], r["version"])
    assert _types(ch) == {"delete": r["rows_deleted"]}
    assert ch.where("l_orderkey >= 100").count() == 0


def test_delete_dv_records_change_rows(spark, tmp_table):
    qt = _mk(spark, tmp_table)
    qt.enable_change_data_feed()
    r1 = qt.delete([("l_orderkey", "<", 50)], mode="dv")
    r2 = qt.delete([("l_orderkey", "<", 100)], mode="dv")
    ch2 = qt.table_changes(r2["version"], r2["version"])
    # second dv delete records only the NEWLY deleted rows
    assert _types(ch2) == {"delete": r2["rows_deleted"]}
    assert ch2.where("l_orderkey < 50").count() == 0


def test_update_records_pre_and_post_images(spark, tmp_table):
    qt = _mk(spark, tmp_table)
    qt.enable_change_data_feed()
    r = qt.update({"l_quantity": "l_quantity + 1000"},
                  [("l_orderkey", "<", 100)])
    ch = qt.table_changes(r["version"], r["version"])
    t = _types(ch)
    assert t == {"update_preimage": r["rows_updated"],
                 "update_postimage": r["rows_updated"]}
    pre_sum = ch.where("_change_type = 'update_preimage'") \
        .agg(F.sum("l_quantity")).collect()[0][0]
    post_sum = ch.where("_change_type = 'update_postimage'") \
        .agg(F.sum("l_quantity")).collect()[0][0]
    assert float(post_sum) == pytest.approx(
        float(pre_sum) + 1000 * r["rows_updated"])


def test_merge_records_all_clauses(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    qt.enable_change_data_feed()
    li = load(spark, "lineitem")
    # source: updates for existing keys + brand-new keys to insert
    src = (qt.to_df().select("l_orderkey").distinct().limit(5)
           .withColumn("l_quantity", F.lit(999.0))
           .unionByName(
               spark.range(900001, 900004)
               .select(F.col("id").alias("l_orderkey"),
                       F.lit(1.0).alias("l_quantity"))))
    r = qt.merge(src, on="l_orderkey",
                 when_matched_update={"l_quantity": "__src_l_quantity"},
                 when_not_matched_insert={"l_quantity": "l_quantity"})
    ch = qt.table_changes(r["version"], r["version"])
    t = _types(ch)
    assert t["insert"] == r["rows_inserted"] == 3
    assert t["update_preimage"] == t["update_postimage"] \
        == r["rows_updated"] > 0
    assert ch.where("_change_type = 'update_postimage' "
                    "AND l_quantity != 999.0").count() == 0


def test_merge_delete_records_deletes(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    qt.enable_change_data_feed()
    src = qt.to_df().select("l_orderkey").distinct().limit(3)
    r = qt.merge(src, on="l_orderkey", when_matched_delete=True)
    ch = qt.table_changes(r["version"], r["version"])
    assert _types(ch) == {"delete": r["rows_deleted"]}


def test_changes_compose_across_range(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    qt.enable_change_data_feed()
    li = load(spark, "lineitem")
    qss.write(li.limit(300), tmp_table, columns_to_index=["l_orderkey"],
              cube_size=100, mode="append")
    qt.delete([("l_orderkey", "<", 10)])
    qt.optimize()          # dataChange=false: contributes nothing
    ch = qt.table_changes(2)
    t = _types(ch)
    assert t["insert"] == 300 and t.get("delete", 0) > 0
    assert set(r[0] for r in
               ch.select("_commit_version").distinct().collect()) \
        == {2, 3}


def test_ds_read_change_feed_matches_native(spark, tmp_table):
    """format('qbeast').option('readChangeFeed') decodes the identical
    rows as qt.table_changes — pure-Arrow decode in the data source."""
    from qbeast_spark_spark.sources.pyds import register

    register(spark)
    qt = _mk(spark, tmp_table, n=250)
    qt.enable_change_data_feed()
    qt.update({"l_quantity": "l_quantity * 2"}, [("l_orderkey", "<", 80)])
    qt.delete([("l_orderkey", ">=", 9000)], mode="dv")
    native = qt.table_changes(0)
    ds = (spark.read.format("qbeast").option("readChangeFeed", "true")
          .option("startingVersion", 0).load(tmp_table)
          .select(*native.columns))
    assert ds.exceptAll(native).count() == 0
    assert native.exceptAll(ds).count() == 0
    # bounded range
    ds2 = (spark.read.format("qbeast").option("readChangeFeed", "true")
           .option("startingVersion", 2).option("endingVersion", 2)
           .load(tmp_table))
    assert set(r[0] for r in
               ds2.select("_change_type").distinct().collect()) \
        == {"update_preimage", "update_postimage"}
    # missing startingVersion -> clear error
    with pytest.raises(Exception, match="startingVersion"):
        spark.read.format("qbeast").option("readChangeFeed", "true") \
            .load(tmp_table).count()


def test_vacuum_ages_out_change_files(spark, tmp_table):
    import os

    qt = _mk(spark, tmp_table, n=200)
    qt.enable_change_data_feed()
    r = qt.delete([("l_orderkey", "<", 100)], mode="rewrite")
    assert qt.table_changes(r["version"]).count() > 0
    # within retention nothing is deletable
    assert not [v for v in qt.vacuum(dry_run=True)
                if v.startswith("_change_data")]
    # age everything and vacuum with zero retention
    victims = qt.vacuum(retention_hours=0.0)
    assert any(v.startswith("_change_data") for v in victims)
    assert not os.listdir(os.path.join(tmp_table, "_change_data"))
    with pytest.raises(ValueError, match="vacuumed"):
        qt.table_changes(r["version"]).count()
    # the table itself stays perfectly readable
    assert qt.to_df().count() > 0


def test_streaming_change_feed(spark, tmp_path):
    """readStream + readChangeFeed: DELETE/UPDATE commits stream as
    change rows (pre/post images) instead of killing the stream."""
    from qbeast_spark_spark.sources.pyds import register

    register(spark)
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    qt = _mk(spark, src, n=200)
    qt.enable_change_data_feed()

    def run():
        q = (spark.readStream.format("qbeast")
             .option("readChangeFeed", "true").load(src)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    got = spark.read.parquet(out)
    assert _types(got) == {"insert": 200}     # initial snapshot
    r = qt.update({"l_quantity": "l_quantity + 1"},
                  [("l_orderkey", "<", 60)])
    rd = qt.delete([("l_orderkey", "<", 30)], mode="dv")
    assert rd["rows_deleted"] > 0
    run()
    got = spark.read.parquet(out)
    t = _types(got)
    assert t["insert"] == 200
    assert t["update_preimage"] == t["update_postimage"] \
        == r["rows_updated"] > 0
    assert t.get("delete", 0) > 0
    assert got.where("_commit_version IS NULL").count() == 0


def test_restore_decodes_as_delete_plus_insert(spark, tmp_table):
    qt = _mk(spark, tmp_table, n=200)
    li = load(spark, "lineitem")
    qss.write(li.limit(50), tmp_table, columns_to_index=["l_orderkey"],
              cube_size=100, mode="overwrite")
    v = qt.restore(0)       # back to the 200-row state, as a new commit
    ch = qt.table_changes(v, v)
    t = _types(ch)
    assert t == {"delete": 50, "insert": 200}
    assert qt.to_df().count() == 200


@pytest.mark.parametrize("mode", ["dv", "rewrite"])
@pytest.mark.parametrize("ansi", ["true", "false"])
def test_merge_images_from_one_match_pass(spark, tmp_table, ansi, mode):
    """MERGE's change rows come from its one match pass: pre-images are
    the matched target rows, post-images carry the assigned values,
    inserts the new rows, and a matched-delete records the removed rows —
    in dv and rewrite mode, under ANSI on and off."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                                   "k long, v double")
        qss.write(df, tmp_table, columns_to_index=["k"], cube_size=25)
        qt = qss.QbeastTable.for_path(spark, tmp_table)
        qt.enable_change_data_feed()
        qt.delete([("k", "<", 5)], mode="dv")
        src = spark.createDataFrame(
            [(3, -3.0), (10, -10.0), (11, -11.0), (None, 7.0), (500, 5.0)],
            "k long, v double")
        r = qt.merge(src, on="k",
                     when_matched_update={"v": "__src_v * 2"},
                     when_not_matched_insert="all", mode=mode)
        assert (r["rows_updated"], r["rows_inserted"]) == (2, 3)
        ch = qt.table_changes(r["version"], r["version"])

        def rows(kind):
            return sorted(((x["k"], x["v"]) for x in ch.where(
                f"_change_type = '{kind}'").collect()), key=str)

        assert rows("update_preimage") == [(10, 10.0), (11, 11.0)]
        assert rows("update_postimage") == [(10, -20.0), (11, -22.0)]
        # k=3 was masked by the DV, so it inserts; NULL keys never match
        assert rows("insert") == sorted(
            [(3, -3.0), (None, 7.0), (500, 5.0)], key=str)

        d = qt.merge(spark.createDataFrame([(20,), (21,), (999,)], "k long"),
                     on="k", when_matched_delete=True, mode=mode)
        assert d["rows_deleted"] == 2
        ch = qt.table_changes(d["version"], d["version"])
        assert _types(ch) == {"delete": 2}
        assert rows("delete") == [(20, 20.0), (21, 21.0)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
