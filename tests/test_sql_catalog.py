"""SQL statement surface (sources/catalog.py) — the Python-level C1.

Reference behaviors mirrored: catalog/QbeastCatalog.scala:48-355
(createTable / stageCreate / alterTable / dropTable),
catalog/QbeastCatalogUtils.scala:124-315 (verifySchema / updateLog /
partitioning refusal), docs/Quickstart.md:200-290 (CREATE USING qbeast,
OPTIONS, LOCATION, INSERT INTO VALUES).
"""
import os

import pytest

from qbeast_spark_spark.sources.catalog import (QbeastSqlCatalog,
                                                _parse_column_stats,
                                                _parse_kv_list)
from tests.conftest import TESTDATA, load


@pytest.fixture()
def cat(spark, tmp_path):
    """A catalog over a fresh warehouse directory."""
    return QbeastSqlCatalog(spark, str(tmp_path / "wh"))


def _rows(df):
    return sorted([tuple(r) for r in df.collect()])


# -- CREATE ------------------------------------------------------------------


def test_create_schema_insert_select(spark, cat):
    cat.sql("CREATE TABLE t (id INT, age STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=100)")
    assert cat.sql("SELECT * FROM t").count() == 0
    assert [f.name for f in cat.sql("SELECT * FROM t").schema.fields] \
        == ["id", "age"]
    cat.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert _rows(cat.sql("SELECT id, age FROM t")) \
        == [(1, "a"), (2, "b"), (3, "c")]


def test_create_if_not_exists_and_duplicate(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast")
    cat.sql("CREATE TABLE IF NOT EXISTS t (id INT) USING qbeast")  # no-op
    with pytest.raises(ValueError, match="already exists"):
        cat.sql("CREATE TABLE t (id INT) USING qbeast")


def test_create_partitioned_refused(spark, cat):
    # QbeastCatalogUtils.scala:269-274
    with pytest.raises(ValueError, match="does not support partitioning"):
        cat.sql("CREATE TABLE p (x INT) USING qbeast PARTITIONED BY (x)")


def test_create_managed_without_schema_refused(spark, cat):
    with pytest.raises(ValueError, match="without any schema"):
        cat.sql("CREATE TABLE nos USING qbeast")


def test_ctas_and_or_replace(spark, cat):
    li = load(spark, "lineitem").limit(200)
    li.createOrReplaceTempView("ctas_src")
    cat.sql("CREATE TABLE c USING qbeast "
            "OPTIONS ('columnsToIndex'='l_orderkey') "
            "AS SELECT * FROM ctas_src")
    assert cat.sql("SELECT COUNT(*) AS n FROM c").collect()[0].n == 200
    cat.sql("CREATE OR REPLACE TABLE c USING qbeast "
            "OPTIONS ('columnsToIndex'='l_orderkey') "
            "AS SELECT * FROM ctas_src LIMIT 50")
    assert cat.sql("SELECT COUNT(*) AS n FROM c").collect()[0].n == 50


def test_external_location_adoption_and_schema_check(spark, cat, tmp_path):
    # verifySchema parity (QbeastCatalogUtils.scala:124-154)
    from qbeast_spark_spark import write_qbeast

    ext = str(tmp_path / "ext")
    write_qbeast(load(spark, "lineitem").limit(10), ext,
                 columns_to_index=["l_orderkey"], cube_size=100)
    cat.sql(f"CREATE TABLE ext_t USING qbeast LOCATION '{ext}'")
    assert cat.sql("SELECT COUNT(*) AS n FROM ext_t").collect()[0].n == 10
    with pytest.raises(ValueError, match="different schema"):
        cat.sql(f"CREATE TABLE ext2 (wrong INT) USING qbeast "
                f"LOCATION '{ext}'")
    # DROP of an external table keeps the files
    cat.sql("DROP TABLE ext_t")
    assert "ext_t" not in cat.tables()
    assert os.path.exists(ext)


def test_external_without_schema_or_data_refused(spark, cat, tmp_path):
    with pytest.raises(ValueError, match="External Table without"):
        cat.sql(f"CREATE TABLE e USING qbeast "
                f"LOCATION '{tmp_path / 'nowhere'}'")


def test_non_qbeast_create_delegates(spark, cat, tmp_path):
    cat.sql("CREATE TABLE qt (id INT) USING qbeast")
    cat.sql("INSERT INTO qt VALUES (7)")
    # a parquet CTAS *from* a qbeast table goes through spark.sql with
    # the qbeast view registered
    out = str(tmp_path / "pq")
    cat.sql(f"CREATE TABLE pq_t USING parquet LOCATION '{out}' "
            f"AS SELECT * FROM qt")
    assert spark.read.parquet(out).collect()[0].id == 7
    spark.sql("DROP TABLE IF EXISTS pq_t")


# -- INSERT ------------------------------------------------------------------


def test_insert_column_list_null_fill(spark, cat):
    cat.sql("CREATE TABLE t (id INT, age STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t (age) VALUES ('only-age')")
    row = cat.sql("SELECT id, age FROM t").collect()[0]
    assert row.id is None and row.age == "only-age"
    with pytest.raises(ValueError, match="unknown INSERT column"):
        cat.sql("INSERT INTO t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="expects 2"):
        cat.sql("INSERT INTO t VALUES (1)")


def test_insert_overwrite_and_select_source(spark, cat):
    cat.sql("CREATE TABLE t (id BIGINT, v BIGINT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    spark.range(20).selectExpr("id", "id * 2 AS v") \
        .createOrReplaceTempView("io_src")
    cat.sql("INSERT INTO t SELECT * FROM io_src")
    cat.sql("INSERT OVERWRITE t SELECT * FROM io_src LIMIT 5")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 5


def test_insert_casts_to_table_types(spark, cat):
    cat.sql("CREATE TABLE t (id INT, price DOUBLE) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 10)")  # int literal -> double col
    assert cat.sql("SELECT price FROM t").collect()[0].price == 10.0


# -- DML ---------------------------------------------------------------------


def test_delete_update_merge_sql(spark, cat):
    cat.sql("CREATE TABLE t (id INT, age STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=100)")
    cat.sql("INSERT INTO t VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    out = cat.sql("DELETE FROM t WHERE id = 4").collect()[0]
    assert out.affected_rows == 1
    out = cat.sql("UPDATE t SET age = upper(age) WHERE id <= 2") \
        .collect()[0]
    assert out.affected_rows == 2
    spark.createDataFrame([(1, "Z"), (9, "NEW")], "id INT, age STRING") \
        .createOrReplaceTempView("merge_src")
    cat.sql("MERGE INTO t tgt USING merge_src s ON tgt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET age = s.age "
            "WHEN NOT MATCHED THEN INSERT *")
    assert _rows(cat.sql("SELECT id, age FROM t")) \
        == [(1, "Z"), (2, "B"), (3, "c"), (9, "NEW")]


def test_merge_unsupported_shapes_raise(spark, cat):
    cat.sql("CREATE TABLE t (id INT, v INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 10)")
    spark.createDataFrame([(1, 11)], "id INT, v INT") \
        .createOrReplaceTempView("ms")
    with pytest.raises(ValueError, match="not an equi-join"):
        cat.sql("MERGE INTO t USING ms s ON t.id > s.id "
                "WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="AND <condition>"):
        cat.sql("MERGE INTO t USING ms s ON t.id = s.id "
                "WHEN MATCHED AND s.v > 100 THEN DELETE")


def test_truncating_delete(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1), (2)")
    cat.sql("DELETE FROM t")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 0


# -- ALTER / properties --------------------------------------------------------


def test_alter_set_unset_tblproperties(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("ALTER TABLE t SET TBLPROPERTIES ('k1'='v1', 'k2'='v2')")
    props = dict(_rows(cat.sql("SHOW TBLPROPERTIES t")))
    assert props["k1"] == "v1" and props["k2"] == "v2"
    cat.sql("ALTER TABLE t UNSET TBLPROPERTIES ('k2', 'never-set')")
    props = dict(_rows(cat.sql("SHOW TBLPROPERTIES t")))
    assert "k2" not in props and props["k1"] == "v1"


def test_alter_rename(spark, cat):
    cat.sql("CREATE TABLE old_name (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO old_name VALUES (5)")
    cat.sql("ALTER TABLE old_name RENAME TO new_name")
    assert "old_name" not in cat.tables()
    assert cat.sql("SELECT id FROM new_name").collect()[0].id == 5


# -- query delegation ------------------------------------------------------------


def test_join_qbeast_with_parquet_view(spark, cat):
    orders = load(spark, "orders")
    orders.createOrReplaceTempView("plain_orders")
    li = load(spark, "lineitem").limit(500)
    li.createOrReplaceTempView("li_src")
    cat.sql("CREATE TABLE qli USING qbeast "
            "OPTIONS ('columnsToIndex'='l_orderkey') "
            "AS SELECT * FROM li_src")
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM qli JOIN plain_orders "
        "ON qli.l_orderkey = plain_orders.o_orderkey").collect()[0].n
    exp = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert got == exp


def test_where_lift_prunes_files(spark, cat):
    li = load(spark, "lineitem")
    li.createOrReplaceTempView("li_src")
    cat.sql("CREATE TABLE qli USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey,l_extendedprice', cubeSize=500) "
            "AS SELECT * FROM li_src")
    full_files = len(cat.sql("SELECT * FROM qli").inputFiles())
    pruned = cat.sql(
        "SELECT * FROM qli WHERE l_orderkey >= 100 AND l_orderkey < 300")
    assert len(pruned.inputFiles()) < full_files
    assert pruned.count() == li.filter(
        "l_orderkey >= 100 AND l_orderkey < 300").count()


def test_where_lift_same_rows_on_aggregate(spark, cat):
    li = load(spark, "lineitem")
    li.createOrReplaceTempView("li_src")
    cat.sql("CREATE TABLE qli USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey', cubeSize=500) "
            "AS SELECT * FROM li_src")
    got = _rows(cat.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM qli "
        "WHERE l_orderkey < 700 GROUP BY l_returnflag"))
    exp = _rows(li.filter("l_orderkey < 700")
                .groupBy("l_returnflag").count())
    assert got == exp


def test_tablesample_percent_is_pruned_sample(spark, cat):
    li = load(spark, "lineitem")
    li.createOrReplaceTempView("li_src")
    cat.sql("CREATE TABLE qli USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey', cubeSize=500) "
            "AS SELECT * FROM li_src")
    full = cat.sql("SELECT COUNT(*) AS n FROM qli").collect()[0].n
    samp_df = cat.sql("SELECT * FROM qli TABLESAMPLE (10 PERCENT)")
    n = samp_df.count()
    assert 0 < n < full
    # deterministic: the rewrite reads the index's sample slice
    from qbeast_spark_spark import QbeastTable

    qt = QbeastTable(spark, cat.tables()["qli"]["location"])
    assert n == qt.sample(0.10).count()


def test_version_and_timestamp_as_of(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1)")
    cat.sql("INSERT INTO t VALUES (2)")
    assert cat.sql("SELECT COUNT(*) AS n FROM t VERSION AS OF 1") \
        .collect()[0].n == 1
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 2
    # both spellings in ONE statement resolve independently
    got = cat.sql(
        "SELECT (SELECT COUNT(*) FROM t VERSION AS OF 1) AS a, "
        "(SELECT COUNT(*) FROM t VERSION AS OF 2) AS b").collect()[0]
    assert (got.a, got.b) == (1, 2)


def test_name_not_rewritten_inside_strings(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1)")
    row = cat.sql("SELECT 't VERSION AS OF 0' AS lit, id FROM t") \
        .collect()[0]
    assert row.lit == "t VERSION AS OF 0" and row.id == 1


# -- maintenance verbs -----------------------------------------------------------


def test_optimize_vacuum_restore_sql(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=50)")
    for batch in range(3):
        spark.range(batch * 100, batch * 100 + 100) \
            .selectExpr("CAST(id AS INT) AS id") \
            .createOrReplaceTempView("ov_src")
        cat.sql("INSERT INTO t SELECT * FROM ov_src")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 300
    cat.sql("OPTIMIZE t")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 300
    deletable = cat.sql("VACUUM t RETAIN 0 HOURS DRY RUN") \
        .collect()[0].affected_rows
    assert deletable > 0  # optimize left unreferenced files behind
    cat.sql("VACUUM t RETAIN 0 HOURS")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 300
    cat.sql("INSERT INTO t VALUES (9999)")
    ver = [h.version for h in cat.sql("DESCRIBE HISTORY t").collect()]
    cat.sql(f"RESTORE TABLE t TO VERSION AS OF {ver[-2]}")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 300


def test_describe_and_show(spark, cat):
    cat.sql("CREATE TABLE t (id INT, age STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cols = [(r.col_name, r.data_type)
            for r in cat.sql("DESCRIBE t").collect()]
    assert cols == [("id", "int"), ("age", "string")]
    ext = {r.col_name: r.data_type
           for r in cat.sql("DESCRIBE EXTENDED t").collect()}
    assert ext["Provider"] == "qbeast" and ext["Type"] == "MANAGED"
    assert cat.sql("DESCRIBE DETAIL t").count() > 5
    names = [r.tableName for r in cat.sql("SHOW TABLES").collect()]
    assert names == ["t"]


# -- metastore mechanics -----------------------------------------------------------


def test_catalog_is_per_warehouse_and_persistent(spark, tmp_path):
    c1 = QbeastSqlCatalog(spark, str(tmp_path / "w1"))
    c2 = QbeastSqlCatalog(spark, str(tmp_path / "w2"))
    c1.sql("CREATE TABLE t (id INT) USING qbeast "
           "OPTIONS ('columnsToIndex'='id')")
    assert "t" not in c2.tables()
    # a fresh catalog object over the same warehouse sees the table
    c1b = QbeastSqlCatalog(spark, str(tmp_path / "w1"))
    assert "t" in c1b.tables()
    c1b.sql("DROP TABLE t")
    assert "t" not in QbeastSqlCatalog(spark, str(tmp_path / "w1")).tables()


def test_drop_if_exists_managed_removes_dir(spark, cat):
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    loc = cat.tables()["t"]["location"]
    cat.sql("DROP TABLE IF EXISTS t")
    assert not os.path.exists(loc)
    cat.sql("DROP TABLE IF EXISTS t")  # second drop: no-op, no raise


# -- parsing units ------------------------------------------------------------------


def test_parse_kv_list_quoting():
    assert _parse_kv_list("'a'='1', \"b\" = 'x''y', c=3, `d` 'v'") \
        == {"a": "1", "b": "x'y", "c": "3", "d": "v"}


def test_parse_column_stats_both_shapes():
    flat = _parse_column_stats('{"a_min": 0, "a_max": 10}')
    nested = _parse_column_stats('{"a": {"min": 0, "max": 10}}')
    assert flat == nested == {"a": {"min": 0, "max": 10}}
    assert _parse_column_stats(None) is None
    with pytest.raises(ValueError, match="neither nested"):
        _parse_column_stats('{"weird": 3}')


def test_comments_stripped(spark, cat):
    cat.sql("""-- leading comment
        CREATE TABLE t (id INT) USING qbeast /* inline */
        OPTIONS ('columnsToIndex'='id')  -- trailing
    """)
    cat.sql("INSERT INTO t VALUES (1)")
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 1


# -- review-pass regressions (round 7 continuation) ---------------------------


def test_union_branches_not_contaminated_by_where_lift(spark, cat):
    """A lifted WHERE must never leak into other branches referencing
    the same table (review finding: UNION returned [20, 20])."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=50)")
    spark.range(200).selectExpr("CAST(id AS INT) AS id") \
        .createOrReplaceTempView("u_src")
    cat.sql("INSERT INTO t SELECT * FROM u_src")
    got = sorted(r.n for r in cat.sql(
        "SELECT COUNT(*) AS n FROM t WHERE id < 20 "
        "UNION ALL SELECT COUNT(*) AS n FROM t").collect())
    assert got == [20, 200]


def test_where_lift_leaves_no_filtered_bare_view(spark, cat):
    """After a lifted statement, the table's bare name must not stay
    bound to the pruned+filtered slice."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=50)")
    spark.range(200).selectExpr("CAST(id AS INT) AS id") \
        .createOrReplaceTempView("v_src")
    cat.sql("INSERT INTO t SELECT * FROM v_src")
    assert cat.sql("SELECT COUNT(*) AS n FROM t WHERE id < 20") \
        .collect()[0].n == 20
    # through the catalog again: full
    assert cat.sql("SELECT COUNT(*) AS n FROM t").collect()[0].n == 200
    # the session view namespace holds no filtered 't' (either no view
    # at all, or a full-table one — never the 20-row slice)
    if spark.catalog.tableExists("t"):
        assert spark.sql("SELECT COUNT(*) AS n FROM t") \
            .collect()[0].n == 200
    # and no synthesized __qb_* views linger after the statements
    leftovers = [v.name for v in spark.catalog.listTables()
                 if v.name.startswith("__qb_t_")]
    assert leftovers == []


def test_nondeterministic_where_applied_once(spark, cat):
    """rand() predicates must be evaluated exactly once (review
    finding: residual + statement WHERE compounded to ~p^2)."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=100)")
    spark.range(2000).selectExpr("CAST(id AS INT) AS id") \
        .createOrReplaceTempView("nd_src")
    cat.sql("INSERT INTO t SELECT * FROM nd_src")
    n = cat.sql("SELECT COUNT(*) AS n FROM t WHERE rand(42) < 0.5") \
        .collect()[0].n
    assert 800 <= n <= 1200  # one application of p=0.5 on 2000 rows


def test_merge_by_source_raises_not_silently_dropped(spark, cat):
    cat.sql("CREATE TABLE t (id INT, g INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 0), (2, 0)")
    spark.createDataFrame([(1, 5)], "id INT, g INT") \
        .createOrReplaceTempView("bs_src")
    with pytest.raises(ValueError, match="unsupported MERGE clause"):
        cat.sql("MERGE INTO t USING bs_src s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET g = s.g "
                "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    # nothing ran: both rows intact
    assert _rows(cat.sql("SELECT id, g FROM t")) == [(1, 0), (2, 0)]


def test_merge_case_when_in_action(spark, cat):
    cat.sql("CREATE TABLE t (id INT, g INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 0), (2, 0)")
    spark.createDataFrame([(1, 5), (2, -5)], "id INT, v INT") \
        .createOrReplaceTempView("cw_src")
    cat.sql("MERGE INTO t USING cw_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET "
            "g = CASE WHEN s.v > 0 THEN 1 ELSE -1 END")
    assert _rows(cat.sql("SELECT id, g FROM t")) == [(1, 1), (2, -1)]


def test_merge_alias_not_rewritten_in_string_literal(spark, cat):
    cat.sql("CREATE TABLE t (id INT, g STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 'x')")
    spark.createDataFrame([(1,)], "id INT") \
        .createOrReplaceTempView("sl_src")
    cat.sql("MERGE INTO t USING sl_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET g = concat(g, 's. suffix')")
    assert cat.sql("SELECT g FROM t").collect()[0].g == "xs. suffix"


def test_drop_if_exists_delegates_spark_side(spark, cat):
    spark.sql("CREATE TABLE spark_side_t (x INT) USING parquet")
    try:
        cat.sql("DROP TABLE IF EXISTS spark_side_t")
        assert not spark.catalog.tableExists("spark_side_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_side_t")


def test_unknown_create_clause_delegates(spark, cat):
    # STORED AS is not ours to reject — it must reach spark.sql
    try:
        cat.sql("CREATE TABLE hive_sty (x INT) STORED AS PARQUET")
        spark.sql("DROP TABLE IF EXISTS hive_sty")
    except Exception as e:  # hive support may be off in this session
        assert "cannot parse CREATE TABLE clause" not in str(e)
    # but a malformed USING qbeast statement still raises ours
    with pytest.raises(ValueError, match="cannot parse"):
        cat.sql("CREATE TABLE b (x INT) USING qbeast BANANA CLAUSE")


def test_qualified_column_refs_survive_where_lift(spark, cat):
    cat.sql("CREATE TABLE t (id INT, v INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=50)")
    cat.sql("INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    # unaliased: qualified refs keep working via `view AS t`
    assert cat.sql("SELECT t.v FROM t WHERE id = 2").collect()[0].v == 20
    # user alias: the alias still binds
    assert cat.sql("SELECT x.v FROM t x WHERE id = 3").collect()[0].v == 30


def test_create_rollback_on_failed_ctas(spark, cat):
    # analysis-time failure: happens before the name is reserved
    with pytest.raises(Exception):
        cat.sql("CREATE TABLE broken USING qbeast AS "
                "SELECT * FROM definitely_not_a_view_xyz")
    assert "broken" not in cat.tables()
    # EXECUTION-time failure: the name was reserved, the write job
    # dies (ANSI cast), and the reservation must roll back
    spark.createDataFrame([("abc",), ("1",)], "v STRING") \
        .createOrReplaceTempView("bad_cast_src")
    with pytest.raises(Exception):
        cat.sql("CREATE TABLE broken USING qbeast "
                "OPTIONS ('columnsToIndex'='iv') AS "
                "SELECT CAST(v AS INT) AS iv FROM bad_cast_src")
    assert "broken" not in cat.tables()
    # the name is reusable after both failures
    cat.sql("CREATE TABLE broken (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    assert "broken" in cat.tables()


def test_replace_with_new_location_keeps_old_visible_until_written(
        spark, cat, tmp_path):
    """A location-changing REPLACE is staged: the metastore keeps the
    old entry until the new table is fully written, so a failing
    replace leaves the old table untouched and resolvable."""
    from qbeast_spark_spark import write_qbeast

    from tests.conftest import load as _load

    old_loc = str(tmp_path / "old_loc")
    write_qbeast(_load(spark, "lineitem").limit(5), old_loc,
                 columns_to_index=["l_orderkey"], cube_size=100)
    cat.sql(f"CREATE TABLE r USING qbeast LOCATION '{old_loc}'")
    new_loc = str(tmp_path / "new_loc")
    spark.createDataFrame([("oops",)], "v STRING") \
        .createOrReplaceTempView("bad_src")
    with pytest.raises(Exception):
        cat.sql(f"CREATE OR REPLACE TABLE r USING qbeast "
                f"LOCATION '{new_loc}' OPTIONS ('columnsToIndex'='iv') "
                f"AS SELECT CAST(v AS INT) AS iv FROM bad_src")
    # old table still resolvable and intact
    assert cat.tables()["r"]["location"] == old_loc
    assert cat.sql("SELECT COUNT(*) AS n FROM r").collect()[0].n == 5
    # successful location-changing replace swaps the pointer
    spark.createDataFrame([(1,)], "iv INT").createOrReplaceTempView(
        "good_src")
    cat.sql(f"CREATE OR REPLACE TABLE r USING qbeast "
            f"LOCATION '{new_loc}' OPTIONS ('columnsToIndex'='iv') "
            f"AS SELECT * FROM good_src")
    assert cat.tables()["r"]["location"] == new_loc
    assert cat.sql("SELECT iv FROM r").collect()[0].iv == 1


def test_merge_literal_containing_when_matched(spark, cat):
    cat.sql("CREATE TABLE t (id INT, g STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1, 'x')")
    spark.createDataFrame([(1,)], "id INT") \
        .createOrReplaceTempView("lm_src")
    cat.sql("MERGE INTO t USING lm_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET "
            "g = 'has WHEN MATCHED THEN DELETE inside'")
    assert cat.sql("SELECT g FROM t").collect()[0].g \
        == "has WHEN MATCHED THEN DELETE inside"


def test_create_literal_using_qbeast_not_claimed(spark, cat):
    # 'using qbeast' inside a LOCATION literal must not make the
    # statement ours — it delegates (and Spark then errors its own way
    # on STORED AS without hive, or succeeds with hive support)
    try:
        cat.sql("CREATE TABLE h2 (x INT) STORED AS PARQUET "
                "LOCATION '/tmp/using qbeast/x'")
        spark.sql("DROP TABLE IF EXISTS h2")
    except Exception as e:
        assert "cannot parse CREATE TABLE clause" not in str(e)


def test_create_temp_view_over_tablesample_survives(spark, cat):
    """A delegated CREATE TEMP VIEW stores the UNRESOLVED plan, so the
    synthesized sample view it references must not be dropped."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=50)")
    spark.range(500).selectExpr("CAST(id AS INT) AS id") \
        .createOrReplaceTempView("tv_src")
    cat.sql("INSERT INTO t SELECT * FROM tv_src")
    cat.sql("CREATE TEMPORARY VIEW t_samp AS "
            "SELECT * FROM t TABLESAMPLE (20 PERCENT)")
    n1 = spark.sql("SELECT COUNT(*) AS n FROM t_samp").collect()[0].n
    n2 = spark.sql("SELECT COUNT(*) AS n FROM t_samp").collect()[0].n
    assert 0 < n1 < 500 and n1 == n2
    spark.catalog.dropTempView("t_samp")


def test_failed_registration_cleans_synthesized_views(spark, cat):
    cat.sql("CREATE TABLE a2 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("CREATE TABLE b2 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO a2 VALUES (1)")
    cat.sql("INSERT INTO b2 VALUES (1)")
    before = {v.name for v in spark.catalog.listTables()
              if v.name.startswith("__qb_")}
    with pytest.raises(Exception):
        # b2 VERSION AS OF 99 fails registration AFTER a2's sample
        # view was created — the partial views must not leak
        cat.sql("SELECT * FROM a2 TABLESAMPLE (50 PERCENT) "
                "JOIN b2 VERSION AS OF 99 ON a2.id = b2.id")
    after = {v.name for v in spark.catalog.listTables()
             if v.name.startswith("__qb_")}
    assert after == before


def test_prune_scan_degrades_on_unsupported_tuple_op(spark, cat, tmp_path):
    from qbeast_spark_spark import QbeastTable, write_qbeast

    loc = str(tmp_path / "ps")
    write_qbeast(load(spark, "lineitem").limit(100), loc,
                 columns_to_index=["l_orderkey"], cube_size=50)
    qt = QbeastTable(spark, loc)
    # '!=' has no residual-column mapping: full file list, no raise
    assert qt.prune_scan([("l_orderkey", "!=", 5)]).count() == 100


def test_analyze_fraction_option(spark, cat, monkeypatch):
    """The SQL OPTIONS knob reaches the writer: with the clamp lowered
    the sampled sketch runs, and the table still round-trips exactly."""
    from qbeast_spark_spark.index import analyzer as A

    monkeypatch.setattr(A, "_MIN_SKETCH_ROWS", 200)
    li = load(spark, "lineitem").limit(2000)
    li.createOrReplaceTempView("af_src")
    cat.sql("CREATE TABLE af USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey', cubeSize=500, "
            "'analyzeFraction'='0.2') AS SELECT * FROM af_src")
    assert cat.sql("SELECT COUNT(*) AS n FROM af").collect()[0].n == 2000
    assert cat.sql("SELECT * FROM af").exceptAll(li).count() == 0


def test_truncate_show_create_insert_by_name(spark, cat):
    cat.sql("CREATE TABLE t3 (id INT, age STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=100)")
    # INSERT BY NAME: query column order differs from the table's
    spark.sql("SELECT 'bn' AS age, 7 AS id").createOrReplaceTempView(
        "bn_src")
    cat.sql("INSERT INTO t3 BY NAME SELECT * FROM bn_src")
    row = cat.sql("SELECT id, age FROM t3").collect()[0]
    assert (row.id, row.age) == (7, "bn")
    # SHOW CREATE TABLE round-trips into a runnable statement
    ddl = cat.sql("SHOW CREATE TABLE t3").collect()[0].createtab_stmt
    assert "USING qbeast" in ddl and "'columnsToIndex'='id'" in ddl
    ddl2 = ddl.replace("CREATE TABLE t3", "CREATE TABLE t3b", 1)
    cat.sql(ddl2)
    assert [f.name for f in cat.sql("SELECT * FROM t3b").schema.fields] \
        == ["id", "age"]
    # TRUNCATE
    out = cat.sql("TRUNCATE TABLE t3").collect()[0]
    assert out.operation == "TRUNCATE"
    assert cat.sql("SELECT COUNT(*) AS n FROM t3").collect()[0].n == 0


def test_add_columns_and_insert_rowcount(spark, cat):
    cat.sql("CREATE TABLE ac (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id', cubeSize=100)")
    out = cat.sql("INSERT INTO ac VALUES (1), (2), (3)").collect()[0]
    assert out.affected_rows == 3
    cat.sql("ALTER TABLE ac ADD COLUMNS (tag STRING, score DOUBLE)")
    # old rows read the new columns as NULL
    rows = cat.sql("SELECT id, tag, score FROM ac").collect()
    assert all(r.tag is None and r.score is None for r in rows)
    # new inserts carry them
    cat.sql("INSERT INTO ac VALUES (4, 'x', 1.5)")
    got = cat.sql("SELECT tag FROM ac WHERE id = 4").collect()[0].tag
    assert got == "x"
    # time travel before the evolution presents the OLD schema
    old_cols = [f.name for f in
                cat.sql("SELECT * FROM ac VERSION AS OF 1").schema.fields]
    assert old_cols == ["id"]
    with pytest.raises(ValueError, match="already exist"):
        cat.sql("ALTER TABLE ac ADD COLUMNS (id INT)")


def test_review_fixes_fourth_pass(spark, cat):
    # ADD COLUMNS: self-colliding list rejected before anything commits
    cat.sql("CREATE TABLE r4 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    with pytest.raises(ValueError, match="already exist"):
        cat.sql("ALTER TABLE r4 ADD COLUMNS (x INT, X STRING)")
    with pytest.raises(ValueError, match="unexpected text"):
        cat.sql("ALTER TABLE r4 ADD COLUMNS (x INT) RENAME TO r5")
    # TRUNCATE of a non-matching shape delegates instead of raising ours
    try:
        cat.sql("TRUNCATE TABLE spark_catalog.default.nope_x")
    except Exception as e:
        assert "expected TRUNCATE TABLE" not in str(e)
    # analyze_fraction typo'd as a percentage raises loudly
    from qbeast_spark_spark import write_qbeast

    with pytest.raises(ValueError, match="fraction must be in"):
        write_qbeast(spark.range(5).selectExpr("CAST(id AS INT) id"),
                     str(cat.warehouse) + "/never", columns_to_index=["id"],
                     analyze_fraction=10)


def test_show_create_table_carries_properties(spark, cat):
    cat.sql("CREATE TABLE pp (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("ALTER TABLE pp SET TBLPROPERTIES ('team'='data-eng')")
    ddl = cat.sql("SHOW CREATE TABLE pp").collect()[0].createtab_stmt
    assert "TBLPROPERTIES" in ddl and "'team'='data-eng'" in ddl
    assert "lastRevisionID" not in ddl  # engine bookkeeping excluded
    # the DDL is runnable and re-applies the property
    cat.sql(ddl.replace("CREATE TABLE pp", "CREATE TABLE pp2", 1))
    props = dict(_rows(cat.sql("SHOW TBLPROPERTIES pp2")))
    assert props.get("team") == "data-eng"


def test_concurrent_thread_inserts_report_own_counts(spark, cat):
    import threading

    cat.sql("CREATE TABLE tc1 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("CREATE TABLE tc2 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    results = {}

    def ins(table, k):
        vals = ", ".join(f"({i})" for i in range(k))
        out = cat.sql(f"INSERT INTO {table} VALUES {vals}").collect()[0]
        results[table] = out.affected_rows

    t1 = threading.Thread(target=ins, args=("tc1", 3))
    t2 = threading.Thread(target=ins, args=("tc2", 7))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert results == {"tc1": 3, "tc2": 7}


def test_fifth_pass_regressions(spark, cat):
    cat.sql("CREATE TABLE f5 (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    # trailing text after SET/UNSET TBLPROPERTIES raises (same guard
    # as ADD COLUMNS)
    with pytest.raises(ValueError, match="unexpected text"):
        cat.sql("ALTER TABLE f5 SET TBLPROPERTIES ('a'='1') RENAME TO g")
    with pytest.raises(ValueError, match="unexpected text"):
        cat.sql("ALTER TABLE f5 UNSET TBLPROPERTIES ('a') junk")
    # quoted-key properties round-trip through SHOW CREATE TABLE
    cat.sql("ALTER TABLE f5 SET TBLPROPERTIES ('k''x'='v''y')")
    ddl = cat.sql("SHOW CREATE TABLE f5").collect()[0].createtab_stmt
    cat.sql(ddl.replace("CREATE TABLE f5", "CREATE TABLE f5b", 1))
    props = dict(_rows(cat.sql("SHOW TBLPROPERTIES f5b")))
    assert props.get("k'x") == "v'y"
    # analyze_fraction typo fails BEFORE any job, even on an empty df
    from qbeast_spark_spark import write_qbeast

    with pytest.raises(ValueError, match="analyze_fraction"):
        write_qbeast(spark.createDataFrame([], "id INT"),
                     str(cat.warehouse) + "/nvr", columns_to_index=["id"],
                     analyze_fraction=10)


def test_txn_skip_reports_zero_rows(spark, tmp_path):
    from qbeast_spark_spark import write_qbeast
    from qbeast_spark_spark.sources.writer import last_write_rows

    p = str(tmp_path / "t")
    df = spark.range(5).selectExpr("CAST(id AS INT) AS id")
    write_qbeast(df, p, columns_to_index=["id"],
                 txn_app_id="a", txn_version=1)
    assert last_write_rows() == 5
    # replay of the same txn writes nothing and must say so
    write_qbeast(df, p, columns_to_index=["id"],
                 txn_app_id="a", txn_version=1)
    assert last_write_rows() == 0


# -- round-8 ADVICE fixes ------------------------------------------------------


def test_time_travel_qualified_columns_without_alias(spark, cat):
    """ADVICE r7 (medium): the tt/ts rewrites replaced the reference with
    a synthesized view WITHOUT re-aliasing it to the table name, so valid
    name-qualified refs (SELECT t.col FROM t VERSION AS OF 0) failed
    analysis."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1)")
    cat.sql("INSERT INTO t VALUES (2)")
    got = cat.sql("SELECT t.id FROM t VERSION AS OF 1").collect()
    assert [r.id for r in got] == [1]
    # TABLESAMPLE spelled with a qualified projection resolves too
    n = cat.sql("SELECT t.id FROM t TABLESAMPLE (100 PERCENT)").count()
    assert n == 2
    # ... while a user alias after the clause still wins
    got = cat.sql("SELECT x.id FROM t VERSION AS OF 2 AS x "
                  "ORDER BY x.id").collect()
    assert [r.id for r in got] == [1, 2]


def test_location_with_url_scheme_rejected(spark, cat, tmp_path):
    """ADVICE r7: os.path.abspath('s3://bucket/x') silently rewrites the
    URI into a bogus cwd-relative local path — reject loudly instead."""
    with pytest.raises(ValueError, match="unsupported LOCATION scheme"):
        cat.sql("CREATE TABLE s3t (id INT) USING qbeast "
                "LOCATION 's3://bucket/x'")
    assert "s3t" not in cat.tables()
    # file: URIs are local and accepted
    loc = tmp_path / "filet"
    cat.sql(f"CREATE TABLE filet (id INT) USING qbeast "
            f"OPTIONS ('columnsToIndex'='id') LOCATION 'file://{loc}'")
    assert cat.tables()["filet"]["location"] == str(loc)


def test_show_create_escapes_comment_and_option_values(spark, cat):
    """ADVICE r7: SHOW CREATE TABLE escaped quotes in TBLPROPERTIES only;
    a quote in COMMENT or OPTIONS yielded unrunnable DDL."""
    cat.sql("CREATE TABLE esc (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id') "
            "COMMENT 'it''s quoted'")
    ddl = cat.sql("SHOW CREATE TABLE esc").collect()[0].createtab_stmt
    assert "COMMENT 'it''s quoted'" in ddl
    # the emitted DDL must round-trip through the parser
    cat.sql("DROP TABLE esc")
    cat.sql(ddl)
    assert "esc" in cat.tables()
    assert cat.tables()["esc"]["comment"] == "it's quoted"


# -- round-8: WHERE lift through JOINs -----------------------------------------


@pytest.fixture()
def join_cat(spark, cat):
    """qli (qbeast, indexed on l_orderkey/l_extendedprice) + plain_orders
    (ordinary temp view) — the 'join the indexed fact table to a
    dimension' shape."""
    li = load(spark, "lineitem")
    li.createOrReplaceTempView("li_src")
    cat.sql("CREATE TABLE qli USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey,l_extendedprice', cubeSize=500) "
            "AS SELECT * FROM li_src")
    load(spark, "orders").createOrReplaceTempView("plain_orders")
    return cat


def _qb_files(df, table="qli"):
    """Basenames of the ``table`` files ``df`` reads."""
    return {os.path.basename(f) for f in df.inputFiles()
            if f"/{table}/" in f}


def _candidates(spark, cat, table, *preds):
    """Files prune_files keeps for any of ``preds`` (one per occurrence;
    None or an untranslatable one keeps every file)."""
    from qbeast_spark_spark import QbeastTable
    from qbeast_spark_spark.sources.predicates import to_dnf_filters
    from qbeast_spark_spark.sources.reader import prune_files

    snap = QbeastTable(spark, cat.tables()[table]["location"]) \
        .snapshot(refresh=True)
    keep = set()
    for pred in preds:
        dnf = to_dnf_filters(pred) if pred else None
        if dnf is None:
            keep.update(snap.files)
        for conj in dnf or []:
            keep.update(prune_files(snap, conj))
    return {os.path.basename(p) for p in keep}


def _scan_files(df, table="qli"):
    """One set of file basenames per scan of ``table`` in ``df``'s
    optimized plan, in plan order (IN/EXISTS bodies are joins there)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    scans = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        files = {os.path.basename(f)
                 for f in leaf.relation().location().inputFiles()
                 if f"/{table}/" in f}
        if files:
            scans.append(files)
    return scans


def _assert_scans(spark, cat, stmt, *preds, table="qli"):
    """Run ``stmt`` through the catalog: its rows must equal plain
    Spark's over the source views (li_src / ord_src). Then one entry of
    ``preds`` per scan of ``table``, in plan order: None — a guarded
    occurrence reads every file; a predicate — a lifted occurrence
    reads only prune_files' candidates for it (so strictly fewer files
    whenever the predicate prunes at all). Returns the catalog's
    DataFrame."""
    got = _sql_matches_plain(spark, cat, stmt)
    every = _candidates(spark, cat, table, None)
    scans = _scan_files(got, table)
    assert len(scans) == len(preds), (len(scans), stmt)
    for files, pred in zip(scans, preds):
        want = every if pred is None else _candidates(spark, cat, table,
                                                      pred)
        assert files <= want and (pred or files == every), (pred, stmt)
    return got


def _sql_matches_plain(spark, cat, stmt):
    import re
    from collections import Counter

    got = cat.sql(stmt)
    plain = re.sub(r"\bqord\b", "ord_src", re.sub(r"\bqli\b", "li_src", stmt))
    assert Counter(map(tuple, got.collect())) \
        == Counter(map(tuple, spark.sql(plain).collect())), stmt
    return got


def test_join_where_lift_prunes_files(spark, join_cat):
    """r7 verdict task 1: a single-qbeast-table JOIN with a selective
    WHERE on the indexed column must read strictly fewer files than the
    full view (the reference prunes every plan shape through
    DefaultFileIndex.scala:47-57)."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    full = cat.sql(
        "SELECT t.l_orderkey FROM qli t "
        "JOIN plain_orders o ON t.l_orderkey = o.o_orderkey")
    pruned = cat.sql(
        "SELECT t.l_orderkey, o.o_custkey FROM qli t "
        "JOIN plain_orders o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey >= 100 AND t.l_orderkey < 300")
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    exp = (li.filter("l_orderkey >= 100 AND l_orderkey < 300")
           .join(orders, li.l_orderkey == orders.o_orderkey).count())
    assert pruned.count() == exp


def test_join_where_lift_without_alias(spark, join_cat):
    """Name-qualified refs with no user alias: the pruned view is
    re-aliased back to the table name so ON/SELECT refs keep resolving."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    pruned = cat.sql(
        "SELECT qli.l_orderkey FROM qli "
        "JOIN plain_orders ON qli.l_orderkey = plain_orders.o_orderkey "
        "WHERE qli.l_orderkey < 200")
    qli_files = [f for f in pruned.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    exp = (li.filter("l_orderkey < 200")
           .join(orders, li.l_orderkey == orders.o_orderkey).count())
    assert pruned.count() == exp


def test_join_where_lift_mixed_conjuncts(spark, join_cat):
    """Conjuncts on the OTHER table's alias stay qualified -> unknown
    columns -> never prune; conjuncts on the qbeast alias do. Results
    must match the DataFrame plan exactly."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    got = cat.sql(
        "SELECT t.l_orderkey, t.l_quantity FROM qli t "
        "JOIN plain_orders o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 300 AND o.o_custkey >= 10 "
        "AND t.l_quantity > 5 ORDER BY t.l_orderkey, t.l_quantity")
    exp = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .filter("l_orderkey < 300 AND o_custkey >= 10 "
                   "AND l_quantity > 5")
           .select("l_orderkey", "l_quantity")
           .orderBy("l_orderkey", "l_quantity"))
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in exp.collect()]


def test_outer_join_null_probe_is_never_lifted(spark, join_cat):
    """Soundness guard: with qli on the nullable side of a LEFT JOIN and
    an IS-NULL probe, pruning files would fabricate null-extended rows.
    The shape must fall back to the full view AND return exact results."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o LEFT JOIN qli t "
                  "ON o.o_orderkey = t.l_orderkey "
                  "WHERE t.l_orderkey IS NULL", None)
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM plain_orders o LEFT JOIN qli t "
        "ON o.o_orderkey = t.l_orderkey "
        "WHERE t.l_orderkey IS NULL").collect()[0].n
    exp = (orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
           .count())
    assert got == exp


def test_join_lift_shape_guards(spark, join_cat):
    """The attributable-shape guards, pinned one by one."""
    cat = join_cat
    # self-join: the unconstrained occurrence b reads every file
    _assert_scans(spark, cat,
                  "SELECT * FROM qli a JOIN qli b ON a.l_orderkey = "
                  "b.l_orderkey WHERE a.l_orderkey < 10",
                  "l_orderkey < 10", None)
    # set-op branches: one branch's WHERE never reaches the other's scan
    _assert_scans(spark, cat,
                  "SELECT t.l_orderkey FROM qli t JOIN plain_orders o "
                  "ON t.l_orderkey = o.o_orderkey WHERE t.l_orderkey < 10 "
                  "UNION ALL SELECT l_orderkey FROM qli",
                  "l_orderkey < 10", None)
    # RIGHT JOIN null-extends the qbeast side -> no lift
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t RIGHT JOIN plain_orders o ON "
                  "t.l_orderkey = o.o_orderkey WHERE t.l_orderkey < 10",
                  None)
    # a subquery conjunct cannot prune
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t JOIN plain_orders o ON t.l_orderkey "
                  "= o.o_orderkey WHERE t.l_orderkey IN "
                  "(SELECT o_orderkey FROM plain_orders)", None)
    # an alias spelled like the table is not a reference to it
    got = _sql_matches_plain(
        spark, cat, "SELECT * FROM range(10) qli JOIN plain_orders o ON "
                    "qli.id = o.o_orderkey WHERE qli.id < 5")
    assert _qb_files(got) == set()
    # the happy inner-join shape prunes, alias-qualified
    _assert_scans(spark, cat,
            "SELECT * FROM qli t JOIN plain_orders o ON t.l_orderkey "
            "= o.o_orderkey WHERE t.l_orderkey < 10 AND o.o_custkey > 2",
            "l_orderkey < 10")
    # comma (cross) join with trailing name-qualified conjunct
    _assert_scans(spark, cat,
            "SELECT * FROM plain_orders, qli "
            "WHERE qli.l_orderkey = plain_orders.o_orderkey "
            "AND qli.l_orderkey < 10", "l_orderkey < 10")


@pytest.fixture()
def two_qb_cat(spark, join_cat):
    """join_cat plus a SECOND qbeast table (qord, indexed on
    o_orderkey) — the multi-qbeast-table join shape."""
    load(spark, "orders").createOrReplaceTempView("ord_src")
    join_cat.sql("CREATE TABLE qord USING qbeast OPTIONS "
                 "('columnsToIndex'='o_orderkey', cubeSize=100) "
                 "AS SELECT * FROM ord_src")
    return join_cat


def test_multi_qbeast_join_lift_prunes_both_sides(spark, two_qb_cat):
    """r8 (VERDICT r7 'missing #2'): TWO qbeast tables in one JOIN, each
    referenced once with its own alias — each side gets its own pruned
    view from its own alias-qualified conjuncts."""
    cat = two_qb_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    full = cat.sql("SELECT t.l_orderkey FROM qli t "
                   "JOIN qord o ON t.l_orderkey = o.o_orderkey")
    qli_full = len([f for f in full.inputFiles() if "/qli/" in f])
    qord_full = len([f for f in full.inputFiles() if "/qord/" in f])
    pruned = cat.sql(
        "SELECT t.l_orderkey, o.o_custkey FROM qli t "
        "JOIN qord o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 200 AND o.o_orderkey < 300")
    qli_p = len([f for f in pruned.inputFiles() if "/qli/" in f])
    qord_p = len([f for f in pruned.inputFiles() if "/qord/" in f])
    assert 0 < qli_p < qli_full
    assert 0 < qord_p < qord_full
    exp = (li.filter("l_orderkey < 200")
           .join(orders.filter("o_orderkey < 300"),
                 li.l_orderkey == orders.o_orderkey).count())
    assert pruned.count() == exp


def test_multi_qbeast_join_lift_name_qualified(spark, two_qb_cat):
    """Name-qualified (no user alias) multi-qbeast join: conjuncts
    qualified by the OTHER table's name stay dotted (never bind a real
    column) while each table's own conjuncts prune its files."""
    cat = two_qb_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    stmt = ("SELECT * FROM qli JOIN qord "
            "ON qli.l_orderkey = qord.o_orderkey "
            "WHERE qli.l_orderkey < 150 AND qord.o_orderkey < 250")
    _assert_scans(spark, cat, stmt, "l_orderkey < 150")
    _assert_scans(spark, cat, stmt, "o_orderkey < 250", table="qord")
    pruned = cat.sql(
        "SELECT qli.l_orderkey FROM qli "
        "JOIN qord ON qli.l_orderkey = qord.o_orderkey "
        "WHERE qli.l_orderkey < 150 AND qord.o_orderkey < 250")
    exp = (li.filter("l_orderkey < 150")
           .join(orders.filter("o_orderkey < 250"),
                 li.l_orderkey == orders.o_orderkey).count())
    assert pruned.count() == exp


def test_multi_qbeast_join_or_predicate_never_narrows(spark, two_qb_cat):
    """A top-level OR across the two tables' columns constrains neither
    side alone — each side's unknown-column disjunct must degrade that
    side to the full file list, keeping results exact."""
    cat = two_qb_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    got = cat.sql(
        "SELECT t.l_orderkey FROM qli t "
        "JOIN qord o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 50 OR o.o_totalprice > 100000")
    exp = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .filter("l_orderkey < 50 OR o_totalprice > 100000").count())
    assert got.count() == exp


# -- round-11: per-occurrence WHERE lift for SELF-joins ------------------------


def test_self_join_lift_prunes_both_occurrences(spark, join_cat):
    """r11 (VERDICT r10 Next #2): the same qbeast table joined to
    itself under two aliases — each occurrence gets its own pruned view
    from ITS alias-qualified conjuncts (the reference gets this free
    from Catalyst: QuerySpecBuilder.scala:51-77 attributes filters per
    relation). The time-range self-join shape."""
    cat = join_cat
    li = load(spark, "lineitem")
    _assert_scans(spark, cat,
            "SELECT a.l_orderkey FROM qli a JOIN qli b "
            "ON a.l_orderkey = b.l_orderkey "
            "WHERE a.l_orderkey < 200 AND b.l_orderkey >= 100 "
            "AND b.l_orderkey < 400",
            "l_orderkey < 200", "l_orderkey >= 100 AND l_orderkey < 400")
    full = cat.sql("SELECT a.l_orderkey FROM qli a JOIN qli b "
                   "ON a.l_orderkey = b.l_orderkey")
    pruned = cat.sql(
        "SELECT a.l_orderkey, b.l_extendedprice FROM qli a JOIN qli b "
        "ON a.l_orderkey = b.l_orderkey "
        "WHERE a.l_orderkey < 200 AND b.l_orderkey >= 100 "
        "AND b.l_orderkey < 400")
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    a = li.alias("a")
    b = li.alias("b")
    from pyspark.sql import functions as F
    exp = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           .where("a.l_orderkey < 200 AND b.l_orderkey >= 100 "
                  "AND b.l_orderkey < 400").count())
    assert pruned.count() == exp


def test_self_join_lift_comma_shape_and_values(spark, join_cat):
    """Comma self-join with a column-vs-column conjunct: the equality
    (never a literal comparison) is dropped per occurrence, the range
    conjuncts prune their own side, and VALUES match the DataFrame
    plan exactly."""
    cat = join_cat
    li = load(spark, "lineitem")
    from pyspark.sql import functions as F
    got = cat.sql(
        "SELECT x.l_orderkey AS k, y.l_quantity AS q "
        "FROM qli x, qli y "
        "WHERE x.l_orderkey = y.l_orderkey AND x.l_linenumber = 1 "
        "AND x.l_orderkey < 150 AND y.l_quantity > 10 "
        "ORDER BY k, q")
    x, y = li.alias("x"), li.alias("y")
    exp = (x.join(y, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
           .where("x.l_linenumber = 1 AND x.l_orderkey < 150 "
                  "AND y.l_quantity > 10")
           .select(F.col("x.l_orderkey").alias("k"),
                   F.col("y.l_quantity").alias("q"))
           .orderBy("k", "q"))
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in exp.collect()]


def test_self_join_lift_guards(spark, join_cat):
    """Per-occurrence guards for the self-join lane, pinned one by
    one: an unaliased occurrence lifts under its table-name qualifier;
    a null-extended occurrence reads every file; results stay exact on
    the mixed shape."""
    cat = join_cat
    # second occurrence unaliased -> both lift, each by its own qualifier
    _assert_scans(spark, cat,
                  "SELECT a.l_orderkey FROM qli a JOIN qli "
                  "ON a.l_orderkey = qli.l_orderkey "
                  "WHERE a.l_orderkey < 100 AND qli.l_orderkey < 100",
                  "l_orderkey < 100", "l_orderkey < 100")
    # LEFT JOIN null-extends the right occurrence -> it reads every file
    _assert_scans(spark, cat,
                  "SELECT a.l_orderkey FROM qli a LEFT JOIN qli b "
                  "ON a.l_orderkey = b.l_orderkey "
                  "WHERE a.l_orderkey < 100 AND b.l_extendedprice > 0",
                  "l_orderkey < 100", None)
    # RIGHT JOIN after the first occurrence null-extends it
    _assert_scans(spark, cat,
                  "SELECT b.l_orderkey FROM qli a RIGHT JOIN qli b "
                  "ON a.l_orderkey = b.l_orderkey "
                  "WHERE b.l_orderkey < 100", None, "l_orderkey < 100")
    # set-op: the first branch's WHERE never prunes the second's scan
    _assert_scans(spark, cat,
                  "SELECT a.l_orderkey FROM qli a JOIN qli b "
                  "ON a.l_orderkey = b.l_orderkey WHERE a.l_orderkey < 10 "
                  "AND b.l_orderkey < 10 "
                  "UNION ALL SELECT l_orderkey FROM qli",
                  "l_orderkey < 10", "l_orderkey < 10", None)
    # mixed LEFT self-join end-to-end: IS NULL probe on the
    # null-extended side must return exact anti-join semantics
    li = load(spark, "lineitem")
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM qli a LEFT JOIN qli b "
        "ON a.l_orderkey = b.l_orderkey AND b.l_quantity > 45 "
        "WHERE a.l_orderkey < 300 AND b.l_orderkey IS NULL"
    ).collect()[0].n
    from pyspark.sql import functions as F
    a, b = li.alias("a"), li.alias("b")
    exp = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                  & (F.col("b.l_quantity") > 45), "left")
           .where("a.l_orderkey < 300 AND b.l_orderkey IS NULL").count())
    assert got == exp


def test_cte_self_join_lift(spark, join_cat):
    """r11: a self-join confined to ONE CTE body gets per-occurrence
    slots; a second reference outside the body disables them."""
    cat = join_cat
    li = load(spark, "lineitem")
    from pyspark.sql import functions as F
    stmt = ("WITH pairs AS (SELECT a.l_orderkey AS k, b.l_quantity AS q "
            "FROM qli a JOIN qli b ON a.l_orderkey = b.l_orderkey "
            "WHERE a.l_orderkey < 250 AND b.l_quantity > 10) "
            "SELECT k, COUNT(*) AS n, SUM(q) AS sq FROM pairs "
            "GROUP BY k ORDER BY k")
    _assert_scans(spark, cat, stmt, "l_orderkey < 250", "l_quantity > 10")
    got = cat.sql(stmt)
    a, b = li.alias("a"), li.alias("b")
    exp = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           .where("a.l_orderkey < 250 AND b.l_quantity > 10")
           .select(F.col("a.l_orderkey").alias("k"),
                   F.col("b.l_quantity").alias("q"))
           .groupBy("k").agg(F.count("*").alias("n"),
                             F.sum("q").alias("sq"))
           .orderBy("k"))
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in exp.collect()]
    # a third reference OUTSIDE the body keeps occurrence ordinals
    # unalignable -> no slots for that table
    stmt2 = ("WITH pairs AS (SELECT a.l_orderkey AS k FROM qli a "
             "JOIN qli b ON a.l_orderkey = b.l_orderkey "
             "WHERE a.l_orderkey < 250) "
             "SELECT p.k FROM pairs p JOIN qli c ON p.k = c.l_orderkey")
    _assert_scans(spark, cat, stmt2, "l_orderkey < 250", None, None)
    # ... and the statement still returns exact rows
    got2 = cat.sql(stmt2).count()
    pairs = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
             .where("a.l_orderkey < 250")
             .select(F.col("a.l_orderkey").alias("k")))
    exp2 = pairs.join(li.alias("c"),
                      F.col("k") == F.col("c.l_orderkey")).count()
    assert got2 == exp2


def test_self_join_with_second_table_lifts_all(spark, two_qb_cat):
    """Self-joined qli + singly-referenced qord in one statement: the
    self-join slots and the single-occurrence lift coexist, each from
    its own conjuncts."""
    cat = two_qb_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    pruned = cat.sql(
        "SELECT a.l_orderkey FROM qli a JOIN qli b "
        "ON a.l_orderkey = b.l_orderkey "
        "JOIN qord o ON a.l_orderkey = o.o_orderkey "
        "WHERE a.l_orderkey < 200 AND b.l_quantity > 5 "
        "AND o.o_orderkey < 300")
    from pyspark.sql import functions as F
    a, b = li.alias("a"), li.alias("b")
    exp = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           .join(orders.alias("o"),
                 F.col("a.l_orderkey") == F.col("o.o_orderkey"))
           .where("a.l_orderkey < 200 AND b.l_quantity > 5 "
                  "AND o.o_orderkey < 300").count())
    assert pruned.count() == exp
    qord_full = len([f for f in cat.sql("SELECT * FROM qord")
                     .inputFiles() if "/qord/" in f])
    qord_p = len([f for f in pruned.inputFiles() if "/qord/" in f])
    assert 0 < qord_p < qord_full


# -- round-11: WHERE lift inside subqueries (EXISTS / IN / derived) ------------


def test_cte_main_query_lift(spark, join_cat):
    """r11: the MAIN query after a CTE list lifts like a standalone
    SELECT — single-table, join, and self-join shapes."""
    cat = join_cat
    li = load(spark, "lineitem")
    from pyspark.sql import functions as F
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    # single-table main query
    got_df = cat.sql(
        "WITH lim AS (SELECT 150 AS v) "
        "SELECT COUNT(*) AS n FROM qli WHERE l_orderkey < 150")
    qli_files = [f for f in got_df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    assert got_df.collect()[0].n \
        == li.filter("l_orderkey < 150").count()
    # self-join main query
    stmt = ("WITH lim AS (SELECT 1 AS v) "
            "SELECT COUNT(*) AS n FROM qli a JOIN qli b "
            "ON a.l_orderkey = b.l_orderkey "
            "WHERE a.l_orderkey < 180 AND b.l_quantity > 10")
    _assert_scans(spark, cat, stmt, "l_orderkey < 180", "l_quantity > 10")
    a, b = li.alias("a"), li.alias("b")
    exp = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           .where("a.l_orderkey < 180 AND b.l_quantity > 10").count())
    assert cat.sql(stmt).collect()[0].n == exp
    # a reference in BOTH a CTE body and the main query: each
    # occurrence lifts from its own WHERE, rows exact
    stmt2 = ("WITH top AS (SELECT l_orderkey FROM qli "
             "WHERE l_orderkey < 120) "
             "SELECT COUNT(*) AS n FROM qli q JOIN top t "
             "ON q.l_orderkey = t.l_orderkey WHERE q.l_quantity > 5")
    _assert_scans(spark, cat, stmt2, "l_quantity > 5", "l_orderkey < 120")
    keys = li.filter("l_orderkey < 120").select("l_orderkey")
    exp2 = (li.alias("q").join(keys.alias("t"),
                               F.col("q.l_orderkey")
                               == F.col("t.l_orderkey"))
            .where("q.l_quantity > 5").count())
    assert cat.sql(stmt2).collect()[0].n == exp2


def test_subquery_lift_exists_correlated(spark, join_cat):
    """EXISTS body with a correlated conjunct: the range conjunct
    prunes the subquery's scan, the correlated one (dotted outer
    alias) only widens; results equal the plain-Spark semi-join."""
    cat = join_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    _assert_scans(spark, cat,
                  "SELECT o.o_orderkey FROM plain_orders o WHERE EXISTS ("
                  "SELECT 1 FROM qli t WHERE t.l_orderkey = o.o_orderkey "
                  "AND t.l_orderkey < 200)", "l_orderkey < 200")
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    got_df = cat.sql(
        "SELECT o.o_orderkey FROM plain_orders o WHERE EXISTS ("
        "SELECT 1 FROM qli t WHERE t.l_orderkey = o.o_orderkey "
        "AND t.l_orderkey < 200)")
    qli_files = [f for f in got_df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    exp = (orders.join(li.filter("l_orderkey < 200"),
                       orders.o_orderkey == li.l_orderkey, "left_semi")
           .count())
    assert got_df.count() == exp


def test_subquery_lift_in_and_not_in(spark, join_cat):
    """IN / NOT IN subquery bodies prune their own scan; NOT IN keeps
    exact complement semantics (the body's result SET is unchanged by
    file pruning)."""
    cat = join_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM plain_orders WHERE o_orderkey IN "
        "(SELECT l_orderkey FROM qli WHERE l_orderkey < 150)"
    ).collect()[0].n
    keys = {r.l_orderkey
            for r in li.filter("l_orderkey < 150")
            .select("l_orderkey").distinct().collect()}
    exp = orders.where(orders.o_orderkey.isin(keys)).count()
    assert got == exp
    got2 = cat.sql(
        "SELECT COUNT(*) AS n FROM plain_orders WHERE o_orderkey NOT IN "
        "(SELECT l_orderkey FROM qli WHERE l_orderkey < 150)"
    ).collect()[0].n
    exp2 = orders.where(~orders.o_orderkey.isin(keys)).count()
    assert got2 == exp2


def test_subquery_lift_derived_table(spark, join_cat):
    """A derived table in FROM gets its body's WHERE pruned — the
    subquery output joins a dimension exactly."""
    from pyspark.sql import functions as F

    cat = join_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    got_df = cat.sql(
        "SELECT t.k, o.o_custkey FROM "
        "(SELECT l_orderkey AS k FROM qli WHERE l_orderkey < 250) t "
        "JOIN plain_orders o ON t.k = o.o_orderkey")
    qli_files = [f for f in got_df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    exp = (li.filter("l_orderkey < 250")
           .select(li.l_orderkey.alias("k"))
           .join(orders, F.col("k") == orders.o_orderkey).count())
    assert got_df.count() == exp
    # scalar subquery in the SELECT list prunes too and stays exact
    got_m = cat.sql(
        "SELECT (SELECT MAX(l_extendedprice) FROM qli "
        "WHERE l_orderkey < 100) AS m").collect()[0].m
    exp_m = li.filter("l_orderkey < 100") \
        .agg(F.max("l_extendedprice")).collect()[0][0]
    assert got_m == exp_m


def test_subquery_lift_sibling_spans(spark, join_cat):
    """The same table referenced from TWO sibling subqueries: each body
    prunes its own scan from its own WHERE, rows exact."""
    cat = join_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    stmt = ("SELECT COUNT(*) AS n FROM plain_orders WHERE "
            "o_orderkey IN (SELECT l_orderkey FROM qli "
            "WHERE l_orderkey < 100) "
            "OR o_orderkey IN (SELECT l_orderkey FROM qli "
            "WHERE l_orderkey >= 9000)")
    files = _qb_files(_sql_matches_plain(spark, cat, stmt))
    assert 0 < len(files) < len(_candidates(spark, cat, "qli", None))
    assert files <= _candidates(spark, cat, "qli", "l_orderkey < 100",
                                "l_orderkey >= 9000")
    got = cat.sql(stmt).collect()[0].n
    k1 = {r.l_orderkey for r in li.filter("l_orderkey < 100")
          .select("l_orderkey").distinct().collect()}
    k2 = {r.l_orderkey for r in li.filter("l_orderkey >= 9000")
          .select("l_orderkey").distinct().collect()}
    exp = orders.where(orders.o_orderkey.isin(k1 | k2)).count()
    assert got == exp


def test_subquery_lift_self_join_in_derived(spark, join_cat):
    """A self-join INSIDE a derived table gets per-occurrence slots
    through the subquery lane."""
    from pyspark.sql import functions as F

    cat = join_cat
    li = load(spark, "lineitem")
    stmt = ("SELECT AVG(q) AS aq FROM (SELECT b.l_quantity AS q "
            "FROM qli a JOIN qli b ON a.l_orderkey = b.l_orderkey "
            "WHERE a.l_orderkey < 220 AND b.l_quantity > 8) s")
    _assert_scans(spark, cat, stmt, "l_orderkey < 220", "l_quantity > 8")
    got = cat.sql(stmt).collect()[0].aq
    a, b = li.alias("a"), li.alias("b")
    exp = (a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           .where("a.l_orderkey < 220 AND b.l_quantity > 8")
           .agg(F.avg(F.col("b.l_quantity"))).collect()[0][0])
    assert abs(got - exp) < 1e-9


def test_join_lift_string_literals_not_confused(spark, join_cat):
    """A table name inside a string literal is not an occurrence; quoted
    text inside the WHERE is never alias-stripped."""
    cat = join_cat
    got = cat.sql(
        "SELECT t.l_orderkey, 'qli t.l_orderkey' AS lit FROM qli t "
        "JOIN plain_orders o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 10 AND t.l_returnflag != 't.qli'")
    rows = got.collect()
    assert all(r.lit == "qli t.l_orderkey" for r in rows)
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    exp = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .filter("l_orderkey < 10 AND l_returnflag != 't.qli'").count())
    assert len(rows) == exp


# -- round-8 /code-review regression pins ---------------------------------------


def test_statement_shaped_string_literal_does_not_crash(spark, cat):
    """A literal containing 'FROM <table> WHERE ...' used to bind the
    single-table lift regex, slicing the predicate into the literal and
    crashing on the unbalanced quote; structural matching now runs on
    quote-masked text."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1), (2)")
    rows = cat.sql("SELECT 'FROM t WHERE id < 5' AS lit, id FROM t "
                   "WHERE id > 1").collect()
    assert len(rows) == 1 and rows[0].lit == "FROM t WHERE id < 5" \
        and rows[0].id == 2


def test_keyword_alias_with_as_survives_rewrites(spark, cat):
    """An explicit AS alias always reads as an alias, even spelled like
    a clause keyword — the rewrite must NOT emit a second 'AS t'."""
    cat.sql("CREATE TABLE t (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO t VALUES (1)")
    cat.sql("INSERT INTO t VALUES (2)")
    got = cat.sql("SELECT `timestamp`.id FROM t VERSION AS OF 1 "
                  "AS `timestamp`").collect()
    assert [r.id for r in got] == [1]
    # MINUS is a clause keyword, not an alias: both branches re-alias
    got = cat.sql("SELECT t.id FROM t VERSION AS OF 2 "
                  "MINUS SELECT t.id FROM t VERSION AS OF 1").collect()
    assert [r.id for r in got] == [2]


def test_file_location_with_remote_authority_rejected(spark, cat):
    with pytest.raises(ValueError, match="remote authority"):
        cat.sql("CREATE TABLE ft (id INT) USING qbeast "
                "LOCATION 'file://data/tables/ft'")
    assert "ft" not in cat.tables()


def test_show_create_backslash_value_roundtrips(spark, cat):
    cat.sql("CREATE TABLE bs (id INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='id') "
            "COMMENT 'ends with \\\\'")
    assert cat.tables()["bs"]["comment"] == "ends with \\"
    ddl = cat.sql("SHOW CREATE TABLE bs").collect()[0].createtab_stmt
    cat.sql("DROP TABLE bs")
    cat.sql(ddl)
    assert cat.tables()["bs"]["comment"] == "ends with \\"


def test_comma_join_mixed_conjuncts_still_prune(spark, join_cat):
    """One untranslatable conjunct (the join condition in a comma join)
    must not disable pruning for the translatable ones — unparseable
    top-level conjuncts are dropped from the pruning hint."""
    cat = join_cat
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    df = cat.sql(
        "SELECT qli.l_orderkey FROM plain_orders, qli "
        "WHERE qli.l_orderkey = plain_orders.o_orderkey "
        "AND qli.l_orderkey BETWEEN 100 AND 220 AND qli.l_quantity > 0")
    qli_files = [f for f in df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    exp = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .filter("l_orderkey BETWEEN 100 AND 220 AND l_quantity > 0")
           .count())
    assert df.count() == exp


def test_or_precedence_never_narrows_the_pruning_hint(spark, cat):
    """Second review pass, most severe: splitting 'a OR b AND c' at the
    AND handed prune_scan '(a OR b) AND (c)' — NARROWER than the real
    predicate (files with a-only rows silently dropped). A top-level OR
    now makes the hint whole-text-or-nothing."""
    # rows satisfying only the OR's left arm must survive
    li = load(spark, "lineitem")
    li.createOrReplaceTempView("li_src2")
    cat.sql("CREATE TABLE qor USING qbeast OPTIONS "
            "('columnsToIndex'='l_orderkey', cubeSize=400) "
            "AS SELECT * FROM li_src2")
    pred = "l_orderkey < 50 OR l_orderkey >= 1400 AND l_quantity > 10"
    got = cat.sql(f"SELECT * FROM qor WHERE {pred}")
    assert _qb_files(got, "qor") <= _candidates(spark, cat, "qor", pred)
    got_n = got.count()
    exp_n = li.filter("l_orderkey < 50 "
                      "OR l_orderkey >= 1400 AND l_quantity > 10").count()
    assert got_n == exp_n


def test_unbalanced_pred_slice_never_lifts(spark, cat):
    """Predicate text that sliced past its clause (unbalanced parens)
    must never be salvaged into a pruning hint."""
    # the statement shape that produced such a slice stays correct:
    # the body's OR is one conjunct, the outer WHERE stops at the
    # derived table's projection
    cat.sql("CREATE TABLE ub (x INT, y INT, z INT, w INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='x')")
    cat.sql("INSERT INTO ub VALUES (1, 2, 0, 4), (9, 9, 1, 4)")
    df = cat.sql("SELECT * FROM (SELECT * FROM ub WHERE x < 3 AND y = 2 "
                 "OR z = 1) s WHERE w = 4")
    assert _qb_files(df, "ub") <= _candidates(
        spark, cat, "ub", "x < 3 AND y = 2 OR z = 1")
    assert df.count() == 2


def test_backticked_twin_reference_disables_lift(spark, cat):
    """A backticked second reference is invisible to the bare-name
    rewriter, so the exactly-once guard must count it: one set-op
    branch's WHERE must never prune the other branch's scan."""
    cat.sql("CREATE TABLE bt (x INT, y INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='x')")
    cat.sql("INSERT INTO bt VALUES (1, 0), (100, 1)")
    cat.sql("SELECT * FROM bt")    # mounts the bare view
    got = cat.sql("SELECT x FROM `bt` WHERE y = 1 "
                  "UNION ALL SELECT x FROM bt WHERE x < 3")
    assert sorted(r.x for r in got.collect()) == [1, 100]


def test_backticked_join_alias_still_prunes(spark, join_cat):
    """The join lift reads the alias from the original text, so a
    backtick-quoted alias strips its qualifier and prunes."""
    cat = join_cat
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    df = cat.sql("SELECT `a`.l_orderkey FROM qli `a` JOIN plain_orders o "
                 "ON `a`.l_orderkey = o.o_orderkey WHERE a.l_orderkey < 200")
    qli_files = [f for f in df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    assert df.count() == li.filter("l_orderkey < 200").join(
        orders, li.l_orderkey == orders.o_orderkey).count()


def test_nospace_backtick_twin_disables_lift(spark, cat):
    """Third review pass: Spark lexes FROM`bt` (no whitespace) as a
    reference too — the occurrence count must see it, or one set-op
    branch's WHERE prunes the other's scan."""
    cat.sql("CREATE TABLE bt2 (x INT, y INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='x')")
    cat.sql("INSERT INTO bt2 VALUES (1, 0), (100, 1)")
    cat.sql("SELECT * FROM bt2")    # mounts the bare view
    got = cat.sql("SELECT x FROM`bt2` WHERE y = 1 "
                  "UNION ALL SELECT x FROM bt2 WHERE x < 3")
    assert sorted(r.x for r in got.collect()) == [1, 100]


def test_default_qualified_select_binds_the_table(spark, cat):
    """``default.name`` denotes the catalog table in a query, as it does
    in INSERT; its WHERE still prunes."""
    cat.sql("CREATE TABLE dq (x INT, y INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='x', cubeSize=10)")
    spark.range(100).selectExpr("CAST(id AS INT) AS x",
                                "CAST(id % 7 AS INT) AS y") \
        .createOrReplaceTempView("dq_src")
    for lo, hi in ((0, 40), (40, 70), (70, 100)):   # a file per insert
        cat.sql(f"INSERT INTO dq SELECT * FROM dq_src "
                f"WHERE x >= {lo} AND x < {hi}")
    every = _candidates(spark, cat, "dq", None)
    got = cat.sql("SELECT x FROM default.dq WHERE x < 5")
    assert sorted(r.x for r in got.collect()) == [0, 1, 2, 3, 4]
    assert 0 < len(_qb_files(got, "dq")) < len(every)
    got = cat.sql("SELECT dq.y FROM default.dq WHERE dq.x = 9")
    assert [r.y for r in got.collect()] == [2]
    assert cat.sql("SELECT COUNT(*) AS n FROM default.dq") \
        .collect()[0].n == 100


def test_backticked_reference_without_prior_mount(spark, cat):
    """A backticked reference binds the table by itself — no earlier
    bare statement has to mount the view first."""
    cat.sql("CREATE TABLE bq (x INT, y INT) USING qbeast "
            "OPTIONS ('columnsToIndex'='x')")
    cat.sql("INSERT INTO bq VALUES (1, 0), (100, 1), (3, 1)")
    spark.catalog.dropTempView("bq")
    got = cat.sql("SELECT x FROM `bq` WHERE x < 5")
    assert sorted(r.x for r in got.collect()) == [1, 3]


def test_cte_name_shadows_catalog_table(spark, join_cat):
    """A CTE named like a catalog table shadows it: no file of the
    table is read and the rows equal plain Spark's."""
    cat = join_cat
    stmt = ("WITH qli AS (SELECT o_orderkey AS l_orderkey, o_custkey "
            "FROM plain_orders WHERE o_orderkey < 400) "
            "SELECT l_orderkey, o_custkey FROM qli WHERE l_orderkey > 100")
    got = cat.sql(stmt)
    assert _qb_files(got) == set()
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, spark.sql(stmt).collect()))


def test_dml_qualifiers_cut_at_attribute_spans(spark, cat):
    """DELETE/UPDATE/MERGE read the target's alias or ``default.``
    qualifier from the parse; string literals shaped like a qualified
    column stay untouched."""
    cat.sql("CREATE TABLE dm (id INT, g STRING) USING qbeast "
            "OPTIONS ('columnsToIndex'='id')")
    cat.sql("INSERT INTO dm VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    cat.sql("DELETE FROM dm AS x WHERE x.id = 4")
    cat.sql("UPDATE default.dm SET g = concat(dm.g, 'dm.g') "
            "WHERE dm.id BETWEEN 2 AND 3")
    spark.createDataFrame([(1, "z"), (7, "n")], "id INT, g STRING") \
        .createOrReplaceTempView("dm_src")
    cat.sql("MERGE INTO dm t USING (SELECT * FROM dm_src) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET g = concat(t.g, s.g) "
            "WHEN NOT MATCHED THEN INSERT (id, g) VALUES (s.id, upper(s.g))")
    assert _rows(cat.sql("SELECT id, g FROM dm")) == [
        (1, "az"), (2, "bdm.g"), (3, "cdm.g"), (7, "N")]


def test_fully_backticked_join_spelling_prunes(spark, join_cat):
    """`a`.col qualifiers are identifiers, not literals: the strip
    rewrites them too, so the consistent backticked spelling prunes."""
    cat = join_cat
    # string literals containing the same shape stay untouched
    _assert_scans(spark, cat,
                  "SELECT `a`.l_orderkey FROM qli `a` JOIN plain_orders o "
                  "ON `a`.l_orderkey = o.o_orderkey "
                  "WHERE `a`.l_orderkey < 200 AND o.o_orderstatus != '`a`.y'",
                  "l_orderkey < 200")
    full_n = len(cat.sql("SELECT * FROM qli").inputFiles())
    df = cat.sql(
        "SELECT `a`.l_orderkey FROM qli `a` JOIN plain_orders o "
        "ON `a`.l_orderkey = o.o_orderkey WHERE `a`.l_orderkey < 200")
    qli_files = [f for f in df.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    assert df.count() == li.filter("l_orderkey < 200").join(
        orders, li.l_orderkey == orders.o_orderkey).count()


def test_cte_where_lift_prunes_files(spark, two_qb_cat):
    """r8: the WHERE lift reaches into CTE bodies — each CTE is a
    self-contained SELECT, so a qbeast table referenced exactly once in
    one body gets a pruned view from that body's WHERE."""
    cat = two_qb_cat
    li, orders = load(spark, "lineitem"), load(spark, "orders")
    full = cat.sql("SELECT * FROM qli")
    full_n = len(full.inputFiles())
    got = cat.sql(
        "WITH small AS (SELECT l_orderkey, l_quantity FROM qli t "
        "WHERE t.l_orderkey < 200) "
        "SELECT s.l_orderkey, s.l_quantity, o.o_custkey FROM small s "
        "JOIN plain_orders o ON s.l_orderkey = o.o_orderkey")
    qli_files = [f for f in got.inputFiles() if "/qli/" in f]
    assert 0 < len(qli_files) < full_n
    exp = (li.filter("l_orderkey < 200")
           .join(orders, li.l_orderkey == orders.o_orderkey).count())
    assert got.count() == exp
    # two CTEs, each with its own qbeast table -> both prune
    got2 = cat.sql(
        "WITH a AS (SELECT l_orderkey FROM qli WHERE qli.l_orderkey < 150), "
        "b AS (SELECT o_orderkey FROM qord WHERE o_orderkey < 250) "
        "SELECT a.l_orderkey FROM a JOIN b ON a.l_orderkey = b.o_orderkey")
    in_li = [f for f in got2.inputFiles() if "/qli/" in f]
    in_ord = [f for f in got2.inputFiles() if "/qord/" in f]
    assert 0 < len(in_li) < full_n
    assert 0 < len(in_ord) < len(cat.sql("SELECT * FROM qord").inputFiles())
    exp2 = (li.filter("l_orderkey < 150")
            .join(orders.filter("o_orderkey < 250"),
                  li.l_orderkey == orders.o_orderkey).count())
    assert got2.count() == exp2


def test_cte_lift_guards(spark, two_qb_cat):
    """CTE lift soundness guards: a second reference anywhere disables
    the lift; the MAIN query's WHERE is never attributed to a CTE body;
    recursive CTEs are skipped."""
    cat = two_qb_cat
    # a second reference in the main query reads every file
    _assert_scans(spark, cat,
                  "WITH a AS (SELECT * FROM qli WHERE l_orderkey < 5) "
                  "SELECT * FROM a UNION ALL SELECT * FROM qli",
                  "l_orderkey < 5", None)
    # the main query's WHERE belongs to the CTE OUTPUT, not the table
    _assert_scans(spark, cat,
                  "WITH a AS (SELECT * FROM qli) "
                  "SELECT * FROM a WHERE l_orderkey < 5", None)
    # happy shape: body WHERE attributed through the alias
    _assert_scans(spark, cat,
                  "WITH a AS (SELECT * FROM qli t WHERE t.l_orderkey < 5) "
                  "SELECT * FROM a", "l_orderkey < 5")
    # results stay exact when the main query adds its own WHERE
    li = load(spark, "lineitem")
    got_df = cat.sql(
        "WITH a AS (SELECT * FROM qli WHERE l_orderkey < 500) "
        "SELECT * FROM a WHERE l_quantity > 10")
    assert got_df.count() == li.filter(
        "l_orderkey < 500 AND l_quantity > 10").count()


def test_left_join_preserved_side_lifts(spark, join_cat):
    """r9 (VERDICT r8 next #3): with the qbeast table on the PRESERVED
    (left) side of a LEFT JOIN its rows are never null-extended, so its
    WHERE conjuncts prune soundly — files shrink, results exact."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t LEFT JOIN plain_orders o "
                  "ON t.l_orderkey = o.o_orderkey WHERE t.l_orderkey < 200",
                  "l_orderkey < 200")
    full = cat.sql(
        "SELECT t.l_orderkey FROM qli t LEFT JOIN plain_orders o "
        "ON t.l_orderkey = o.o_orderkey")
    pruned = cat.sql(
        "SELECT t.l_orderkey, o.o_custkey FROM qli t "
        "LEFT JOIN plain_orders o ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 200")
    qli_full = len([f for f in full.inputFiles() if "/qli/" in f])
    qli_p = len([f for f in pruned.inputFiles() if "/qli/" in f])
    assert 0 < qli_p < qli_full
    exp = (li.filter("l_orderkey < 200")
           .join(orders, li.l_orderkey == orders.o_orderkey, "left")
           .count())
    assert pruned.count() == exp


def test_left_join_chain_positions(spark, join_cat):
    """Chain shapes: only the occurrence DIRECTLY after a LEFT JOIN is
    null-extendable. qli lifts when it leads the chain or is
    inner-joined after a LEFT; never when it follows the LEFT itself."""
    cat = join_cat
    lifts = "l_orderkey < 50"
    # qli leads, LEFT JOIN then INNER JOIN follow -> preserved, lifts
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t LEFT JOIN plain_orders o ON "
                  "t.l_orderkey = o.o_orderkey JOIN plain_orders p ON "
                  "t.l_orderkey = p.o_orderkey WHERE t.l_orderkey < 50",
                  lifts)
    # qli inner-joined AFTER a left join -> still preserved, lifts
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o LEFT JOIN plain_orders p "
                  "ON o.o_orderkey = p.o_orderkey JOIN qli t ON "
                  "t.l_orderkey = o.o_orderkey WHERE t.l_orderkey < 50",
                  lifts)
    # qli DIRECTLY after LEFT JOIN -> null-extendable, no lift
    for kw in ("LEFT JOIN", "LEFT OUTER JOIN"):
        _assert_scans(spark, cat,
                      f"SELECT * FROM plain_orders o {kw} qli t ON "
                      "o.o_orderkey = t.l_orderkey "
                      "WHERE t.l_orderkey < 50", None)
    # RIGHT/FULL null-extend the LEFT side -> no lift
    for kw in ("RIGHT JOIN", "FULL OUTER JOIN"):
        _assert_scans(spark, cat,
                      f"SELECT * FROM qli t {kw} plain_orders o ON "
                      "t.l_orderkey = o.o_orderkey "
                      "WHERE t.l_orderkey < 50", None)


def test_left_join_nullable_side_results_exact(spark, join_cat):
    """The no-lift fallback on the nullable side stays EXACT, including
    the IS-NULL probe that motivates the guard, and a preserved-side
    lift does not disturb which probe rows null-extend."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM qli t LEFT JOIN plain_orders o "
        "ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 300 AND o.o_orderkey IS NULL"
    ).collect()[0].n
    exp = (li.filter("l_orderkey < 300")
           .join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
           .count())
    assert got == exp


def test_right_join_preserved_side_lifts(spark, join_cat):
    """r10 (VERDICT r9 next #5): the table directly after a RIGHT JOIN
    is its PRESERVED side — never null-extended, so its WHERE conjuncts
    prune soundly. Files shrink, results exact vs plain Spark."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o RIGHT JOIN qli t "
                  "ON t.l_orderkey = o.o_orderkey WHERE t.l_orderkey < 200",
                  "l_orderkey < 200")
    full = cat.sql(
        "SELECT t.l_orderkey FROM plain_orders o RIGHT JOIN qli t "
        "ON t.l_orderkey = o.o_orderkey")
    pruned = cat.sql(
        "SELECT t.l_orderkey, o.o_custkey FROM plain_orders o "
        "RIGHT JOIN qli t ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 200")
    qli_full = len([f for f in full.inputFiles() if "/qli/" in f])
    qli_p = len([f for f in pruned.inputFiles() if "/qli/" in f])
    assert 0 < qli_p < qli_full
    exp = (orders.join(li.filter("l_orderkey < 200"),
                       li.l_orderkey == orders.o_orderkey, "right")
           .count())
    assert pruned.count() == exp


def test_right_join_chain_positions(spark, join_cat):
    """RIGHT-chain shapes: an occurrence lifts iff no top-level RIGHT
    JOIN comes AFTER it (a RIGHT JOIN null-extends the whole
    accumulated left side) and it does not directly follow a LEFT."""
    cat = join_cat
    W = "WHERE t.l_orderkey < 50"
    lifts = "l_orderkey < 50"
    # qli after RIGHT [OUTER] JOIN -> preserved, lifts
    for kw in ("RIGHT JOIN", "RIGHT OUTER JOIN"):
        _assert_scans(spark, cat,
                      f"SELECT * FROM plain_orders o {kw} qli t ON "
                      f"t.l_orderkey = o.o_orderkey {W}", lifts)
    # a further INNER join after -> still preserved, lifts
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o RIGHT JOIN qli t ON "
                  "t.l_orderkey = o.o_orderkey JOIN plain_orders p ON "
                  f"t.l_orderkey = p.o_orderkey {W}", lifts)
    # qli BEFORE a top-level RIGHT JOIN -> whole left side
    # null-extended, no lift
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t RIGHT JOIN plain_orders o ON "
                  f"t.l_orderkey = o.o_orderkey {W}", None)
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o RIGHT JOIN qli t ON "
                  "t.l_orderkey = o.o_orderkey RIGHT JOIN plain_orders p "
                  f"ON t.l_orderkey = p.o_orderkey {W}", None)
    # qli directly after LEFT JOIN stays guarded even in a RIGHT-free
    # chain (regression: the LEFT rule is unchanged)
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o LEFT JOIN qli t ON "
                  f"o.o_orderkey = t.l_orderkey {W}", None)
    # a RIGHT JOIN inside a derived-table subquery AFTER qli cannot
    # null-extend this level, qli still lifts
    _assert_scans(spark, cat,
                  "SELECT * FROM qli t JOIN (SELECT a.o_orderkey FROM "
                  "plain_orders a RIGHT JOIN plain_orders b ON "
                  "a.o_orderkey = b.o_orderkey) p ON "
                  f"t.l_orderkey = p.o_orderkey {W}", lifts)
    # FULL stays guarded wholesale
    _assert_scans(spark, cat,
                  "SELECT * FROM plain_orders o FULL OUTER JOIN qli t ON "
                  f"o.o_orderkey = t.l_orderkey {W}", None)


def test_right_join_nullable_side_results_exact(spark, join_cat):
    """The left (null-extended) side's IS-NULL probe stays exact when
    the RIGHT-preserved qbeast table's conjuncts are lifted."""
    cat = join_cat
    li = load(spark, "lineitem")
    orders = load(spark, "orders")
    got = cat.sql(
        "SELECT COUNT(*) AS n FROM plain_orders o RIGHT JOIN qli t "
        "ON t.l_orderkey = o.o_orderkey "
        "WHERE t.l_orderkey < 300 AND o.o_orderkey IS NULL"
    ).collect()[0].n
    exp = (li.filter("l_orderkey < 300")
           .join(orders, li.l_orderkey == orders.o_orderkey,
                 "left_anti").count())
    assert got == exp
