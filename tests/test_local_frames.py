"""Driver-built frames plan as a JVM LocalTableScan (sources/frames.py):
an all-pruned read, a scan of deletion-vector files and compaction's
bin-spec frame run no Python-worker stage (no ``ExistingRDD`` scan)."""

import datetime
import decimal

from pyspark.sql import types as T

import qbeast_spark_spark as qss
from conftest import load


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_all_pruned_read_keeps_exact_schema(spark, tmp_table):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("m", T.MapType(T.StringType(),
                                     T.ArrayType(T.DecimalType(10, 2)))),
        T.StructField("s", T.StructType([
            T.StructField("b", T.BinaryType())])),
    ])
    rows = [(i, datetime.datetime(2020, 1, 1, 12), {"a": [decimal.Decimal(
        "1.50")]}, (b"x",)) for i in range(20)]
    qss.write(spark.createDataFrame(rows, schema), tmp_table,
              columns_to_index=["k"], cube_size=10)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    snap = qt.snapshot(refresh=True)
    assert qt._prune_files(snap, [("k", ">", 1000)]) == []
    df = qt.read([("k", ">", 1000)])
    assert df.schema == qt.schema() == schema
    assert df.count() == 0
    assert "ExistingRDD" not in _plan(df)


def test_dv_scan_plans_local_position_frame(spark, tmp_table):
    li = load(spark, "lineitem")
    qss.write(li, tmp_table, columns_to_index=["l_orderkey"],
              cube_size=1000)
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    df = qt.to_df()
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.count() == li.where("l_orderkey >= 300").count()


def test_compact_spec_frame_is_local(spark, tmp_table, monkeypatch):
    li = load(spark, "lineitem")
    for i in range(3):
        qss.write(li.where(f"l_orderkey % 3 = {i}"), tmp_table,
                  columns_to_index=["l_orderkey"], cube_size=100_000,
                  column_stats={"l_orderkey": {"min": 0, "max": 1 << 40}})
    qt = qss.QbeastTable.for_path(spark, tmp_table)
    n = qt.to_df().count()
    frame_cls = type(spark.range(1))
    orig = frame_cls.mapInArrow
    plans = []

    def spy(self, *a, **k):
        plans.append(_plan(self))
        return orig(self, *a, **k)

    monkeypatch.setattr(frame_cls, "mapInArrow", spy)
    assert qss.compact_table(spark, tmp_table,
                             target_file_bytes=1 << 30) is not None
    assert len(plans) == 1
    assert "LocalTableScan" in plans[0] and "ExistingRDD" not in plans[0]
    assert len(qt.file_paths()) == 1 and qt.to_df().count() == n
