"""Driver-built DataFrames that plan as a JVM ``LocalRelation``.

``spark.createDataFrame`` over a Python list or a pandas frame (without
the Arrow conf) becomes a pickled Python RDD: every query that touches
it runs a Python-worker stage, even when the frame holds no rows. Over
a ``pyarrow.Table`` the rows are shipped to the JVM once, at creation,
and the plan is a ``LocalTableScan`` with no job of its own. Every
frame the DML, deletion-vector and compaction paths build on the driver
goes through here. ``arrow_frame`` exists for its type check: a caller
that hands it a list or a pandas frame fails at once instead of
silently planning a Python RDD.
"""

from __future__ import annotations

__all__ = ["arrow_frame", "empty_frame"]


def arrow_frame(spark, table, schema):
    """``table`` (a ``pyarrow.Table``) as a DataFrame with ``schema``
    (a StructType or DDL string); the table is cast to it. Anything but
    a ``pyarrow.Table`` raises: a list or pandas frame would plan a
    Python RDD."""
    import pyarrow as pa

    if not isinstance(table, pa.Table):
        raise TypeError(f"arrow_frame needs a pyarrow.Table, got "
                        f"{type(table).__name__}")
    return spark.createDataFrame(table, schema)


def empty_frame(spark, schema):
    """A zero-row DataFrame with exactly ``schema`` (a StructType),
    not-null flags and nested types included."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if schema is None:
        raise ValueError("an empty frame needs a schema")
    return arrow_frame(spark, to_arrow_schema(schema).empty_table(), schema)
