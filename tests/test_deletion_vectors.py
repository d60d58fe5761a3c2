"""Deletion vectors: codec roundtrips, DV-mode DELETE, Delta import of
DV'd tables (inline + UUID sidecar), export/import roundtrip, vacuum."""

import json
import os
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

import qbeast_spark_spark as qss
from conftest import load
from qbeast_spark_spark.sources.deletion_vectors import (
    DVDescriptor, dv_abs_path, read_dv_file, roaring_array_decode,
    roaring_array_encode, write_dv_file, z85_decode, z85_encode)


@pytest.fixture(scope="module")
def lineitem(spark):
    return load(spark, "lineitem")


# -- codec ----------------------------------------------------------------

def test_z85_rfc32_reference_vector():
    # ZeroMQ RFC 32's worked example
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"
    assert z85_decode("HelloWorld") == raw


@pytest.mark.parametrize("case", [
    [],
    [0],
    [0, 1, 5, 65535, 65536, 1 << 20],
    list(range(100000, 107000)),                     # bitmap container
    [3, 3, 3, 7],                                    # duplicates collapse
])
def test_roaring_roundtrip_small(case):
    back = roaring_array_decode(roaring_array_encode(case))
    assert list(back) == sorted(set(case))


def test_roaring_roundtrip_random_and_multiword():
    rng = np.random.default_rng(11)
    vals = np.concatenate([
        rng.choice(1 << 22, size=50000, replace=False).astype(np.int64),
        (1 << 32) + rng.choice(1 << 16, 700, replace=False).astype(np.int64),
        (9 << 32) + np.arange(4200, dtype=np.int64),
    ])
    back = roaring_array_decode(roaring_array_encode(vals))
    assert np.array_equal(np.sort(np.unique(vals)), back)


def test_dv_file_framing_and_crc(tmp_path):
    data = roaring_array_encode([1, 2, 3, 1 << 33])
    path = str(tmp_path / "deletion_vector_x.bin")
    off, size = write_dv_file(path, data)
    assert read_dv_file(path, off, size) == data
    # corrupt a payload byte -> CRC must catch it
    blob = bytearray(open(path, "rb").read())
    blob[7] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        read_dv_file(path, off, size)


def test_uuid_path_resolution(tmp_path):
    uid = uuid.uuid4()
    desc = DVDescriptor("u", z85_encode(uid.bytes), 1, 10, 3)
    assert dv_abs_path(str(tmp_path), desc) == os.path.join(
        str(tmp_path), f"deletion_vector_{uid}.bin")
    # prefixed variant resolves into the prefix directory
    desc_p = DVDescriptor("u", "ab/" + z85_encode(uid.bytes), 1, 10, 3)
    assert dv_abs_path(str(tmp_path), desc_p) == os.path.join(
        str(tmp_path), "ab/", f"deletion_vector_{uid}.bin")


# -- engine DML -----------------------------------------------------------

@pytest.fixture()
def dv_table(spark, tmp_path, lineitem):
    path = str(tmp_path / "dv_t")
    qss.write(lineitem, path,
              columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=1000)
    return path


def test_dv_delete_matches_logical_result(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    out = qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert out["files_rewritten"] == 0 and out["files_dv"] > 0
    exp = lineitem.where("l_orderkey >= 300")
    assert qt.to_df().count() == exp.count()
    assert qt.to_df().exceptAll(exp).count() == 0
    # pruned read + sample still exclude DV'd rows
    assert qt.read([("l_orderkey", "<", 600)]).count() == \
        lineitem.where("l_orderkey >= 300 and l_orderkey < 600").count()
    assert qt.sample(0.5).where("l_orderkey < 300").count() == 0


def test_dv_delete_unions_and_counts_new_only(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    n1 = qt.delete([("l_orderkey", "<", 300)], mode="dv")["rows_deleted"]
    # overlapping predicate: already-deleted rows must not recount
    n2 = qt.delete([("l_orderkey", "<", 400)], mode="dv")["rows_deleted"]
    exp_1 = lineitem.where("l_orderkey < 300").count()
    exp_2 = lineitem.where(
        "l_orderkey >= 300 and l_orderkey < 400").count()
    assert (n1, n2) == (exp_1, exp_2)
    assert qt.to_df().count() == lineitem.where("l_orderkey >= 400").count()


def test_rewrite_and_update_compose_with_dvs(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    qt.delete([("l_extendedprice", "<", 2000.0)], mode="rewrite")
    qt.update({"l_quantity": "l_quantity + 100"},
              [("l_orderkey", "<", 1000)])
    exp = (lineitem.where("l_orderkey >= 300 and l_extendedprice >= 2000.0")
           .withColumn("l_quantity",
                       F.when(F.col("l_orderkey") < 1000,
                              F.col("l_quantity") + 100)
                       .otherwise(F.col("l_quantity"))))
    got = qt.to_df()
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_optimize_purges_dvs_and_vacuum_reclaims(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    assert any(f.dv for f in qt.snapshot(refresh=True).files.values())
    qss.optimize_table(spark, dv_table, fraction=1.0)
    snap = qt.snapshot(refresh=True)
    assert not any(f.dv for f in snap.files.values())
    qt.vacuum(retention_hours=0.0)
    assert not [n for n in os.listdir(dv_table)
                if n.startswith("deletion_vector_")]
    assert qt.to_df().count() == lineitem.where("l_orderkey >= 300").count()


def test_vacuum_keeps_live_dv_sidecars(spark, dv_table):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    before = {n for n in os.listdir(dv_table)
              if n.startswith("deletion_vector_")}
    qt.vacuum(retention_hours=0.0)
    after = {n for n in os.listdir(dv_table)
             if n.startswith("deletion_vector_")}
    assert before == after and before


# -- Delta interop --------------------------------------------------------

def _write_plain_delta(tmp_path, spark, df, n_files=4):
    """Hand-write a minimal Delta table (data + log) from ``df``."""
    table = str(tmp_path / "delta_src")
    os.makedirs(os.path.join(table, "_delta_log"))
    (df.repartition(n_files).write.mode("overwrite")
     .parquet(str(tmp_path / "staging")))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": df.schema.json(),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}},
    ]
    k = 0
    for name in sorted(os.listdir(str(tmp_path / "staging"))):
        if not name.endswith(".parquet"):
            continue
        src = str(tmp_path / "staging" / name)
        dst_name = f"part-{k:05d}.parquet"
        shutil.copy(src, os.path.join(table, dst_name))
        actions.append({"add": {
            "path": dst_name, "partitionValues": {},
            "size": os.path.getsize(src), "modificationTime": 0,
            "dataChange": True}})
        k += 1
    with open(os.path.join(table, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return table


def test_import_delta_with_dvs_inline_and_sidecar(spark, tmp_path,
                                                  lineitem):
    df = lineitem.select("l_orderkey", "l_extendedprice").limit(4000)
    table = _write_plain_delta(tmp_path, spark, df)
    # positions per file: delete rows 0-9 of file 0 (inline) and rows
    # 0-4999 of file 1 (sidecar) — counts checked against parquet footers
    import pyarrow.parquet as pq

    f0, f1 = "part-00000.parquet", "part-00001.parquet"
    rows0 = pq.read_metadata(os.path.join(table, f0)).num_rows
    rows1 = pq.read_metadata(os.path.join(table, f1)).num_rows
    del0 = list(range(min(10, rows0)))
    del1 = list(range(min(5000, rows1)))
    inline = z85_encode(_pad4(roaring_array_encode(del0)))
    uid = uuid.uuid4()
    data1 = roaring_array_encode(del1)
    off1, size1 = write_dv_file(
        os.path.join(table, f"deletion_vector_{uid}.bin"), data1)
    adds = [
        {"add": {"path": f0, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "i", "pathOrInlineDv": inline,
                     "sizeInBytes": len(_pad4(roaring_array_encode(del0))),
                     "cardinality": len(del0)}}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {
                     "storageType": "u",
                     "pathOrInlineDv": z85_encode(uid.bytes),
                     "offset": off1, "sizeInBytes": size1,
                     "cardinality": len(del1)}}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
    ]
    with open(os.path.join(table, "_delta_log",
                           f"{1:020d}.json"), "w") as fh:
        for a in adds:
            fh.write(json.dumps(a) + "\n")
    got = qss.read_delta_table(spark, table)
    assert got.count() == df.count() - len(del0) - len(del1)
    # and conversion to qbeast carries only the logical rows
    out = str(tmp_path / "converted")
    qss.convert_delta_to_qbeast(spark, table, out,
                                columns_to_index=["l_orderkey"])
    qt = qss.QbeastTable.for_path(spark, out)
    assert qt.to_df().count() == df.count() - len(del0) - len(del1)


def _pad4(data: bytes) -> bytes:
    """Z85 needs 4-byte alignment; the roaring payload already is
    (int32 magic + int64 count + aligned containers), assert instead of
    padding silently."""
    assert len(data) % 4 == 0
    return data


def test_export_then_import_roundtrip_with_dvs(spark, dv_table, lineitem):
    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    qt.export_delta_log()
    exp = lineitem.where("l_orderkey >= 300")
    # through the generic Delta importer
    got = qss.read_delta_table(spark, dv_table)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    # and through the qbeast-on-Delta reader (index intact)
    qt2 = qss.QbeastTable.for_delta(spark, dv_table)
    assert qt2.to_df().count() == exp.count()
    assert qt2.read([("l_orderkey", "<", 600)]).count() == \
        lineitem.where("l_orderkey >= 300 and l_orderkey < 600").count()


def test_small_dv_fast_path_equals_distributed(spark, tmp_path, monkeypatch):
    """r8: small DV snapshots anti-join against a DRIVER-decoded,
    explicitly-broadcast position side (no per-execution Python decode
    stage). Both paths must return the exact same rows; the threshold
    routes between them."""
    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources import deletion_vectors as DVm
    from conftest import load

    li = load(spark, "lineitem")
    p = str(tmp_path / "t")
    qss.write(li, p, columns_to_index=["l_orderkey", "l_extendedprice"],
              cube_size=500)
    qt = qss.QbeastTable.for_path(spark, p)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    qt.delete([("l_extendedprice", ">", 90000.0)], mode="dv")
    expect = li.filter("l_orderkey >= 300 AND l_extendedprice <= 90000.0")

    fast = qt.to_df()          # cardinalities are tiny -> fast path
    assert fast.count() == expect.count()
    assert fast.exceptAll(expect).count() == 0
    assert expect.exceptAll(fast).count() == 0
    # sampling + range read compose with the broadcast mask
    pred = [("l_orderkey", ">=", 500), ("l_orderkey", "<", 900)]
    assert qt.read(pred).count() == expect.filter(
        "l_orderkey >= 500 AND l_orderkey < 900").count()

    monkeypatch.setattr(DVm, "_SMALL_DV_MAX_POSITIONS", 0)
    qt2 = qss.QbeastTable.for_path(spark, p)
    slow = qt2.to_df()         # forced distributed anti-join
    assert slow.count() == expect.count()
    assert slow.exceptAll(expect).count() == 0


def test_zero_cardinality_descriptors_fast_path(spark, tmp_path):
    """All-empty position sets (cardinality-0 descriptors, e.g. from an
    imported table) must route through the fast path without crashing
    schema inference and leave every row visible."""
    import pandas as pd
    from pyspark.sql import functions as F

    import qbeast_spark_spark as qss
    from qbeast_spark_spark.sources.deletion_vectors import (
        DVDescriptor, roaring_array_encode, with_dv_filter,
        write_dv_file, z85_encode)
    import numpy as np
    import uuid

    df = spark.range(10).toDF("id")
    p = str(tmp_path / "plain")
    df.write.parquet(p)
    base = spark.read.parquet(p)
    fp = base.inputFiles()[0]
    import urllib.parse
    abs_file = urllib.parse.unquote(urllib.parse.urlparse(fp).path)
    data = roaring_array_encode(np.empty(0, dtype="int64"))
    uid = uuid.uuid4()
    name = f"deletion_vector_{uid}.bin"
    off, size = write_dv_file(str(tmp_path / "plain" / name), data)
    desc = DVDescriptor("u", z85_encode(uid.bytes), off, size, 0)
    out = with_dv_filter(base, spark, [(abs_file, desc)],
                         str(tmp_path / "plain"))
    assert out.count() == 10


def test_small_dv_cache_bounded_by_positions(spark, tmp_path):
    """r9 advice: the driver-side decoded-position cache is bounded by
    TOTAL decoded positions, not entry count, and drops oldest entries
    once the budget is exceeded."""
    import numpy as np

    from qbeast_spark_spark.sources import deletion_vectors as dvm

    # reset, then insert synthetic entries through the real path
    dvm._SMALL_DV_CACHE = None
    table = str(tmp_path / "t")
    os.makedirs(table, exist_ok=True)
    per_entry = 200_000
    for i in range(4):
        # each entry masks a distinct position range -> distinct payload
        pos = np.arange(i, i + per_entry, dtype=np.int64)
        data = dvm.roaring_array_encode(pos)
        sidecar = os.path.join(table, f"dv{i}.bin")
        off, size = dvm.write_dv_file(sidecar, data)
        desc = dvm.DVDescriptor("p", sidecar, off, size, per_entry)
        dvm._small_dv_frame(spark, [(f"{table}/f{i}.parquet", desc)],
                            table)
    total = sum(n for (_p, n, _w) in dvm._SMALL_DV_CACHE.values())
    assert total <= dvm._SMALL_DV_CACHE_MAX_TOTAL_POSITIONS
    assert 1 <= len(dvm._SMALL_DV_CACHE) <= 5
    dvm._SMALL_DV_CACHE = None


def test_small_dv_cache_evicts_stopped_sessions(spark, tmp_path):
    """Entries keyed to a stopped (or collected) session are purged on
    the next call rather than pinning the dead session forever."""
    import weakref
    from collections import OrderedDict

    import pandas as pd
    from pyspark.sql import functions as F

    from qbeast_spark_spark.sources import deletion_vectors as dvm

    dvm._SMALL_DV_CACHE = OrderedDict()

    class _DeadSession:            # quacks stopped: _sc is None
        _sc = None

    dead = _DeadSession()
    pdf = pd.DataFrame({"file_path": pd.Series(dtype="str"),
                        "row_index": pd.Series(dtype="int64")})
    frame = F.broadcast(spark.createDataFrame(
        pdf, schema="file_path string, row_index long"))
    dvm._SMALL_DV_CACHE[("dead-key",)] = (frame, 0, weakref.ref(dead))
    table = str(tmp_path / "t2")
    os.makedirs(table, exist_ok=True)
    dvm._small_dv_frame(spark, [], table)   # triggers the sweep
    assert ("dead-key",) not in dvm._SMALL_DV_CACHE
    dvm._SMALL_DV_CACHE = None


def test_dv_mask_driver_lane_matches_executor_lane(spark, dv_table,
                                                   monkeypatch):
    """``_dv_mask_adds`` builds masks on the driver for at most
    ``_DRIVER_MASK_MAX_HITS`` hits and on executors above it. Both lanes
    must give the same bitmaps, cardinalities and new-delete counts: for
    a file that already has a DV (re-masked positions are a no-op),
    duplicate positions, and an empty hit set."""
    from pyspark.sql.group import GroupedData

    from qbeast_spark_spark.sources import dml
    from qbeast_spark_spark.sources.deletion_vectors import (
        _file_uri, descriptor_positions)

    qt = qss.QbeastTable.for_path(spark, dv_table)
    qt.delete([("l_orderkey", "<", 300)], mode="dv")
    snap = qt.snapshot(refresh=True)
    table = os.path.abspath(dv_table)
    old_rel = next(rel for rel, f in snap.files.items() if f.dv)
    new_rel = next(rel for rel, f in snap.files.items() if not f.dv)
    old = descriptor_positions(table, DVDescriptor.from_json(
        snap.files[old_rel].dv))
    rows = ([(old_rel, int(p)) for p in old[:3]] +
            [(old_rel, int(p)) for p in (1, 2, 2, 5)] +
            [(new_rel, int(p)) for p in (0, 7, 7, 7, 9)])
    hits = spark.createDataFrame(
        [(_file_uri(os.path.join(table, rel)), p) for rel, p in rows],
        "fp string, ri long")
    n = len(rows)
    want = {old_rel: sorted(set(old.tolist()) | {1, 2, 5}),
            new_rel: [0, 7, 9]}
    want_new = sum(len(v) for v in want.values()) - len(old)

    grouped = []
    orig = GroupedData.applyInPandas

    def spy(self, *a, **k):
        grouped.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(GroupedData, "applyInPandas", spy)

    def run(cap, frame, n_hits, rels):
        monkeypatch.setattr(dml, "_DRIVER_MASK_MAX_HITS", cap)
        grouped.clear()
        adds, new = dml._dv_mask_adds(qt, snap, rels, frame, n_hits)
        got = {a.path: (a.dv["cardinality"], descriptor_positions(
            table, DVDescriptor.from_json(a.dv)).tolist()) for a in adds}
        return got, new, bool(grouped)

    driver = run(n, hits, n, [old_rel, new_rel])
    executor = run(n - 1, hits, n, [old_rel, new_rel])
    assert driver[2] is False and executor[2] is True
    assert driver[:2] == executor[:2] == (
        {rel: (len(v), v) for rel, v in want.items()}, want_new)

    empty = hits.limit(0)
    assert run(0, empty, 0, [])[:2] == ({}, 0)
    assert run(-1, empty, 0, [])[:2] == ({}, 0)
