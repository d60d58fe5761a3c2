"""Change Data Feed — Delta CDF parity over the qbeast commit log.

Enable with the table property ``qbeast.enableChangeDataFeed=true``
(``qt.set_properties(...)`` or ``enable_change_data_feed()``); from then
on every DML verb (DELETE rewrite/dv, UPDATE, MERGE) writes explicit
change files — the changed rows plus a ``_change_type`` column — under
``_change_data/`` and registers them in its commit. ``table_changes``
then decodes ANY version range into the Delta CDF row shape:

    table columns + _change_type ('insert' | 'delete' |
    'update_preimage' | 'update_postimage') + _commit_version +
    _commit_timestamp

Like Delta, commits whose change rows are fully implied by their file
actions never pay a sidecar: appends decode from their add files
('insert'), truncates from their removed files ('delete', with the
deletion-vector state of the PRIOR version applied), and overwrites from
both. Re-layout commits (OPTIMIZE/COMPACT/CONVERT, dataChange=false)
contribute nothing. A rewrite commit from before CDF was enabled is not
decodable and raises — Delta behaves the same way.

Scale: change files hold only the changed rows; decoding a range reads
O(changed data) plus the add files of append commits — never a table
scan. The union plan is one frame per commit in the range; readers that
tail continuously should use bounded ranges (the same guidance as
Delta's table_changes).
"""

from __future__ import annotations

import os
import uuid
from typing import Any, Dict, List, Optional

from .log import CommitLog

__all__ = ["CDF_PROP", "CHANGE_DIR", "cdf_enabled", "write_change_files",
           "table_changes"]

CDF_PROP = "qbeast.enableChangeDataFeed"
CHANGE_DIR = "_change_data"

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
COMMIT_TS = "_commit_timestamp"

# adds+removes commits whose changes are still derivable from the file
# actions alone: an overwrite is delete-all + insert-all, and a RESTORE
# is delete-current + re-insert-the-restored-state (its re-added files
# may carry deletion vectors from their own era — applying them while
# reading IS the correct insert image)
_DERIVABLE_MIXED_OPS = {"OVERWRITE", "PYDS WRITE", "RESTORE"}


def cdf_enabled(properties: Dict[str, str]) -> bool:
    return str(properties.get(CDF_PROP, "")).lower() == "true"


def write_change_files(df_with_type, table_path: str) -> Dict[str, Any]:
    """Persist change rows (table columns + _change_type) as parquet under
    ``_change_data/<uuid>/``; returns the commit payload entry. Runs as a
    plain distributed parquet write — O(changed rows)."""
    rel = os.path.join(CHANGE_DIR, uuid.uuid4().hex)
    df_with_type.write.mode("overwrite").parquet(
        os.path.join(table_path, rel))
    return {"path": rel}


def _tag(df, v: int, ts_ms: Optional[int], change_type: Optional[str]):
    from pyspark.sql import functions as F

    if change_type is not None:
        df = df.withColumn(CHANGE_TYPE, F.lit(change_type))
    return df.withColumns({
        COMMIT_VERSION: F.lit(int(v)).cast("long"),
        COMMIT_TS: F.timestamp_millis(F.lit(int(ts_ms or 0))),
    })


def table_changes(qt, starting_version: int,
                  ending_version: Optional[int] = None):
    """Decode commits ``starting_version..ending_version`` (inclusive;
    default = latest) into the Delta CDF row shape. See module docstring
    for which commits are decodable."""
    from pyspark.sql import functions as F

    from .frames import empty_frame

    log: CommitLog = qt.log
    versions = log._versions()
    if not versions:
        raise ValueError("empty table: no commits to decode")
    end = versions[-1] if ending_version is None else int(ending_version)
    if starting_version > end:
        raise ValueError(f"starting_version {starting_version} > "
                         f"ending_version {end}")
    frames = []
    for v, commit in log.commits_after(int(starting_version) - 1):
        if v > end:
            break
        if not commit.get("dataChange", True):
            continue            # OPTIMIZE/COMPACT: no logical change
        ts = commit.get("timestamp")
        adds = commit.get("add", [])
        removes = commit.get("remove", [])
        cdc = commit.get("cdc")
        if cdc:
            paths = [os.path.join(qt.path, e["path"]) for e in cdc]
            gone = [p for p in paths if not os.path.isdir(p)]
            if gone:
                raise ValueError(
                    f"commit {v}: change files {gone} were vacuumed "
                    f"(past retention); this range is no longer "
                    f"CDF-readable")
            frames.append(_tag(qt.spark.read.parquet(*paths), v, ts, None))
            continue
        if (commit.get("operation") or "") not in _DERIVABLE_MIXED_OPS:
            if any(fo.get("deletionVector") for fo in adds):
                raise ValueError(
                    f"commit {v} is a deletion-vector delete written "
                    f"before {CDF_PROP} was enabled; its change rows "
                    f"were not recorded")
            if adds and removes:
                raise ValueError(
                    f"commit {v} ({commit.get('operation')}) rewrote "
                    f"files before {CDF_PROP} was enabled; its change "
                    f"rows were not recorded")
        # a RE-ADDED file (same path live at v-1, e.g. a RESTORE rolling
        # a deletion vector back) is a state change: its prior image is
        # deleted and its new image inserted — emitting only the insert
        # would double-count the rows both states share
        # only the derivable mixed ops (RESTORE/overwrites) can re-add an
        # existing path — plain appends always mint new uuid file names,
        # so they never pay the prior-snapshot replay
        may_re_add = (commit.get("operation") or "") in _DERIVABLE_MIXED_OPS
        prev = log.snapshot(at_version=v - 1) \
            if v > 0 and (removes or (adds and may_re_add)) else None
        re_added = [fo["path"] for fo in adds
                    if prev is not None and fo["path"] in prev.files]
        if removes or re_added:
            gone = [r for r in removes if r in prev.files] + re_added
            if gone:
                df = qt._df_for_files(gone, snap=prev)
                frames.append(_tag(df, v, ts, "delete"))
        if adds:
            snap_v = log.snapshot(at_version=v)
            rels = [fo["path"] for fo in adds if fo["path"] in snap_v.files]
            if rels:
                df = qt._df_for_files(rels, snap=snap_v)
                frames.append(_tag(df, v, ts, "insert"))
    if not frames:
        schema = qt.schema()
        base = empty_frame(qt.spark, schema) if schema else None
        if base is None:
            raise ValueError("no decodable commits in range and no schema")
        return _tag(base.withColumn(CHANGE_TYPE, F.lit("insert")),
                    0, 0, None).limit(0)
    # Frames read each commit with ITS schema (change files written
    # pre-evolution lack later-added columns; versioned snapshots carry
    # the as-of schema); CDF semantics are schema-on-read — union with
    # null-fill, then project to the END-of-range schema (Delta parity:
    # old change rows show NULL for columns added later).
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    sj = log.snapshot(at_version=end).schema_json
    if sj:
        import json as _json

        from pyspark.sql import types as T

        schema = T.StructType.fromJson(_json.loads(sj))
        cols = [F.col(f.name) if f.name in out.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields]
        cols += [F.col(c) for c in (CHANGE_TYPE, COMMIT_VERSION, COMMIT_TS)
                 if c in out.columns]
        out = out.select(*cols)
    return out
