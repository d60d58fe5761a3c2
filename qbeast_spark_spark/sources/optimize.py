"""Table maintenance: optimize (O1), convert-to-qbeast (O2), staging writes.

Re-expression of /root/reference/src/main/scala/io/qbeast/table/
IndexedTable.scala:399-552 (optimize file selection + re-index),
ConvertToQbeastCommand.scala:37-116 (staging revision install) and
StagingUtils.scala:25-58 (revision 0 semantics) on this engine's log.

Optimize re-layouts chosen files against the *existing* cube weights (no
domain recomputation — SparkOTreeManager.optimize:72-103), removes them and
adds the rewritten files in one commit with data_change=False.
"""

from __future__ import annotations

import glob
import os
import time
from typing import Dict, List, Optional, Sequence, Tuple

from ..core.cube import cube_str, parse_cube
from ..core.revision import Revision, STAGING_REVISION_ID
from ..core.weight import INT_MAX, INT_MIN
from ..index.analyzer import (
    WEIGHT_COL,
    compute_cube_weights,
    compute_rollup_from_counts,
    with_index_columns,
)
from .log import Block, CommitLog, IndexFile
from .writer import (
    _build_transformations,
    _complete_file_map,
    _cube_domains,
    _materialize,
    _stored_rows,
)

__all__ = ["optimize_table", "convert_to_qbeast", "write_staging"]


def optimize_table(spark, path: str, fraction: float = 1.0,
                   revision_id: Optional[int] = None,
                   file_paths: Optional[Sequence[str]] = None,
                   columns_to_index: Optional[Sequence[str]] = None,
                   cube_size: Optional[int] = None,
                   analyze_fraction: Optional[float] = None
                   ) -> Optional[int]:
    """Rewrite under-filled / sampled-range / staging files with a fresh
    cube assignment. Selection mirrors the reference's three overloads:

    - fraction: indexed files whose blocks' minWeight fraction <= fraction
      (IndexedTable.selectIndexedFilesToOptimize:428-437);
    - file_paths: explicit list;
    - staging (revision 0) files are always picked up and indexed.

    ``analyze_fraction`` samples the first-revision domain sketch the
    same way write_qbeast's knob does (writer.py) — only reached when a
    staging-only table builds its first revision here.
    """
    from ..core.weight import weight_to_fraction
    from .reader import QbeastTable

    if analyze_fraction is not None and not (0.0 < analyze_fraction <= 1.0):
        raise ValueError(
            f"analyze_fraction must be in (0, 1], got {analyze_fraction}")
    log = CommitLog(path)
    snap = log.snapshot()
    if not snap.files:
        return None

    rev = None
    if revision_id is not None:
        rev = snap.revisions.get(revision_id)
    if rev is None or rev.is_staging:
        rev = snap.latest_revision()

    # -- select files -------------------------------------------------------
    # set-ify once: membership runs per snapshot file, and callers pass
    # O(#files)-sized lists (auto_maintain consolidation)
    fp_set = None if file_paths is None else set(file_paths)
    selected: List[IndexFile] = []
    for rel, f in snap.files.items():
        if fp_set is not None:
            if rel in fp_set or os.path.join(path, rel) in fp_set:
                selected.append(f)
            continue
        if f.revision_id == STAGING_REVISION_ID:
            selected.append(f)
        elif rev is not None and f.revision_id == rev.revision_id and any(
                weight_to_fraction(b.min_weight) <= fraction
                for b in f.blocks):
            selected.append(f)
    if not selected:
        return None

    qt = QbeastTable(spark, path)
    df = qt._df_for_files([f.path for f in selected])

    if rev is None:
        # staging-only table: build the first real revision now
        cols = columns_to_index or [
            c for c in snap.properties.get("qbeast.columnsToIndex", "").split(",")
            if c]
        if not cols:
            raise ValueError(
                "optimize of a staging-only table needs columns_to_index "
                "(or the qbeast.columnsToIndex table property)")
        field_types = {f.name: f.dataType.simpleString()
                       for f in df.schema.fields}
        from ..core.revision import parse_columns_to_index

        specs = parse_columns_to_index(list(cols))
        column_types = [field_types[s.name] for s in specs]
        transformations, n = _build_transformations(df, specs, column_types,
                                                    None)
        rev = Revision(1, int(time.time() * 1000),
                       cube_size or snap_default_cube_size(snap),
                       specs, transformations, column_types)
        prepared = with_index_columns(df, rev)
        domains = _cube_domains(prepared, rev, n, analyze_fraction)
        weights = compute_cube_weights(domains, rev.desired_cube_size, rev.dims)
        counts = {k: float(v) for k, v in domains.items()}
    else:
        prepared = with_index_columns(df, rev)
        weights = {
            parse_cube(c): w
            for c, w in snap.cube_weights.get(rev.revision_id, {}).items()
        }
        if not weights:
            weights = {(0, 0): INT_MAX}
        # actual stored counts per cube from the selected blocks; staging
        # rows (unknown placement) land on the root for rollup sizing
        counts: Dict[Tuple[int, int], float] = {}
        for f in selected:
            for b in f.blocks:
                key = (parse_cube(b.cube)
                       if f.revision_id != STAGING_REVISION_ID else (0, 0))
                counts[key] = counts.get(key, 0.0) + b.count
        for key in weights:
            counts.setdefault(key, 0.0)

    rollup = compute_rollup_from_counts(counts, rev.dims,
                                        rev.desired_cube_size)
    file_map = _complete_file_map(weights.keys(), rollup, rev.dims)
    num_files = max(1, len(set(rollup.values())))

    # preserve bloom coverage across the re-layout: rewritten files keep
    # filters for every column the selected files had one for
    bloom_cols = sorted({c for f in selected
                         for c in (f.blooms or {})})
    add = _materialize(prepared, rev, weights, file_map, num_files, path,
                       bloom_cols=tuple(bloom_cols),
                       rows=_stored_rows(selected))
    return log.commit(
        add=add,
        remove=[f.path for f in selected],
        read_version=snap.version,
        read_files=[f.path for f in selected],
        revisions={rev.revision_id: rev},
        cube_weights={rev.revision_id: {
            cube_str(d, p): int(w) for (d, p), w in weights.items()}},
        schema_json=snap.schema_json or df.schema.json(),
        data_change=False,
        operation="OPTIMIZE",
    )


def snap_default_cube_size(snap) -> int:
    from ..core.revision import DEFAULT_CUBE_SIZE

    try:
        return int(snap.properties.get("qbeast.cubeSize", DEFAULT_CUBE_SIZE))
    except (TypeError, ValueError):
        return DEFAULT_CUBE_SIZE


def _footer_column_stats(md) -> Optional[Dict[str, list]]:
    """Harvest per-column [min, max] from the parquet footer's row-group
    statistics (already computed by whatever wrote the file) so converted
    and staged tables data-skip from day one. Only int/float/str values
    are kept — same restriction as the write-path stats."""
    out: Dict[str, list] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if not isinstance(mn, (int, float, str)) or \
                    isinstance(mn, bool) or type(mn) is not type(mx):
                continue
            name = col.path_in_schema
            if "." in name:
                continue        # nested columns: skip
            cur = out.get(name)
            if cur is None:
                out[name] = [mn, mx]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
    return out or None


def convert_to_qbeast(spark, path: str,
                      columns_to_index: Optional[Sequence[str]] = None,
                      cube_size: Optional[int] = None) -> int:
    """Install the staging revision (ID 0) over an existing directory of
    parquet files, making it qbeast-readable in place. Reads only parquet
    footers (row counts) — a metadata-only operation."""
    import pyarrow.parquet as pq

    log = CommitLog(path)
    if log.exists():
        raise ValueError(f"{path} is already a qbeast table")
    data_files = sorted(
        p for p in glob.glob(os.path.join(path, "*.parquet"))
        if os.path.isfile(p))
    if not data_files:
        raise ValueError(f"no parquet files found in {path}")

    schema_json = spark.read.parquet(*data_files).schema.json()
    add = []
    for p in data_files:
        md = pq.ParquetFile(p).metadata
        rows = md.num_rows
        add.append(IndexFile(
            os.path.basename(p), os.path.getsize(p), rows,
            STAGING_REVISION_ID,
            [Block(cube_str(0, 0), INT_MIN, INT_MAX, rows)],
            _footer_column_stats(md)))

    staging = Revision(STAGING_REVISION_ID, int(time.time() * 1000),
                       cube_size or 5_000_000, [], [], [])
    props = {"qbeast.lastRevisionID": "0"}
    if columns_to_index:
        props["qbeast.columnsToIndex"] = ",".join(columns_to_index)
    if cube_size:
        props["qbeast.cubeSize"] = str(cube_size)
    return log.commit(add=add, revisions={STAGING_REVISION_ID: staging},
                      schema_json=schema_json, properties=props,
                      data_change=False, operation="CONVERT")


def _write_staging_files(df, path: str) -> List[IndexFile]:
    """Write ``df`` as staging (revision 0) data files and return their
    IndexFile entries WITHOUT committing — callers compose the adds into
    their own atomic commit (write_staging, DML rewrites)."""
    from pyspark.sql import functions as F

    from .writer import DEPTH_COL, FILE_COL, PATH_COL, _META_SCHEMA, \
        _make_write_fn

    os.makedirs(path, exist_ok=True)
    prepared = df.withColumns({
        WEIGHT_COL: F.lit(0),
        FILE_COL: F.spark_partition_id().cast("long"),
        DEPTH_COL: F.lit(0),
        PATH_COL: F.lit(0).cast("long"),
    })
    helper_cols = [WEIGHT_COL, FILE_COL, DEPTH_COL, PATH_COL]
    meta = prepared.mapInArrow(_make_write_fn(path, helper_cols),
                               _META_SCHEMA).collect()
    import json as _json

    by_file: Dict[str, IndexFile] = {}
    for r in meta:
        f = by_file.setdefault(
            r["file"], IndexFile(r["file"], r["file_size"], 0,
                                 STAGING_REVISION_ID))
        if f.column_stats is None and r["col_stats"]:
            cs = _json.loads(r["col_stats"])
            if cs:
                f.column_stats = cs
        # staging blocks cover the full weight range (StagingUtils semantics)
        f.blocks = [Block(cube_str(0, 0), INT_MIN, INT_MAX,
                          f.rows + r["element_count"])]
        f.rows += r["element_count"]
    return list(by_file.values())


def write_staging(df, path: str) -> int:
    """Append non-indexed ("plain") files to a qbeast table — the staging
    lane (revision 0): cheap ingest now, indexing deferred to optimize().
    CHECK constraints validate here like on every other ingest path (the
    staging lane is cheaper, not laxer)."""
    from .constraints import constraints_of, validate_constraints

    log = CommitLog(path)
    if log.exists():
        # properties-only log read: the staging lane stays cheap (no
        # O(#files) snapshot materialization just to look up constraints)
        validate_constraints(df, constraints_of(log.table_properties()),
                             context=f"staging append to {path}")
    add = _write_staging_files(df, path)
    staging = Revision(STAGING_REVISION_ID, int(time.time() * 1000),
                       5_000_000, [], [], [])
    return log.commit(add=add,
                      revisions={STAGING_REVISION_ID: staging},
                      schema_json=df.schema.json(), data_change=True,
                      operation="STAGING WRITE")
