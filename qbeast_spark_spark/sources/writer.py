"""Indexed write pipeline (W1-W7 of SURVEY.md §2.1).

Spark-first re-expression of the reference write path
(/root/reference/src/main/scala/io/qbeast/table/IndexedTable.scala:305-391,
 core/src/main/scala/io/qbeast/spark/index/SparkOTreeManager.scala:38-60,
 core/src/main/scala/io/qbeast/spark/writer/RollupDataWriter.scala:45-176):

job 1  column stats (min/max/count)        — DataFrame aggregate
job 2  cube-domain sketch                  — mapInArrow + tiny shuffle
driver cube weights + rollup               — O(#cubes) Python
job 3  cube assignment -> repartition by   — mapInArrow (NumPy), shuffle on
       rollup file -> per-task Arrow        the rollup file id only, then
       parquet writing with Block stats     row groups of ROW_GROUP_ROWS per
                                            file (sources/sink.py)

Row groups: the writer owns the parquet layout. Every file goes through
one ``ParquetSink``, which writes groups of exactly ``ROW_GROUP_ROWS``
rows and puts the remainder in the file's last group, whatever Arrow
batch size the session hands the write stage; the session conf is never
touched.

The only full-data shuffle is the rollup repartition — identical to the
reference (RollupDataWriter.scala:67). Driver state is O(#cubes), never
O(rows) outside the bounded driver lane below; broadcast state is the
level map (a few numpy arrays).

Driver lane, for a batch of at most ``min(cube size,
DRIVER_MAX_WRITE_ROWS)`` rows (small appends, DML post-images, stream
micro-batches) whose estimated Arrow size is at most
``DRIVER_MAX_WRITE_BYTES`` (``_driver_fits``: no binary, array, map or
struct column, strings at an allowance):

job 1  column stats                        — as above
driver no sketch: one cube's domain is     — what simulate_domains returns
       {root: n}                             for n <= group cube size
job 2  collect the prepared rows           — ONE Arrow collect; the JVM still
                                             computes weights + coordinates
driver assign + parquet writing            — the same closures, over rows
                                             sorted in the distributed
                                             lane's (file, depth, path,
                                             weight) order

Same files and Block stats as the distributed lane, without the sketch,
spread and repartition stages. Above the guard the distributed pipeline
is the one fallback; a one-cube batch too wide for the driver still
skips the sketch but writes through job 3.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np

from ..core.cube import cube_str, parse_cube
from ..core.revision import (
    DEFAULT_CUBE_SIZE,
    Revision,
    parse_columns_to_index,
)
from ..core.transform import (
    HashTransformation,
    IdentityTransformation,
    LinearTransformation,
    QuantilesTransformation,
    numeric_view,
    transformer_for_type,
)
from ..index import analyzer as _analyzer
from ..index.analyzer import (
    NORM_PREFIX,
    WEIGHT_COL,
    estimate_cube_domains,
    compute_cube_weights,
    compute_rollup,
    with_index_columns,
)
from ..index.vectorized import LevelMap, assign_cubes
from .log import Block, CommitLog, IndexFile
from .sink import ParquetSink

__all__ = ["write_qbeast"]

FILE_COL = "_qbeast_file"
DEPTH_COL = "_qbeast_cube_depth"
PATH_COL = "_qbeast_cube_path"

# Driver-lane caps (module docstring): a batch of at most min(cube size,
# DRIVER_MAX_WRITE_ROWS) rows is one cube and skips the sketch; it is also
# assigned and written on the driver when its estimated Arrow size is at
# most DRIVER_MAX_WRITE_BYTES. Measured with lineitem appends at the 5M
# default cube size on a 4-vCPU VM (local[4]): the driver lane took 0.24 / 0.25 / 0.30 /
# 0.44 s at 2k / 16k / 32k / 65,536 rows against 1.5-2.0 s for the
# distributed pipeline, and grew the driver's RSS by ~0.6 KB a row (38 MB
# at 65,536 rows, ~5x the batch's Arrow bytes).
DRIVER_MAX_WRITE_ROWS = 65_536
DRIVER_MAX_WRITE_BYTES = 32 << 20
# the estimate's allowance for one string value's data
_STRING_BYTES = 64

_META_SCHEMA = ("file string, col_stats string, blooms string, "
                "cube_depth int, cube_path long, min_weight long, "
                "max_weight long, element_count long, file_size long")


def _build_transformations(df, revision_cols, column_types, column_stats):
    """Job 1: one aggregate for min/max of every linear column, then freeze
    the per-column transformations (LinearTransformer.scala:53-56 stats)."""
    from pyspark.sql import functions as F

    aggs = []
    scanned = set()
    for i, (spec, ctype) in enumerate(zip(revision_cols, column_types)):
        kind = spec.transformer or transformer_for_type(ctype)
        stats = (column_stats or {}).get(spec.name, {})
        if kind == "linear" and not ("min" in stats and "max" in stats):
            # user-provided columnStats skip the data pass for that column
            # (reference option.columnStats parity) — at scale the stats
            # job then degrades to a count, answered from parquet footers
            v = numeric_view(spec.name, ctype)
            aggs += [F.min(v).alias(f"min_{i}"), F.max(v).alias(f"max_{i}")]
            scanned.add(i)
    aggs.append(F.count(F.lit(1)).alias("_n"))
    row = df.agg(*aggs).collect()[0]
    n = row["_n"]

    transformations = []
    for i, (spec, ctype) in enumerate(zip(revision_cols, column_types)):
        kind = spec.transformer or transformer_for_type(ctype)
        stats = (column_stats or {}).get(spec.name, {})
        if kind == "linear":
            mn = stats.get("min", row[f"min_{i}"] if i in scanned else None)
            mx = stats.get("max", row[f"max_{i}"] if i in scanned else None)
            if mn is None or mx is None:
                transformations.append(IdentityTransformation())
            else:
                # degenerate (mn == mx) handled inside LinearTransformation
                transformations.append(LinearTransformation(float(mn), float(mx)))
        elif kind == "hashing":
            transformations.append(HashTransformation())
        elif kind == "quantiles":
            qs = stats.get("quantiles")
            if qs is None:
                qs = df.stat.approxQuantile(
                    spec.name, [j / 50.0 for j in range(51)], 0.01)
            is_string = ctype.lower() == "string"
            transformations.append(QuantilesTransformation(qs, is_string))
        else:
            raise ValueError(f"unknown transformer kind {kind}")
    return transformations, n


def _resolve_revision(snapshot, specs, column_types, transformations,
                      cube_size) -> Tuple[Revision, bool]:
    """Reuse / grow / create the revision (SparkRevisionFactory.scala:230-270)."""
    existing = snapshot.latest_revision()
    now = int(time.time() * 1000)
    if existing is None:
        rev = Revision(1, now, cube_size,
                       list(specs), list(transformations), list(column_types))
        return rev, True
    same_cols = (existing.column_names == [s.name for s in specs])
    if same_cols and not existing.is_superseded_by(transformations):
        return existing, False
    if same_cols:
        return existing.merged_with(transformations, existing.revision_id + 1,
                                    now), True
    rev = Revision(existing.revision_id + 1, now, cube_size,
                   list(specs), list(transformations), list(column_types))
    return rev, True


def _complete_file_map(weight_keys, rollup: Dict[Tuple[int, int], int],
                       dims: int) -> Dict[Tuple[int, int], int]:
    """Every known cube needs a rollup file: cubes absent from this write's
    rollup (e.g. pre-existing cubes on append) inherit the nearest ancestor's
    group."""
    out = {}
    for key in sorted(weight_keys, key=lambda k: (k[0], k[1])):
        if key in rollup:
            out[key] = rollup[key]
            continue
        depth, path = key
        fid = 0
        for d in range(depth - 1, -1, -1):
            mask = (1 << (dims * d)) - 1
            cand = (d, path & mask)
            if cand in out:
                fid = out[cand]
                break
        out[key] = fid
    return out


def _make_assign_fn(level_map: LevelMap, dims: int, norm_cols: List[str],
                    out_names: List[str]):
    import pyarrow as pa

    def assign(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pts = np.column_stack([
                tbl.column(c).to_numpy(zero_copy_only=False) for c in norm_cols
            ])
            ws = tbl.column(WEIGHT_COL).to_numpy(zero_copy_only=False).astype(np.int64)
            depth, path, file_id = assign_cubes(pts, ws, level_map, dims)
            keep = tbl.drop_columns(norm_cols)
            arrays = [keep.column(name).combine_chunks() for name in keep.column_names]
            arrays += [pa.array(file_id.astype(np.int64)),
                       pa.array(depth.astype(np.int32)),
                       pa.array(path.astype(np.int64))]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return assign


def _make_write_fn(table_path: str, helper_cols: List[str],
                   bloom_cols: Tuple[str, ...] = (),
                   bloom_bits: int = 16384):
    """Per-task parquet writing through one ``ParquetSink`` per rollup
    file + Block stats accumulator (IndexFileWriter.scala:44-96
    re-expressed with pyarrow)."""
    import pyarrow as pa

    # resolve the bloom kernels HERE (driver scope) so cloudpickle ships
    # them by value with the closure — an import inside write() would
    # resolve by name on the executor, where this package is not on
    # sys.path (the classic driver-only-library failure)
    from ..functions.bloom import bloom_add_many, bloom_encode, bloom_new

    def write(batches):
        sinks: Dict[int, ParquetSink] = {}
        last: Optional[ParquetSink] = None
        # (file_id, depth, path) -> [min_w, max_w, count]
        stats: Dict[Tuple[int, int, int], List[int]] = {}
        # file_id -> {col: bitmap} opt-in string point-lookup blooms
        blooms: Dict[int, Dict[str, Any]] = {}

        def track_blooms(fid: int, sub) -> None:
            if not bloom_cols:
                return
            dst = blooms.setdefault(fid, {})
            for c in bloom_cols:
                if c not in sub.column_names:
                    continue
                bm = dst.get(c)
                if bm is None:
                    bm = dst[c] = bloom_new(bloom_bits)
                bloom_add_many(bm, sub.column(c).to_pylist())

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            fids = tbl.column(FILE_COL).to_numpy(zero_copy_only=False)
            depths = tbl.column(DEPTH_COL).to_numpy(zero_copy_only=False)
            paths = tbl.column(PATH_COL).to_numpy(zero_copy_only=False)
            ws = tbl.column(WEIGHT_COL).to_numpy(zero_copy_only=False).astype(np.int64)
            data = tbl.drop_columns(helper_cols)

            for fid in map(int, np.unique(fids)):
                idx = np.flatnonzero(fids == fid)
                sub = data.take(idx)
                if fid not in sinks:
                    if last is not None:
                        # sorted input: the previous file has no more rows
                        last.flush()
                    sinks[fid] = ParquetSink(os.path.join(
                        table_path, f"{uuid.uuid4().hex}.parquet"),
                        sub.schema)
                last = sinks[fid]
                last.append(sub)
                track_blooms(fid, sub)
                # block stats per cube inside this file
                d_sub, p_sub, w_sub = depths[idx], paths[idx], ws[idx]
                okey = np.lexsort((p_sub, d_sub))
                d_s, p_s, w_s = d_sub[okey], p_sub[okey], w_sub[okey]
                boundary = np.flatnonzero(
                    (d_s[1:] != d_s[:-1]) | (p_s[1:] != p_s[:-1])) + 1
                starts = np.concatenate(([0], boundary))
                ends = np.concatenate((boundary, [len(d_s)]))
                for s, e in zip(starts, ends):
                    k = (fid, int(d_s[s]), int(p_s[s]))
                    mn = int(w_s[s:e].min())
                    mx = int(w_s[s:e].max())
                    cnt = int(e - s)
                    if k in stats:
                        st = stats[k]
                        st[0] = min(st[0], mn)
                        st[1] = max(st[1], mx)
                        st[2] += cnt
                    else:
                        stats[k] = [mn, mx, cnt]

        import json as _json

        closed = {fid: sink.close() for fid, sink in sinks.items()}
        rows = {"file": [], "col_stats": [], "blooms": [],
                "cube_depth": [], "cube_path": [], "min_weight": [],
                "max_weight": [], "element_count": [], "file_size": []}
        stats_json = {fid: _json.dumps(cs, sort_keys=True)
                      for fid, (_, _, cs) in closed.items()}
        blooms_json = {fid: _json.dumps({c: bloom_encode(bm)
                                         for c, bm in bms.items()},
                                        sort_keys=True)
                       for fid, bms in blooms.items()}
        for (fid, d, p), (mn, mx, cnt) in stats.items():
            rows["file"].append(os.path.basename(sinks[fid].path))
            rows["col_stats"].append(stats_json[fid])
            rows["blooms"].append(blooms_json.get(fid, "{}"))
            rows["cube_depth"].append(d)
            rows["cube_path"].append(p)
            rows["min_weight"].append(mn)
            rows["max_weight"].append(mx)
            rows["element_count"].append(cnt)
            rows["file_size"].append(closed[fid][1])
        if rows["file"]:
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows["file"], type=pa.string()),
                 pa.array(rows["col_stats"], type=pa.string()),
                 pa.array(rows["blooms"], type=pa.string()),
                 pa.array(rows["cube_depth"], type=pa.int32()),
                 pa.array(rows["cube_path"], type=pa.int64()),
                 pa.array(rows["min_weight"], type=pa.int64()),
                 pa.array(rows["max_weight"], type=pa.int64()),
                 pa.array(rows["element_count"], type=pa.int64()),
                 pa.array(rows["file_size"], type=pa.int64())],
                names=list(rows))

    return write


def _driver_lane(revision: Revision, rows: Optional[int]) -> bool:
    """The one write-path guard: ``rows`` (a known count or an upper
    bound; None = unknown) fits in one cube and under the driver cap."""
    return rows is not None and \
        rows <= min(revision.desired_cube_size, DRIVER_MAX_WRITE_ROWS)


def _driver_fits(schema, rows: int) -> bool:
    """Whether ``rows`` rows of ``schema`` are small enough to collect to
    the driver: fixed-width columns count their Arrow width, strings an
    offset plus ``_STRING_BYTES``. A binary, array, map or struct column
    has no width the schema bounds (blobs, embeddings), so a batch with
    one stays on the executors."""
    from pyspark.sql import types as T

    fixed = {T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2,
             T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
             T.YearMonthIntervalType: 4, T.LongType: 8, T.DoubleType: 8,
             T.TimestampType: 8, T.TimestampNTZType: 8,
             T.DayTimeIntervalType: 8, T.DecimalType: 16, T.NullType: 0}
    width = 0
    for f in schema.fields:
        if type(f.dataType) in fixed:
            width += fixed[type(f.dataType)]
        elif isinstance(f.dataType, T.StringType):
            width += 4 + _STRING_BYTES
        else:
            return False
    return rows * width <= DRIVER_MAX_WRITE_BYTES


def _stored_rows(files) -> Optional[int]:
    """Upper bound on the rows a rewrite of ``files`` writes: their Block
    counts (rows a deletion vector hides included). None (unknown) when a
    file with bytes records no rows — an imported Delta add without
    ``numRecords`` stats reads that way, and 0 would pass the guard."""
    total = 0
    for f in files:
        n = sum(b.count for b in f.blocks)
        if n == 0 and f.size > 0:
            return None
        total += n
    return total


def _cube_domains(prepared, revision: Revision, n: int,
                  sample_fraction: Optional[float] = None
                  ) -> Dict[Tuple[int, int], float]:
    """Job 2, or its known answer: a driver-lane batch is one cube, so the
    sketch would return ``{root: n}`` — skip it (and leave no stale
    sketch fraction behind)."""
    if _driver_lane(revision, n):
        _analyzer.LAST_SKETCH_FRACTION = None
        return {(0, 0): float(n)}
    return estimate_cube_domains(prepared, revision, n,
                                 sample_fraction=sample_fraction)


def _materialize(prepared, revision: Revision, weights, file_map, num_files,
                 path: str, bloom_cols: Tuple[str, ...] = (),
                 bloom_bits: int = 16384,
                 rows: Optional[int] = None) -> List[IndexFile]:
    """Job 3: assign -> shuffle on rollup id -> per-task parquet writing,
    or the driver lane when ``rows`` passes the guard and the batch's
    estimated size fits (module docstring).
    Returns the IndexFile list (with Block stats) for the commit."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dims = revision.dims
    level_map = LevelMap.build(weights, file_map)
    norm_cols = [f"{NORM_PREFIX}{i}" for i in range(dims)]
    out_fields = [f for f in prepared.schema.fields if f.name not in norm_cols]
    passthrough = [f.name for f in out_fields]
    assign_fn = _make_assign_fn(level_map, dims, norm_cols,
                                passthrough + [FILE_COL, DEPTH_COL, PATH_COL])
    helper_cols = [WEIGHT_COL, FILE_COL, DEPTH_COL, PATH_COL]
    write_fn = _make_write_fn(path, helper_cols, tuple(bloom_cols),
                              bloom_bits)

    if _driver_lane(revision, rows) and _driver_fits(prepared.schema, rows):
        import pyarrow as pa

        # _collect_as_arrow, not toArrow(): toArrow casts session-zone
        # timestamps to UTC, and the files must carry the same Arrow
        # schema the mapInArrow workers see
        tbl = pa.Table.from_batches(
            prepared._collect_as_arrow(empty_list_if_zero_records=False))
        if tbl.num_rows == 0:
            return []
        # assign's from_arrays output is all-nullable; the JVM hands the
        # distributed write stage the declared (not-null) flags, and the
        # files carry them
        schema = pa.schema([tbl.schema.field(c) for c in passthrough] + [
            pa.field(FILE_COL, pa.int64()), pa.field(DEPTH_COL, pa.int32()),
            pa.field(PATH_COL, pa.int64())])
        assigned = pa.Table.from_batches(
            list(assign_fn(tbl.to_batches()))).cast(schema)
        ordered = assigned.sort_by([(c, "ascending") for c in
                                    (FILE_COL, DEPTH_COL, PATH_COL,
                                     WEIGHT_COL)])
        meta = [r for b in write_fn(ordered.to_batches())
                for r in b.to_pylist()]
        return _index_files(meta, revision)

    assign_schema = T.StructType(
        out_fields + [T.StructField(FILE_COL, T.LongType()),
                      T.StructField(DEPTH_COL, T.IntegerType()),
                      T.StructField(PATH_COL, T.LongType())])
    from ..functions.partitioning import spread

    # spread() before the Arrow stage: a small table often scans as 1-3
    # splits, which would serialize cube assignment on as many cores; at
    # real scale inputs already have >= defaultParallelism splits and this
    # is a no-op (no extra shuffle in 100 TB plans).
    assigned = spread(prepared).mapInArrow(assign_fn, assign_schema)
    meta = (
        assigned.repartition(num_files, F.col(FILE_COL))
        .sortWithinPartitions(FILE_COL, DEPTH_COL, PATH_COL, WEIGHT_COL)
        .mapInArrow(write_fn, _META_SCHEMA)
        .collect()
    )
    return _index_files(meta, revision)


def _index_files(meta, revision: Revision) -> List[IndexFile]:
    """Write-kernel meta rows (one per file x cube) -> IndexFile list."""
    import json as _json

    by_file: Dict[str, IndexFile] = {}
    for r in meta:
        f = by_file.setdefault(
            r["file"],
            IndexFile(r["file"], r["file_size"], 0, revision.revision_id))
        if f.column_stats is None and r["col_stats"]:
            cs = _json.loads(r["col_stats"])
            if cs:
                f.column_stats = cs
        if f.blooms is None and r["blooms"]:
            bm = _json.loads(r["blooms"])
            if bm:
                f.blooms = bm
        f.blocks.append(Block(cube_str(r["cube_depth"], r["cube_path"]),
                              r["min_weight"], r["max_weight"],
                              r["element_count"]))
        f.rows += r["element_count"]
    return list(by_file.values())


# Wall-clock of the last write's phases (transform stats job / domain
# estimation job / assign+shuffle+write job / log commit), refreshed by
# every write_qbeast call. Diagnostic only — bench.py surfaces it
# as qb_write.* submetrics so a write-time regression is attributable to
# a phase instead of showing up as one opaque number.
LAST_WRITE_PHASES: Dict[str, float] = {}

# Row count of the last write's INPUT batch, measured by the stats job
# the write runs anyway — callers that want an "affected rows" figure
# (the SQL surface's INSERT status) read it via last_write_rows()
# instead of paying a third pass over the source query. Thread-local:
# two threads writing through one session must not cross-report counts.
# An idempotent-txn skip reports 0 (the batch wrote nothing).
_WRITE_TL = threading.local()


def last_write_rows() -> Optional[int]:
    """Row count written by this THREAD's most recent write_qbeast call
    (0 for an idempotent-txn skip; None if the thread has not written)."""
    return getattr(_WRITE_TL, "rows", None)


def write_qbeast(df, path: str,
                 columns_to_index: Optional[Sequence[str] | str] = None,
                 cube_size: int = DEFAULT_CUBE_SIZE, mode: str = "append",
                 column_stats: Optional[Dict[str, Dict[str, Any]]] = None,
                 pre_commit_hooks: Optional[List] = None,
                 merge_schema: bool = False,
                 txn_app_id: Optional[str] = None,
                 txn_version: Optional[int] = None,
                 bloom_columns: Optional[Sequence[str]] = None,
                 bloom_bits: int = 16384,
                 constraints: Optional[Dict[str, str]] = None,
                 analyze_fraction: Optional[float] = None) -> int:
    """Index + write ``df`` as one transactional qbeast commit; returns the
    committed log version. See module docstring for the plan shape.

    ``analyze_fraction`` runs the cube-domain sketch (the write's most
    expensive analysis pass) over a Bernoulli sample scaled back by
    1/f — the 100-TB ingest knob. Sampling shifts index BALANCE only
    (cube weights are cubeSize/domain ratios; relative error
    ~1/sqrt(f·cubeSize)); every read-correctness input — per-file
    stats, block weights, element assignment — is computed from the
    real rows in the write pass. The fraction auto-clamps so the
    sketch keeps >=100k expected rows.

    ``constraints`` adds named CHECK constraints ({name: SQL boolean
    expr}, persisted as ``qbeast.constraint.<name>`` properties); this
    batch and every later write/UPDATE/MERGE validates against the
    table's full constraint set before committing
    (sources/constraints.py).

    ``bloom_columns`` opts string columns into per-file Bloom filters
    (functions/bloom.py): equality / IN literals that test negative prove
    the file holds no match, so point lookups skip files the min/max
    stats can't (beyond-reference data skipping; parquet-native blooms
    are unavailable in this container's pyarrow).

    ``txn_app_id``/``txn_version`` make the write idempotent
    (docs/AdvancedConfiguration.md:119-152, Delta SetTransaction
    semantics): if the table already recorded this app id at an equal or
    higher version, the write is skipped and the current log version is
    returned — retried ingestion jobs and replayed streaming batches
    commit their data exactly once.

    ``columns_to_index=None`` auto-selects up to 3 least-correlated columns
    (SparkColumnsToIndexSelector parity — the reference does the same when
    the option is absent); an existing table's indexed columns still win
    on append."""
    from pyspark.sql import types as T

    if columns_to_index is None:
        from .reader import QbeastTable as _QT

        existing = None
        if CommitLog(path).exists():
            existing = _QT(df.sparkSession, path) \
                .snapshot().latest_revision()
        if existing is not None:
            columns_to_index = [
                f"{s.name}:{s.transformer}" if s.transformer else s.name
                for s in existing.column_specs]
        else:
            from ..functions.selection import select_columns_to_index

            columns_to_index = select_columns_to_index(df)

    if analyze_fraction is not None and not (0.0 < analyze_fraction <= 1.0):
        # fail BEFORE the stats pass: a typo'd 10 ("ten percent") must
        # not pay the full transform job first at 100-TB scale (and an
        # empty first batch must not accept the typo silently)
        raise ValueError(
            f"analyze_fraction must be in (0, 1], got {analyze_fraction}")

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")

    specs = parse_columns_to_index(columns_to_index)
    field_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in (bloom_columns or ()):
        if field_types.get(c) != "string":
            raise ValueError(
                f"bloom_columns entries must be string columns; {c!r} is "
                f"{field_types.get(c, 'absent')}")
    for s in specs:
        if s.name not in field_types:
            raise ValueError(f"column to index {s.name!r} not in schema "
                             f"{list(field_types)}")
    column_types = [field_types[s.name] for s in specs]

    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")

    os.makedirs(path, exist_ok=True)
    log = CommitLog(path)
    snapshot = log.snapshot()
    if txn_app_id is not None and \
            snapshot.txns.get(txn_app_id, -1) >= int(txn_version):
        _WRITE_TL.rows = 0             # skipped batch: nothing written
        return snapshot.version        # already committed: idempotent skip
    # CHECK constraints: the incoming batch must satisfy the table's
    # stored set plus any newly declared ones (one agg job; NULL passes,
    # Delta semantics). Constraints survive overwrite — properties merge
    # across commits — matching Delta's INSERT OVERWRITE.
    from .constraints import CONSTRAINT_PREFIX, constraints_of, \
        validate_constraints

    all_constraints = {**constraints_of(snapshot.properties),
                       **(constraints or {})}
    validate_constraints(df, all_constraints,
                         context=f"{mode} to {path}")
    constraint_props = {f"{CONSTRAINT_PREFIX}{name}": expr
                        for name, expr in (constraints or {}).items()}

    pre_existing_files = list(snapshot.files.keys())
    if mode == "overwrite":
        snapshot.files = {}
        snapshot.cube_weights = {}
        snapshot.cube_domains = {}
        snapshot.revisions = {}

    # IndexedTable.save parity (IndexedTable.scala:303-320): on append the
    # table's existing indexed columns win — honoring a different spec would
    # mix revisions whose residual sample() predicates disagree (ADVICE r1).
    existing_rev = snapshot.latest_revision()
    if existing_rev is not None:
        if [s.name for s in specs] != existing_rev.column_names:
            specs = list(existing_rev.column_specs)
            for s in specs:
                if s.name not in field_types:
                    raise ValueError(
                        f"table is indexed by {existing_rev.column_names} but "
                        f"append is missing column {s.name!r}")
            column_types = [field_types[s.name] for s in specs]

    # Schema evolution (Delta mergeSchema semantics,
    # DeltaMetadataWriter.scala:82-85 parity): appends must match the table
    # schema; with merge_schema=True new columns append to it (old files
    # read the added columns as null), type changes are always rejected.
    schema_to_commit = df.schema
    if mode == "append" and snapshot.schema_json:
        import json as _json

        old = T.StructType.fromJson(_json.loads(snapshot.schema_json))
        old_by_name = {f.name: f for f in old.fields}
        new_by_name = {f.name: f for f in df.schema.fields}
        conflicts = [nm for nm, f in new_by_name.items()
                     if nm in old_by_name
                     and old_by_name[nm].dataType != f.dataType]
        if conflicts:
            raise ValueError(
                f"append changes column types for {conflicts}; "
                "qbeast tables reject type changes")
        changed = (set(old_by_name) != set(new_by_name))
        if changed and not merge_schema:
            raise ValueError(
                "append schema differs from the table schema "
                f"(table: {sorted(old_by_name)}, df: {sorted(new_by_name)}); "
                "pass merge_schema=True to evolve")
        schema_to_commit = T.StructType(
            old.fields + [f for f in df.schema.fields
                          if f.name not in old_by_name])

    _t0 = time.perf_counter()
    transformations, n = _build_transformations(df, specs, column_types,
                                                column_stats)
    LAST_WRITE_PHASES.clear()
    LAST_WRITE_PHASES["transform"] = time.perf_counter() - _t0
    _WRITE_TL.rows = int(n)
    if n == 0:
        return log.commit(add=[], remove=[], schema_json=df.schema.json(),
                          data_change=False, operation="WRITE",
                          properties=constraint_props or None,
                          protocol=({"writerFeatures": ["checkConstraints"]}
                                    if constraint_props else None),
                          txn=({"appId": txn_app_id,
                                "version": int(txn_version)}
                               if txn_app_id is not None else None))

    revision, _is_new = _resolve_revision(snapshot, specs, column_types,
                                          transformations, cube_size)
    dims = revision.dims

    prepared = with_index_columns(df, revision)

    # -- job 2: domains; driver: weights + rollup ---------------------------
    _t0 = time.perf_counter()
    new_domains = _cube_domains(prepared, revision, n, analyze_fraction)
    LAST_WRITE_PHASES["domains"] = (0.0 if _driver_lane(revision, n)
                                    else time.perf_counter() - _t0)
    existing_domains = {
        parse_cube(c): d
        for c, d in snapshot.cube_domains.get(revision.revision_id, {}).items()
    }
    merged_domains = dict(existing_domains)
    for k, v in new_domains.items():
        merged_domains[k] = merged_domains.get(k, 0.0) + v
    existing_weights = {
        parse_cube(c): w
        for c, w in snapshot.cube_weights.get(revision.revision_id, {}).items()
    }
    weights = compute_cube_weights(merged_domains, revision.desired_cube_size,
                                   dims, existing_weights or None)
    rollup = compute_rollup(new_domains, dims, revision.desired_cube_size)
    file_map = _complete_file_map(weights.keys(), rollup, dims)
    num_files = max(1, len(set(rollup.values())))

    # -- job 3: assign -> shuffle on rollup id -> write ---------------------
    _t0 = time.perf_counter()
    add_files = _materialize(prepared, revision, weights, file_map,
                             num_files, path,
                             bloom_cols=tuple(bloom_columns or ()),
                             bloom_bits=bloom_bits, rows=int(n))
    LAST_WRITE_PHASES["materialize"] = time.perf_counter() - _t0
    remove = pre_existing_files if mode == "overwrite" else []

    if pre_commit_hooks:
        extra_props = {}
        for hook in pre_commit_hooks:
            out = hook(add_files)
            if out:
                extra_props.update(out)
    else:
        extra_props = {}

    data_schema = schema_to_commit.json()
    _t0 = time.perf_counter()
    version = log.commit(
        add=add_files,
        remove=remove,
        revisions={revision.revision_id: revision},
        cube_weights={revision.revision_id: {
            cube_str(d, p): int(w) for (d, p), w in weights.items()}},
        cube_domains={revision.revision_id: {
            cube_str(d, p): float(v) for (d, p), v in new_domains.items()}},
        schema_json=data_schema,
        properties={"qbeast.lastRevisionID": str(revision.revision_id),
                    **extra_props, **constraint_props},
        protocol=({"writerFeatures": ["checkConstraints"]}
                  if constraint_props else None),
        data_change=True,
        operation=mode.upper(),  # WRITE-verb audit tag: APPEND / OVERWRITE
        reset_stats=(mode == "overwrite"),
        # overwrite removes the files it snapshotted: detect a concurrent
        # writer that already rewrote/removed any of them (blind appends
        # pass read_version=None — they never conflict, Delta
        # WriteSerializable parity)
        read_version=(snapshot.version if mode == "overwrite" else None),
        txn=({"appId": txn_app_id, "version": int(txn_version)}
             if txn_app_id is not None else None),
    )
    LAST_WRITE_PHASES["commit"] = time.perf_counter() - _t0
    return version
