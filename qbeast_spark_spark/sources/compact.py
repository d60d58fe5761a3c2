"""Small-file compaction: bin-pack under-sized index files WITHOUT
re-indexing.

The reference's only re-layout verb is optimize() (a full re-index of the
selected files through the OTree pipeline — IndexedTable.scala:399-552).
At 100 TB a streaming or micro-batch ingest also needs the much cheaper
Delta-OPTIMIZE-style maintenance: concatenate small files into
target-sized ones while keeping every row's existing cube assignment, so
no transform/analyze/shuffle of the data happens at all.

Why this is sound without touching the index: a Block is a contiguous
run of one cube's rows inside one file (log.py:48), the writer emits
each file's blocks in row order, and the read path never requires a
cube's rows to live in any particular file — pruning works on per-file
block lists. Concatenating whole files in order therefore yields a valid
index file whose block list is the input lists appended in the same
order (adjacent runs of the same cube fold into one block).

Scale shape: bin-packing is a driver-side pass over O(#files) metadata;
each bin is then compacted by ONE executor task (mapInArrow over a
one-row-per-bin work list) that streams its input parquet files into a
single output — the same task layout Delta's OPTIMIZE uses. No shuffle,
no data through the driver.

Deletion vectors: compaction purges them — masked rows are dropped while
rewriting (per-block counts adjusted positionally), so outputs carry no
DV. A lone small file is only rewritten when it has a DV to purge (the
pass then doubles as "materialize deletes").
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional, Tuple

from ..core.cube import parse_cube
from .log import Block, CommitLog, IndexFile

__all__ = ["compact_table"]

_OUT_SCHEMA = ("bin_id long, file string, file_size long, rows long, "
               "blocks string, col_stats string, blooms string")


def _cube_sort_key(f: IndexFile) -> Tuple[int, int]:
    """Tree-locality order: left-aligned path bits of the first block's
    cube, so a bin holds neighbouring cubes and the compacted file prunes
    as tightly as its inputs did."""
    if not f.blocks:
        return (0, 0)
    depth, path = parse_cube(f.blocks[0].cube)
    shift = 60 - depth * 4
    return ((path << shift) if shift > 0 else path, depth)


def _make_compact_fn(table_path: str, bloom_bits: int):
    """Per-task compactor: one input row = one bin (JSON spec); yields one
    metadata row per written output file. Package symbols resolve here
    (driver scope) — the package registers cloudpickle pickle-by-value, so
    the closure runs on executors without the package on their sys.path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..functions.bloom import bloom_add_many, bloom_encode, bloom_new
    from .deletion_vectors import DVDescriptor, descriptor_positions

    def _concat(tables):
        try:
            return pa.concat_tables(tables, promote_options="permissive")
        except TypeError:  # older pyarrow spelling
            return pa.concat_tables(tables, promote=True)

    def compact(batches):
        import uuid

        for batch in batches:
            bin_ids = batch.column("bin_id").to_pylist()
            for bin_id, spec_json in zip(bin_ids,
                                         batch.column("spec").to_pylist()):
                spec = json.loads(spec_json)
                tables, blocks_out = [], []
                for fobj in spec["files"]:
                    tbl = pq.read_table(
                        os.path.join(table_path, fobj["path"]))
                    blks = fobj["blocks"]  # [[cube, minw, maxw, count]...]
                    if fobj.get("dv"):
                        pos = descriptor_positions(
                            table_path, DVDescriptor.from_json(fobj["dv"]))
                        keep = np.ones(tbl.num_rows, dtype=bool)
                        keep[pos[pos < tbl.num_rows]] = False
                        bounds = np.cumsum([0] + [b[3] for b in blks])
                        for i, b in enumerate(blks):
                            gone = int(((pos >= bounds[i])
                                        & (pos < bounds[i + 1])).sum())
                            if b[3] - gone > 0:
                                blocks_out.append(
                                    [b[0], b[1], b[2], b[3] - gone])
                        tbl = tbl.filter(pa.array(keep))
                    else:
                        blocks_out.extend(blks)
                    tables.append(tbl)
                merged = _concat(tables)
                if merged.num_rows == 0:
                    continue    # every row was DV-deleted: inputs just drop
                # adjacent runs of the same cube (across an input-file
                # seam) fold into one block
                folded: List[list] = []
                for b in blocks_out:
                    if folded and folded[-1][0] == b[0]:
                        folded[-1][1] = min(folded[-1][1], b[1])
                        folded[-1][2] = max(folded[-1][2], b[2])
                        folded[-1][3] += b[3]
                    else:
                        folded.append(list(b))
                name = f"{uuid.uuid4().hex}.parquet"
                out_path = os.path.join(table_path, name)
                pq.write_table(merged, out_path, compression="snappy")

                col_stats: Dict[str, list] = {}
                for field_ in merged.schema:
                    t = field_.type
                    if not (pa.types.is_integer(t) or pa.types.is_floating(t)
                            or pa.types.is_string(t)):
                        continue
                    mm = pc.min_max(merged.column(field_.name))
                    mn, mx = mm["min"].as_py(), mm["max"].as_py()
                    if mn is not None:
                        col_stats[field_.name] = [mn, mx]
                blooms: Dict[str, str] = {}
                for c in spec.get("bloom_cols", []):
                    if c in merged.column_names:
                        bm = bloom_new(bloom_bits)
                        bloom_add_many(bm, merged.column(c).to_pylist())
                        blooms[c] = bloom_encode(bm)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([bin_id], type=pa.int64()),
                     pa.array([name], type=pa.string()),
                     pa.array([os.path.getsize(out_path)], type=pa.int64()),
                     pa.array([merged.num_rows], type=pa.int64()),
                     pa.array([json.dumps(folded)], type=pa.string()),
                     pa.array([json.dumps(col_stats, sort_keys=True)],
                              type=pa.string()),
                     pa.array([json.dumps(blooms, sort_keys=True)],
                              type=pa.string())],
                    names=["bin_id", "file", "file_size", "rows", "blocks",
                           "col_stats", "blooms"])

    return compact


def compact_table(spark, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  min_file_bytes: Optional[int] = None,
                  revision_id: Optional[int] = None,
                  purge_deletion_vectors: bool = True,
                  bloom_bits: int = 16384) -> Optional[int]:
    """Bin-pack small index files into ~``target_file_bytes`` outputs,
    preserving cube assignments (no re-index, no shuffle). Returns the
    committed log version, or None when nothing qualifies.

    Files smaller than ``min_file_bytes`` (default: the target size, as
    in Delta OPTIMIZE) are candidates; bins form within one revision in
    cube-tree order. Rows masked by deletion vectors are dropped during
    the rewrite, so compaction doubles as a "materialize deletes" pass;
    with ``purge_deletion_vectors=False`` DV-carrying files are excluded
    from compaction entirely (a DV cannot survive concatenation).

    Concurrency: like optimize(), compaction assumes no concurrent DML
    rewrites the SAME files. As a guard, the snapshot is re-read just
    before commit and any bin whose inputs changed underneath (file
    removed, or its DV changed after planning) is dropped — an orphaned
    output parquet is reclaimed by vacuum().
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    from .frames import arrow_frame

    log = CommitLog(path)
    snap = log.snapshot()
    if not snap.files:
        return None
    cutoff = (min_file_bytes if min_file_bytes is not None
              else target_file_bytes)

    by_rev: Dict[int, List[IndexFile]] = {}
    for f in snap.files.values():
        if revision_id is not None and f.revision_id != revision_id:
            continue
        if f.dv and not purge_deletion_vectors:
            # a DV cannot survive concatenation (positions shift) and
            # dropping it would resurrect the masked rows — without the
            # purge, DV-carrying files are simply not candidates
            continue
        if f.size < cutoff:
            by_rev.setdefault(f.revision_id, []).append(f)

    bins: List[List[IndexFile]] = []
    for rid in sorted(by_rev):
        group = sorted(by_rev[rid], key=_cube_sort_key)
        cur: List[IndexFile] = []
        cur_bytes = 0
        for f in group:
            if cur and cur_bytes + f.size > target_file_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += f.size
        if cur:
            bins.append(cur)
    # a 1-file bin is only worth rewriting to purge its deletion vector
    bins = [b for b in bins
            if len(b) > 1 or (purge_deletion_vectors and b[0].dv)]
    if not bins:
        return None

    specs = []
    for b in bins:
        bloom_cols = sorted({c for f in b for c in (f.blooms or {})})
        specs.append(json.dumps({
            "files": [{
                "path": f.path,
                "blocks": [[blk.cube, blk.min_weight, blk.max_weight,
                            blk.count] for blk in f.blocks],
                # every DV file reaching a bin IS being purged (non-purge
                # mode excluded them from candidacy above)
                "dv": f.dv,
            } for f in b],
            "bloom_cols": bloom_cols,
        }))
    work = (arrow_frame(spark, pa.table({
                "bin_id": pa.array(range(len(specs)), pa.int64()),
                "spec": pa.array(specs, pa.string())}),
                "bin_id long, spec string")
            .repartition(len(bins), F.col("bin_id")))
    meta = work.mapInArrow(_make_compact_fn(path, bloom_bits),
                           _OUT_SCHEMA).collect()

    out_by_bin: Dict[int, IndexFile] = {}
    for r in meta:
        blocks = [Block(c, mn, mx, cnt)
                  for c, mn, mx, cnt in json.loads(r["blocks"])]
        out_by_bin[r["bin_id"]] = IndexFile(
            r["file"], r["file_size"], r["rows"],
            bins[r["bin_id"]][0].revision_id, blocks,
            json.loads(r["col_stats"]) or None,
            json.loads(r["blooms"]) or None)

    # late-conflict guard: drop any bin whose inputs changed since
    # planning (concurrent DML); its output parquet is orphaned and
    # reclaimed by vacuum()
    snap2 = log.snapshot()
    removed: List[str] = []
    final_add: List[IndexFile] = []
    for i, b in enumerate(bins):
        stale = any(
            snap2.files.get(f.path) is None
            or (snap2.files[f.path].dv or None) != (f.dv or None)
            for f in b)
        nf = out_by_bin.get(i)
        if stale:
            if nf is not None:
                try:
                    os.remove(os.path.join(path, nf.path))
                except OSError:
                    pass
            continue
        if nf is None:
            # the whole bin was DV-deleted rows: inputs vanish, no output
            removed.extend(f.path for f in b)
            continue
        final_add.append(nf)
        removed.extend(f.path for f in b)
    if not final_add and not removed:
        return None
    return log.commit(add=final_add, remove=removed, data_change=False,
                      operation="COMPACT", read_version=snap.version,
                      read_files=removed)
