"""Columnar metadata kernel — the 100-TB-file-count commit-log path.

The reference rides Delta's parquet checkpoints and Spark-side log
replay (delta/src/main/scala/io/qbeast/spark/delta/
DeltaQbeastSnapshot.scala:45-297), so a table with 10^5-10^6 files never
materializes its whole file list as per-file objects on one core. This
engine's log is driver-side Python; the JSON checkpoint + per-file
``IndexFile`` objects measured super-constant costs at that cardinality
(tools/metadata_soak.py), so format-2 checkpoints store the file list as
PARQUET and snapshots hold it as NumPy columns:

- ``FileKernel``: flat arrays (paths, sizes, rows, revision ids, per-
  column stats min/max, flattened blocks with pre-parsed cube depth/
  path ints) + a tombstone mask and a small object tail for the commits
  replayed after the checkpoint. Pruning and sampling vectorize over
  the arrays (sources/reader.py consumes them); single-file lookups
  build one ``IndexFile`` on demand.
- ``LazyFiles``: a dict facade over the kernel so ``Snapshot.files``
  keeps its mapping contract. Key iteration, membership, length,
  single-key get/set/pop run kernel-side; the first ``values()`` /
  ``items()`` call materializes every ``IndexFile`` into the dict and
  drops the kernel (the write/DML paths that walk whole files pay the
  object cost only when they actually run).

``FileKernel.view(snap.files)`` is the one file-state API every reader
of file state goes through (pruning, sampling, tallies, checkpoint
writes). A JSON-seeded (or already materialized) snapshot has no
columnar half: its view is an O(1) read-only kernel with an EMPTY base
whose ``tail`` is the snapshot's own dict, so the same kernel code
serves both formats and each object walk exists once, as the tail half.

Old engines never mis-read a format-2 checkpoint: its small state lives
in ``*.checkpoint.meta.json`` (not ``*.checkpoint.json``), so a legacy
``_last_checkpoint_version`` finds no checkpoint and falls back to the
always-correct full JSON replay.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Iterator, List, Optional

import numpy as np

from ..core.cube import parse_cube

_STATS_MIN = "__stats_min"
_STATS_MAX = "__stats_max"


class FileKernel:
    """Columnar snapshot file state. Base arrays come from one parquet
    read; post-checkpoint replay lands in ``tail`` (adds, insertion-
    ordered) and ``alive`` (tombstones). All arrays share base order."""

    read_only = False       # True on view() kernels over a plain dict

    def __init__(self, paths, sizes, rows, revision_ids, dv_json, dv_card,
                 blooms_json, stats, b_offsets, b_file, b_cube, b_depth,
                 b_path, b_minw, b_maxw, b_count):
        self.paths = paths                  # object[N] str
        self.sizes = sizes                  # int64[N]
        self.rows = rows                    # int64[N]
        self.revision_ids = revision_ids    # int64[N]
        self.dv_json = dv_json              # object[N] (JSON str | None)
        self.dv_card = dv_card              # int64[N] (0 when no DV)
        self.blooms_json = blooms_json      # object[N] (JSON str | None)
        # col -> (kind 'i'|'f'|'s'|None, mins, maxs, present bool[N]);
        # kind None = mixed/unsupported types, never vector-pruned
        self.stats = stats
        self.b_offsets = b_offsets          # int64[N+1] file -> block span
        self.b_file = b_file                # int64[B] owning file idx
        self.b_cube = b_cube                # object[B] cube string
        self.b_depth = b_depth              # int64[B]
        self.b_path = b_path                # int64[B]
        self.b_minw = b_minw                # int64[B]
        self.b_maxw = b_maxw                # int64[B]
        self.b_count = b_count              # int64[B]
        self.alive = np.ones(len(paths), dtype=bool)
        self.tail: Dict[str, "IndexFile"] = {}
        self._pathidx: Optional[Dict[str, int]] = None
        self._singles: Dict[str, "IndexFile"] = {}
        self._tail_arrays = None    # cache, invalidated by add/remove

    @staticmethod
    def view(files) -> "FileKernel":
        """The kernel behind ``files``: the live one of a columnar
        ``LazyFiles``; for any other mapping an O(1) read-only kernel
        with an empty base whose ``tail`` IS ``files`` (not a copy)."""
        kernel = getattr(files, "kernel", None)
        if kernel is not None:
            return kernel
        objs = np.empty(0, dtype=object)
        ints = np.empty(0, dtype=np.int64)
        kernel = FileKernel(objs, ints, ints, ints, objs, ints, objs, {},
                            np.zeros(1, dtype=np.int64), ints, objs, ints,
                            ints, ints, ints, ints)
        kernel.tail = files
        kernel.read_only = True
        return kernel

    def tail_arrays(self):
        """Vectorizable view of the post-checkpoint tail: (ordered file
        list, file revision ids, per-block file idx / depth / path).
        Cached — a snapshot's tail only mutates during replay, and
        pruning may run many times after."""
        if self._tail_arrays is None:
            files = list(self.tail.values())
            revs = np.array([f.revision_id for f in files],
                            dtype=np.int64)
            bf, bd, bp = [], [], []
            for i, f in enumerate(files):
                for b in f.blocks:
                    d, p = parse_cube(b.cube)
                    bf.append(i)
                    bd.append(d)
                    bp.append(p)
            self._tail_arrays = (
                files, revs,
                np.array(bf, dtype=np.int64),
                np.array(bd, dtype=np.int64),
                np.array(bp, dtype=np.int64))
        return self._tail_arrays

    # -- path index -------------------------------------------------------

    def _idx(self, path: str) -> Optional[int]:
        if self._pathidx is None:
            self._pathidx = {p: i for i, p in enumerate(self.paths)}
        return self._pathidx.get(path)

    # -- mapping primitives ------------------------------------------------

    def __len__(self) -> int:
        return int(self.alive.sum()) + len(self.tail)

    def contains(self, path: str) -> bool:
        if path in self.tail:
            return True
        i = self._idx(path)
        return i is not None and bool(self.alive[i])

    def iter_paths(self) -> Iterator[str]:
        alive = self.alive
        for i, p in enumerate(self.paths):
            if alive[i]:
                yield p
        yield from self.tail

    def get(self, path: str):
        f = self.tail.get(path)
        if f is not None:
            return f
        f = self._singles.get(path)
        if f is not None:
            return f
        i = self._idx(path)
        if i is None or not self.alive[i]:
            return None
        f = self._build(i)
        self._singles[path] = f
        return f

    def _build(self, i: int):
        from .log import Block, IndexFile

        lo, hi = int(self.b_offsets[i]), int(self.b_offsets[i + 1])
        blocks = [Block(self.b_cube[j], int(self.b_minw[j]),
                        int(self.b_maxw[j]), int(self.b_count[j]))
                  for j in range(lo, hi)]
        stats = None
        cols = {}
        for c, (kind, mns, mxs, present) in self.stats.items():
            if present[i]:
                mn, mx = mns[i], mxs[i]
                if kind == "i":
                    mn, mx = int(mn), int(mx)
                elif kind == "f":
                    mn, mx = float(mn), float(mx)
                cols[c] = [mn, mx]
        if cols:
            stats = cols
        dv = json.loads(self.dv_json[i]) if self.dv_json[i] else None
        blooms = json.loads(self.blooms_json[i]) \
            if self.blooms_json[i] else None
        return IndexFile(self.paths[i], int(self.sizes[i]),
                         int(self.rows[i]), int(self.revision_ids[i]),
                         blocks, stats, blooms, dv)

    def add(self, f) -> None:
        if self.read_only:
            raise TypeError("FileKernel.view over a dict is read-only")
        i = self._idx(f.path)
        if i is not None:
            self.alive[i] = False
            self._singles.pop(f.path, None)
        self.tail[f.path] = f
        self._tail_arrays = None

    def remove(self, path: str) -> bool:
        if self.read_only:
            raise TypeError("FileKernel.view over a dict is read-only")
        if self.tail.pop(path, None) is not None:
            self._tail_arrays = None
            return True
        i = self._idx(path)
        if i is not None and self.alive[i]:
            self.alive[i] = False
            self._singles.pop(path, None)
            return True
        return False

    def materialize(self) -> Dict[str, "IndexFile"]:
        out: Dict[str, "IndexFile"] = {}
        for i in np.flatnonzero(self.alive):
            p = self.paths[i]
            out[p] = self._singles.get(p) or self._build(int(i))
        out.update(self.tail)
        return out

    # -- bulk accessors (reader-side vectorized pruning) -------------------

    def live_rows_sum(self) -> int:
        """Total logical rows (physical minus DV-masked) — the truncate
        path's count, object-free."""
        base = int((self.rows[self.alive] - self.dv_card[self.alive]).sum())
        return base + sum(f.live_rows for f in self.tail.values())

    def rows_sum(self) -> int:
        """Total physical rows — the tolerance-sampling sizer's count,
        object-free."""
        return int(self.rows[self.alive].sum()) \
            + sum(f.rows for f in self.tail.values())

    # -- maintenance tallies (sources/maintenance.py policy checks) ---------
    #
    # auto_maintain runs on the streaming sink's hot path every
    # ``maintain_every`` batches; at 10^6 files an object walk costs the
    # full materialize_all price per policy check. Each tally is one
    # vectorized pass over the base arrays plus an object walk of the
    # (small, post-checkpoint) tail.

    def staging_rows_sum(self, staging_id: int) -> int:
        """Live rows across staging-revision files."""
        m = self.alive & (self.revision_ids == staging_id)
        base = int((self.rows[m] - self.dv_card[m]).sum())
        return base + sum(f.live_rows for f in self.tail.values()
                          if f.revision_id == staging_id)

    def live_revision_ids(self, staging_id: int) -> List[int]:
        """Sorted distinct non-staging revision ids with live files."""
        revs = self.revision_ids[self.alive]
        ids = {int(r) for r in np.unique(revs)} \
            | {f.revision_id for f in self.tail.values()}
        ids.discard(staging_id)
        return sorted(ids)

    def small_file_count(self, max_bytes: int) -> int:
        """Live files strictly smaller than ``max_bytes``."""
        return int((self.sizes[self.alive] < max_bytes).sum()) \
            + sum(1 for f in self.tail.values() if f.size < max_bytes)

    def detail_tallies(self, staging_id: int, small_bytes: int) -> Dict:
        """DESCRIBE-DETAIL aggregates (reader.detail) in one pass over
        the arrays + the small tail."""
        a = self.alive
        out = {
            "numFiles": len(self),
            "numRows": int((self.rows[a] - self.dv_card[a]).sum()),
            "sizeInBytes": int(self.sizes[a].sum()),
            "numSmallFiles": int((self.sizes[a] < small_bytes).sum()),
            "numDV": int(np.not_equal(self.dv_json[a], None).sum()),
            "numStaging": int((self.revision_ids[a] == staging_id).sum()),
            "revisions": {int(r) for r in np.unique(self.revision_ids[a])},
        }
        for f in self.tail.values():
            out["numRows"] += f.live_rows
            out["sizeInBytes"] += f.size
            out["numSmallFiles"] += f.size < small_bytes
            out["numDV"] += bool(f.dv)
            out["numStaging"] += f.revision_id == staging_id
            out["revisions"].add(f.revision_id)
        return out

    def live_dvs(self) -> List[dict]:
        """Parsed DV descriptors of live files — O(#DVs) JSON parses
        after an array-level null filter (vacuum's sidecar-liveness
        set, object-free)."""
        a = self.dv_json[self.alive]
        out = [json.loads(s) for s in a[np.not_equal(a, None)]]
        out += [f.dv for f in self.tail.values() if f.dv]
        return out

    def paths_in_revision(self, rid: int) -> List[str]:
        """Live file paths in one revision — array-level (no IndexFile
        builds); paid only when a maintenance step actually triggers."""
        m = self.alive & (self.revision_ids == rid)
        return [str(p) for p in self.paths[m]] \
            + [f.path for f in self.tail.values() if f.revision_id == rid]

    def paths_excluding_revisions(self, excluded) -> List[str]:
        """Live file paths whose revision is NOT in ``excluded``."""
        ex = np.fromiter(excluded, dtype=np.int64)
        m = self.alive & ~np.isin(self.revision_ids, ex)
        exset = set(excluded)
        return [str(p) for p in self.paths[m]] \
            + [f.path for f in self.tail.values()
               if f.revision_id not in exset]

    # -- parquet io --------------------------------------------------------

    @staticmethod
    def from_parquet(path: str) -> "FileKernel":
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        t = pq.read_table(path)
        n = t.num_rows

        def _obj(name):
            return t[name].combine_chunks().to_numpy(zero_copy_only=False)

        def _i64(name):
            return t[name].combine_chunks().to_numpy(
                zero_copy_only=False).astype(np.int64)

        paths = _obj("path")
        sizes, rows = _i64("size"), _i64("rows")
        revision_ids, dv_card = _i64("revision_id"), _i64("dv_cardinality")
        dv_json, blooms_json = _obj("dv"), _obj("blooms")
        blocks = t["blocks"].combine_chunks()
        b_offsets = blocks.offsets.to_numpy().astype(np.int64)
        flat = blocks.flatten()

        def _bf(name):
            return flat.field(name).to_numpy(
                zero_copy_only=False).astype(np.int64)

        b_cube = flat.field("cube").to_numpy(zero_copy_only=False)
        b_depth, b_path = _bf("depth"), _bf("path_int")
        b_minw, b_maxw, b_count = _bf("min_weight"), _bf("max_weight"), \
            _bf("count")
        b_file = np.repeat(np.arange(n, dtype=np.int64),
                           np.diff(b_offsets))
        stats = {}
        for name in t.schema.names:
            if not name.startswith(_STATS_MIN + "."):
                continue
            col = name[len(_STATS_MIN) + 1:]
            mn_a = t[name].combine_chunks()
            mx_a = t[_STATS_MAX + "." + col].combine_chunks()
            # presence requires BOTH bounds (a pair with one side
            # dropped by _coerce_stat must never prune), and — for
            # floats — both NaN-free: the scalar path's comparisons
            # against NaN are all False (never excludes), while a
            # vectorized NaN smuggled through fill-values would prune
            # files that still hold matching rows (r9 review finding,
            # reproduced: [1, NaN] range read back as [1, 0.0])
            present = (~mn_a.is_null().to_numpy(zero_copy_only=False)
                       & ~mx_a.is_null().to_numpy(zero_copy_only=False))
            typ = mn_a.type
            if pat.is_integer(typ):
                # fill_null keeps int64 exact (a float64 round trip
                # would corrupt stats beyond 2^53)
                kind = "i"
                mns = mn_a.fill_null(0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                mxs = mx_a.fill_null(0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
            elif pat.is_floating(typ):
                kind = "f"
                mns = mn_a.to_numpy(zero_copy_only=False) \
                    .astype(np.float64)
                mxs = mx_a.to_numpy(zero_copy_only=False) \
                    .astype(np.float64)
                present &= ~np.isnan(mns) & ~np.isnan(mxs)
                mns = np.nan_to_num(mns)
                mxs = np.nan_to_num(mxs)
            elif pat.is_string(typ) or pat.is_large_string(typ):
                kind = "s"
                mns = mn_a.to_numpy(zero_copy_only=False)
                mxs = mx_a.to_numpy(zero_copy_only=False)
            else:
                continue        # unsupported stat type: never prune
            stats[col] = (kind, mns, mxs, present)
        return FileKernel(paths, sizes, rows, revision_ids, dv_json,
                          dv_card, blooms_json, stats, b_offsets, b_file,
                          b_cube, b_depth, b_path, b_minw, b_maxw,
                          b_count)

    def to_parquet(self, path: str) -> None:
        """Write current state (base minus tombstones, plus tail)
        without materializing base files into objects: the base half is
        pure array slicing into arrow (no per-row Python), the small
        tail goes through the object builder, and the two concatenate
        with null-fill for columns only one side carries. A view()
        kernel's base is empty, so its table is the tail's alone (the
        first parquet checkpoint of a previously-JSON table)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        keep = self.alive
        bmask = keep[self.b_file]
        kept_counts = np.diff(self.b_offsets)[keep]
        offsets = np.concatenate(
            [[0], np.cumsum(kept_counts)]).astype(np.int32)
        struct = pa.StructArray.from_arrays([
            pa.array(self.b_cube[bmask], type=pa.string()),
            pa.array(self.b_depth[bmask].astype(np.int32)),
            pa.array(self.b_path[bmask]),
            pa.array(self.b_minw[bmask]),
            pa.array(self.b_maxw[bmask]),
            pa.array(self.b_count[bmask]),
        ], names=["cube", "depth", "path_int", "min_weight",
                  "max_weight", "count"])
        arrays = {
            "path": pa.array(self.paths[keep], type=pa.string()),
            "size": pa.array(self.sizes[keep]),
            "rows": pa.array(self.rows[keep]),
            "revision_id": pa.array(self.revision_ids[keep]),
            "dv": pa.array(self.dv_json[keep], type=pa.string()),
            "dv_cardinality": pa.array(self.dv_card[keep]),
            "blooms": pa.array(self.blooms_json[keep], type=pa.string()),
            "blocks": pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), struct),
        }
        for c, (kind, mns, mxs, present) in self.stats.items():
            if kind is None:
                continue
            mask = ~present[keep]
            if kind == "s":
                arrays[_STATS_MIN + "." + c] = pa.array(
                    mns[keep], type=pa.string())
                arrays[_STATS_MAX + "." + c] = pa.array(
                    mxs[keep], type=pa.string())
            else:
                arrays[_STATS_MIN + "." + c] = pa.array(mns[keep],
                                                        mask=mask)
                arrays[_STATS_MAX + "." + c] = pa.array(mxs[keep],
                                                        mask=mask)
        base = pa.table(list(arrays.values()), names=list(arrays))
        if self.tail:
            tail = _files_arrow_table(self.tail, base.schema)
            base = pa.concat_tables([base, tail],
                                    promote_options="default")
        tmp = path + ".tmp"
        pq.write_table(base, tmp, compression="snappy")
        os.replace(tmp, path)


def _stats_array(vals: list):
    """Typed arrow array for one stats min/max column, or None when the
    values cannot be stored losslessly in a single parquet type (mixed
    kinds, or int/float mixes whose ints exceed float64's exact range).
    Dropping a stats column only loses pruning power — never rows."""
    import pyarrow as pa

    kinds = {type(v) for v in vals if v is not None}
    if not kinds:
        return pa.array(vals, type=pa.float64())
    if kinds <= {int}:
        return pa.array(vals, type=pa.int64())
    if kinds <= {int, float}:
        if any(v is not None and isinstance(v, int) and abs(v) > 2 ** 52
               for v in vals):
            return None
        return pa.array([None if v is None else float(v) for v in vals],
                        type=pa.float64())
    if kinds <= {str}:
        return pa.array(vals, type=pa.string())
    return None


def _coerce_stat(v, typ):
    """Coerce one stats value to an arrow type already fixed by the
    base checkpoint half; None (= stat dropped for that file) when the
    value cannot be represented losslessly — conservative, only costs
    pruning power."""
    import pyarrow.types as pat

    if v is None or isinstance(v, bool):
        return None
    if pat.is_integer(typ):
        return v if isinstance(v, int) else None
    if pat.is_floating(typ):
        if isinstance(v, float):
            return v
        if isinstance(v, int) and abs(v) <= 2 ** 52:
            return float(v)
        return None
    if pat.is_string(typ) or pat.is_large_string(typ):
        return v if isinstance(v, str) else None
    return None


def _files_arrow_table(files, align_schema=None):
    """Arrow files table from IndexFile objects. With ``align_schema``
    (the base half's schema during a mixed base+tail checkpoint write)
    shared stats columns coerce to the base types so the two halves
    concatenate; without it stats types are inferred per column."""
    import pyarrow as pa

    block_type = pa.list_(pa.struct([
        ("cube", pa.string()), ("depth", pa.int32()),
        ("path_int", pa.int64()), ("min_weight", pa.int64()),
        ("max_weight", pa.int64()), ("count", pa.int64())]))
    cols: Dict[str, list] = {k: [] for k in (
        "path", "size", "rows", "revision_id", "dv",
        "dv_cardinality", "blooms", "blocks")}
    stat_cols: Dict[str, list] = {}
    n = 0
    for f in files.values():
        cols["path"].append(f.path)
        cols["size"].append(int(f.size))
        cols["rows"].append(int(f.rows))
        cols["revision_id"].append(int(f.revision_id))
        cols["dv"].append(json.dumps(f.dv, sort_keys=True)
                          if f.dv else None)
        cols["dv_cardinality"].append(
            int(f.dv["cardinality"]) if f.dv else 0)
        cols["blooms"].append(json.dumps(f.blooms, sort_keys=True)
                              if f.blooms else None)
        blks = []
        for b in f.blocks:
            d, p = parse_cube(b.cube)
            blks.append({"cube": b.cube, "depth": d, "path_int": p,
                         "min_weight": int(b.min_weight),
                         "max_weight": int(b.max_weight),
                         "count": int(b.count)})
        cols["blocks"].append(blks)
        for c, rng in (f.column_stats or {}).items():
            kmin = _STATS_MIN + "." + c
            if kmin not in stat_cols:
                stat_cols[kmin] = [None] * n
                stat_cols[_STATS_MAX + "." + c] = [None] * n
            stat_cols[kmin].append(rng[0])
            stat_cols[_STATS_MAX + "." + c].append(rng[1])
        n += 1
        for v in stat_cols.values():
            if len(v) < n:
                v.append(None)
    arrays, names = [], []
    for name, vals in cols.items():
        if name == "blocks":
            arrays.append(pa.array(vals, type=block_type))
        elif name in ("size", "rows", "revision_id", "dv_cardinality"):
            arrays.append(pa.array(vals, type=pa.int64()))
        else:
            arrays.append(pa.array(vals, type=pa.string()))
        names.append(name)
    aligned = {f.name: f.type for f in align_schema} \
        if align_schema is not None else {}
    for name, vals in stat_cols.items():
        col = name.split(".", 1)[1]
        other = (_STATS_MAX if name.startswith(_STATS_MIN) else
                 _STATS_MIN) + "." + col
        if name in aligned:
            typ = aligned[name]
            arrays.append(pa.array([_coerce_stat(v, typ) for v in vals],
                                   type=typ))
            names.append(name)
            continue
        # inferred pair: both halves must store losslessly with the
        # same type, else the pair is dropped (conservative)
        a_mn = _stats_array(vals)
        a_mx = _stats_array(stat_cols.get(other, []))
        if a_mn is not None and a_mx is not None \
                and a_mn.type == a_mx.type:
            arrays.append(a_mn)
            names.append(name)
    return pa.table(arrays, names=names)


class LazyCubeState(dict):
    """Lazy ``Snapshot.cube_weights`` / ``cube_domains`` for format-2
    seeds: the per-cube dicts (O(#cubes) Python dict build — the
    dominant remaining seed cost at 10^6 cubes) load from the state
    parquet only when a WRITE path actually reads them. Post-checkpoint
    replay merges land in per-revision OVERLAYS without loading — both
    merge ops are associative (weights: min, domains: sum), so
    materialization applies the overlay onto the loaded base and gets
    exactly the eager result.

    ``kind`` is "min" (weights) or "sum" (domains)."""

    def __init__(self, loader, kind: str, source_path: str = None):
        super().__init__()
        self._loader = loader       # () -> Dict[int, Dict[str, num]]
        self._kind = kind
        self._overlay: Dict[int, Dict] = {}
        # state-parquet this base loads from, when known: lets the next
        # checkpoint WRITE copy the base forward (plus a vectorized
        # overlay merge) instead of materializing the dicts
        self.source_path = source_path

    @property
    def is_lazy(self) -> bool:
        """Base not yet materialized and not reset."""
        return self._loader is not None

    @property
    def pending_overlay(self) -> Dict[int, Dict]:
        """Replay merges accumulated since the seed (valid only while
        ``is_lazy``; materialization folds and clears it)."""
        return self._overlay

    def merge_pending(self, rid: int, items: Dict) -> None:
        """Replay-side merge of one commit's per-cube payload — never
        loads the base."""
        if self._loader is None:
            dst = super().setdefault(rid, {})
            if self._kind == "min":
                for cube, w in items.items():
                    dst[cube] = min(dst.get(cube, w), w)
            else:
                for cube, d in items.items():
                    dst[cube] = dst.get(cube, 0.0) + d
            return
        dst = self._overlay.setdefault(rid, {})
        if self._kind == "min":
            for cube, w in items.items():
                dst[cube] = min(dst.get(cube, w), w)
        else:
            for cube, d in items.items():
                dst[cube] = dst.get(cube, 0.0) + d

    def reset(self) -> None:
        """resetStats replay: drop base AND overlay (the overwrite
        commit starts per-revision state from scratch)."""
        self._loader = None
        self._overlay = {}
        super().clear()

    def _materialize(self) -> None:
        loader = self._loader
        if loader is None:
            return
        self._loader = None
        base = loader()
        for rid, items in self._overlay.items():
            dst = base.setdefault(rid, {})
            if self._kind == "min":
                for cube, w in items.items():
                    dst[cube] = min(dst.get(cube, w), w)
            else:
                for cube, d in items.items():
                    dst[cube] = dst.get(cube, 0.0) + d
        self._overlay = {}
        super().update(base)

    # every read/write materializes (write paths want the real dicts)
    def __len__(self):
        self._materialize()
        return super().__len__()

    def __bool__(self):
        # cheap liveness probe: any base or pending state counts
        if self._loader is not None:
            return True if self._overlay else len(self) > 0
        return super().__len__() > 0

    def __iter__(self):
        self._materialize()
        return super().__iter__()

    def __contains__(self, k):
        self._materialize()
        return super().__contains__(k)

    def __getitem__(self, k):
        self._materialize()
        return super().__getitem__(k)

    def get(self, k, default=None):
        self._materialize()
        return super().get(k, default)

    def keys(self):
        self._materialize()
        return super().keys()

    def values(self):
        self._materialize()
        return super().values()

    def items(self):
        self._materialize()
        return super().items()

    def setdefault(self, k, default=None):
        self._materialize()
        return super().setdefault(k, default)

    def __setitem__(self, k, v):
        self._materialize()
        super().__setitem__(k, v)

    def pop(self, k, *default):
        self._materialize()
        return super().pop(k, *default)

    def update(self, *a, **kw):
        self._materialize()
        super().update(*a, **kw)

    def __eq__(self, other):
        self._materialize()
        return dict(self) == other

    def __ne__(self, other):
        return not self.__eq__(other)

    __hash__ = None

    def __reduce__(self):
        self._materialize()
        return (dict, (dict(self),))


class LazyFiles(dict):
    """Dict facade over a FileKernel (see module docstring). The dict
    part stays EMPTY while the kernel is active; whole-collection reads
    (values/items) materialize once and drop the kernel."""

    def __init__(self, kernel: FileKernel):
        super().__init__()
        self._kernel: Optional[FileKernel] = kernel

    @property
    def kernel(self) -> Optional[FileKernel]:
        return self._kernel

    def _materialize(self) -> None:
        k = self._kernel
        if k is not None:
            self._kernel = None
            super().update(k.materialize())

    # -- reads -------------------------------------------------------------

    def __len__(self):
        k = self._kernel
        return len(k) if k is not None else super().__len__()

    def __bool__(self):
        return len(self) > 0

    def __contains__(self, p):
        k = self._kernel
        return k.contains(p) if k is not None else super().__contains__(p)

    def __iter__(self):
        k = self._kernel
        return k.iter_paths() if k is not None else super().__iter__()

    def __getitem__(self, p):
        k = self._kernel
        if k is None:
            return super().__getitem__(p)
        f = k.get(p)
        if f is None:
            raise KeyError(p)
        return f

    def get(self, p, default=None):
        k = self._kernel
        if k is None:
            return super().get(p, default)
        f = k.get(p)
        return f if f is not None else default

    def keys(self):
        k = self._kernel
        return list(k.iter_paths()) if k is not None else super().keys()

    def values(self):
        self._materialize()
        return super().values()

    def items(self):
        self._materialize()
        return super().items()

    def __eq__(self, other):
        self._materialize()
        return dict(self) == other

    def __ne__(self, other):
        return not self.__eq__(other)

    __hash__ = None

    # -- writes ------------------------------------------------------------

    def __setitem__(self, p, f):
        k = self._kernel
        if k is None:
            super().__setitem__(p, f)
        else:
            k.add(f)

    def __delitem__(self, p):
        k = self._kernel
        if k is None:
            super().__delitem__(p)
        elif not k.remove(p):
            raise KeyError(p)

    def pop(self, p, *default):
        k = self._kernel
        if k is None:
            return super().pop(p, *default)
        f = k.get(p)
        if f is None:
            if default:
                return default[0]
            raise KeyError(p)
        k.remove(p)
        return f

    def discard(self, p) -> None:
        """Remove ``p`` if present WITHOUT materializing its IndexFile —
        log replay removes 10^5-10^6 files on a big DELETE/optimize
        commit and discards pop()'s return value anyway (r9 review)."""
        k = self._kernel
        if k is None:
            super().pop(p, None)
        else:
            k.remove(p)

    def update(self, *args, **kw):
        self._materialize()
        super().update(*args, **kw)

    def clear(self):
        self._kernel = None
        super().clear()

    def setdefault(self, p, default=None):
        cur = self.get(p)
        if cur is not None:
            return cur
        self[p] = default
        return default

    def copy(self):
        self._materialize()
        return dict(self)

    def __reduce__(self):
        # pickling ships the materialized dict (kernels hold big arrays
        # and never need to cross process boundaries)
        self._materialize()
        return (dict, (dict(self),))
