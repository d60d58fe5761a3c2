"""Fabricated commit logs for the metadata_scale workload.

Builds a table's ``_qbeast_log`` with a chosen number of live files and
no data files, through the public ``CommitLog.commit`` only. The layout
follows tools/metadata_soak.py: one 2-D linear revision over (x, y),
files in breadth-first cube order with one block each, per-file column
stats equal to the cube's region, deletion vectors on ~1% of files, and
a short JSON tail of add+remove commits after the last checkpoint.

The generator keeps the ground truth (``Truth``): each file's region,
block weights, size and rows, so the workload can check every
``prune_files`` and ``sample_files`` answer by brute force.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import List

import numpy as np

DOMAIN = 1_000_000.0
DIMS = 2
SMALL_COMMITS = 10        # v0..v9 stay small; v10 carries the bulk
TAIL_COMMITS = 7          # v11..v17: the next checkpoint is 3 commits away


def bfs_cubes(ids: np.ndarray):
    """File index -> (depth, path) in breadth-first cube order."""
    fanout = 1 << DIMS
    depth = np.zeros(len(ids), dtype=np.int64)
    start = np.zeros(len(ids), dtype=np.int64)
    level_start, level_size, d = 0, 1, 0
    while level_start <= ids.max(initial=0):
        inlevel = (ids >= level_start) & (ids < level_start + level_size)
        depth[inlevel], start[inlevel] = d, level_start
        level_start += level_size
        level_size *= fanout
        d += 1
    return depth, ids - start


def cube_regions(depth: np.ndarray, path: np.ndarray):
    """(lo, hi) corners in [0,1]^2 of each cube (index/vectorized math)."""
    lo = np.zeros((len(depth), DIMS))
    for level in range(int(depth.max(initial=0))):
        on = level < depth
        width = 2.0 ** -(level + 1)
        idx = (path >> (DIMS * level)) & ((1 << DIMS) - 1)
        for i in range(DIMS):
            lo[:, i] += np.where(on & (((idx >> i) & 1) == 1), width, 0.0)
    side = 2.0 ** -depth.astype(np.float64)
    return lo, lo + side[:, None]


@dataclass
class Truth:
    """Every file the log ever added, and which are live."""

    paths: List[str] = field(default_factory=list)
    lo: np.ndarray = field(default_factory=lambda: np.zeros((0, DIMS)))
    hi: np.ndarray = field(default_factory=lambda: np.zeros((0, DIMS)))
    min_w: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    size: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    rows: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    alive: np.ndarray = field(default_factory=lambda: np.zeros(0, bool))
    version: int = -1

    def extend(self, paths, lo, hi, min_w, size, rows) -> None:
        self.paths += paths
        self.lo = np.vstack([self.lo, lo])
        self.hi = np.vstack([self.hi, hi])
        self.min_w = np.concatenate([self.min_w, min_w])
        self.size = np.concatenate([self.size, size])
        self.rows = np.concatenate([self.rows, rows])
        self.alive = np.concatenate([self.alive, np.ones(len(paths), bool)])

    def kill(self, path: str) -> None:
        self.alive[self.paths.index(path)] = False

    def live(self) -> int:
        return int(self.alive.sum())

    def box(self, x0, x1, y0, y1) -> np.ndarray:
        """Live files whose region meets the closed box (domain units)."""
        lo, hi = self.lo * DOMAIN, self.hi * DOMAIN
        return self.alive & (lo[:, 0] <= x1) & (hi[:, 0] >= x0) \
            & (lo[:, 1] <= y1) & (hi[:, 1] >= y0)

    def sampled(self, w_to: int) -> np.ndarray:
        return self.alive & (self.min_w < w_to)

    def names(self, mask: np.ndarray) -> List[str]:
        return sorted(self.paths[i] for i in np.flatnonzero(mask))


class MetaLog:
    """One fabricated table: its log, its truth, and one-file commits."""

    def __init__(self, table: str, n_files: int, seed: int) -> None:
        self.table = table
        self.n_files = n_files
        self.rng = np.random.default_rng([seed, 3, n_files])
        self.truth = Truth()
        self.seq = 0

    def _weights(self, depth: np.ndarray):
        from qbeast_spark_spark.core.weight import fraction_to_weight

        # a cube at depth d holds the records whose weight falls between
        # the share of the index above it and the share through it
        above = (4.0 ** depth - 1) / 3.0
        through = (4.0 ** (depth + 1) - 1) / 3.0
        lo = np.minimum(1.0, above / self.n_files)
        hi = np.minimum(1.0, through / self.n_files)
        return (np.array([fraction_to_weight(f) for f in lo], np.int64),
                np.array([fraction_to_weight(f) for f in hi], np.int64))

    def _files(self, ids: np.ndarray, prefix: str):
        from qbeast_spark_spark.sources.log import Block, IndexFile

        depth, path = bfs_cubes(ids)
        lo, hi = cube_regions(depth, path)
        min_w, max_w = self._weights(depth)
        size = self.rng.integers(64 << 20, 192 << 20, len(ids))
        rows = size // 24
        dv = self.rng.random(len(ids)) < 0.01
        names, files, weights, domains = [], [], {}, {}
        for j in range(len(ids)):
            cube = f"{int(depth[j])}:{int(path[j]):x}"
            name = f"{prefix}{self.seq:07d}.parquet"
            self.seq += 1
            names.append(name)
            files.append(IndexFile(
                path=name, size=int(size[j]), rows=int(rows[j]),
                revision_id=1,
                blocks=[Block(cube, int(min_w[j]), int(max_w[j]),
                              int(rows[j]))],
                column_stats={c: [float(lo[j, i] * DOMAIN),
                                  float(hi[j, i] * DOMAIN)]
                              for i, c in enumerate(("x", "y"))},
                dv=({"storageType": "u", "pathOrInlineDv": "ab" + "0" * 20,
                     "offset": 1, "sizeInBytes": 40, "cardinality": 1000}
                    if dv[j] else None)))
            weights[cube] = int(max_w[j])
            domains[cube] = float(rows[j])
        self.truth.extend(names, lo, hi, min_w, size,
                          rows - np.where(dv, 1000, 0))
        return files, weights, domains

    def commit(self, log, files, weights, domains, remove=(), **kw) -> int:
        v = log.commit(add=files, remove=list(remove),
                       cube_weights={1: weights}, cube_domains={1: domains},
                       operation="WRITE", **kw)
        for p in remove:
            self.truth.kill(p)
        self.truth.version = v
        return v

    def generate(self) -> None:
        from qbeast_spark_spark.core.revision import ColumnToIndex, Revision
        from qbeast_spark_spark.core.transform import LinearTransformation
        from qbeast_spark_spark.sources.log import CommitLog

        log = CommitLog(self.table)
        rev = Revision(1, 1_700_000_000_000, 5_000_000,
                       [ColumnToIndex("x", ""), ColumnToIndex("y", "")],
                       [LinearTransformation(0.0, DOMAIN),
                        LinearTransformation(0.0, DOMAIN)],
                       ["bigint", "bigint"])
        schema = json.dumps({"type": "struct", "fields": [
            {"name": c, "type": "long", "nullable": True, "metadata": {}}
            for c in ("x", "y")]})
        head = max(1, self.n_files // 1000)
        bulk = self.n_files - head * SMALL_COMMITS - TAIL_COMMITS
        fid = 0
        for v in range(SMALL_COMMITS + 1):
            n = head if v < SMALL_COMMITS else bulk
            files, w, d = self._files(np.arange(fid, fid + n), "f")
            fid += n
            extra = {"revisions": {1: rev}, "schema_json": schema} \
                if v == 0 else {}
            self.commit(log, files, w, d, **extra)
        for _ in range(TAIL_COMMITS):
            # add two, remove one: the live count grows by one per commit
            files, w, d = self._files(np.arange(fid, fid + 2), "f")
            fid += 2
            victim = self.truth.paths[int(self.rng.integers(0, fid - 2))]
            while not self.truth.alive[self.truth.paths.index(victim)]:
                victim = self.truth.paths[int(self.rng.integers(0, fid - 2))]
            self.commit(log, files, w, d, remove=[victim])

    def one_file(self):
        """An IndexFile (and its weight/domain maps) for a one-file
        commit at a seeded cube of depth 4."""
        k = int(self.rng.integers(85, 341))     # the depth-4 cubes
        return self._files(np.array([k]), "c")
