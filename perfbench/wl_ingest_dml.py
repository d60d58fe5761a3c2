"""ingest_dml: indexed appends, DML and maintenance on a growing table.

Set-up indexes a ~60k-row lineitem base. The timed ops replay a fixed
cycle: four small indexed appends (~2k rows, the shape of DML
post-images and stream micro-batches), a large append (~60k rows),
DELETE over an order key range (the deletion-vector path), UPDATE over a
price slice, one MERGE upsert (matched rows updated, new rows inserted),
and optimize/compact. Each op commits once and the log checkpoints every
10 commits. Batches are seeded lineitem rows that are
not in the base. ``writer``, ``dml``, ``log.commit`` and
``maintenance`` do the work; reads happen only as DML match scans.

Every op is checked after the timed loop: the table read at the version
the op committed must match a pyarrow/numpy model of the same sequence
in row count and column sums.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from base import Workload, mean
from harness import dir_bytes, file_sizes
from lineitem import KEY_HI, PRICE_HI, PRICE_LO, lineitem

INDEXED = ["l_orderkey", "l_extendedprice"]
KEYS = ["l_orderkey", "l_linenumber"]
BASE_ROWS = 60_000
CUBE_SIZE = 5_000
SMALL_ROWS, LARGE_ROWS = 2_000, 60_000
MERGE_INSERT_ROWS, MERGE_UPDATE_ROWS = 500, 500
DELETE_KEY_WIDTH = 0.004 * KEY_HI
UPDATE_PRICE_WIDTH = 0.002 * (PRICE_HI - PRICE_LO)
COMPACT_TARGET = 1 << 20
# four small appends of ten ops: the median op is a micro-batch append
CYCLE = ["append_small", "delete", "append_small", "append_large",
         "update", "append_small", "merge", "optimize", "append_small",
         "compact"]
# the revision spans the whole key and price domain, so no batch opens a
# new revision and maintenance rewrites the same share on every seed
DOMAIN_STATS = {"l_orderkey": {"min": 1, "max": KEY_HI},
                "l_extendedprice": {"min": PRICE_LO, "max": PRICE_HI}}
APPENDS = ("append_small", "append_large")
DML = ("delete", "update", "merge")
MAINTENANCE = ("optimize", "compact")
SUM_COLS = ("l_extendedprice", "l_quantity", "l_tax")
REL_TOL = 1e-9


def make_plan(seed: int, n_ops: int) -> List[dict]:
    """Op list; appended and merged-in rows are consecutive pool rows
    after the base, so no row is written twice."""
    rng = np.random.default_rng([seed, 2])
    ops, nxt = [], BASE_ROWS
    while len(ops) < n_ops:
        for kind in CYCLE:
            op = {"kind": kind}
            if kind in APPENDS or kind == "merge":
                n = {"append_small": SMALL_ROWS, "append_large": LARGE_ROWS,
                     "merge": MERGE_INSERT_ROWS}[kind]
                op["rows"] = [nxt, nxt + n]
                nxt += n
            elif kind == "delete":
                k0 = int(rng.uniform(0, KEY_HI - DELETE_KEY_WIDTH))
                op["filters"] = [("l_orderkey", ">=", k0),
                                 ("l_orderkey", "<",
                                  k0 + int(DELETE_KEY_WIDTH))]
            elif kind == "update":
                p0 = round(float(rng.uniform(
                    PRICE_LO, PRICE_HI - UPDATE_PRICE_WIDTH)), 2)
                op["filters"] = [("l_extendedprice", ">=", p0),
                                 ("l_extendedprice", "<",
                                  round(p0 + UPDATE_PRICE_WIDTH, 2))]
            if kind == "merge":
                # an upsert: new rows, plus a contiguous run of base rows
                # in key order with a changed quantity
                op["base_start"] = int(rng.integers(
                    0, BASE_ROWS - MERGE_UPDATE_ROWS))
            ops.append(op)
    return ops[:n_ops]


class Model:
    """The table's expected rows as numpy columns."""

    def __init__(self, tbl: pa.Table) -> None:
        self.cols = {c: tbl.column(c).to_numpy() for c in tbl.column_names}

    @staticmethod
    def key(cols) -> np.ndarray:
        return cols["l_orderkey"] * 8 + cols["l_linenumber"]

    def append(self, tbl: pa.Table) -> int:
        for c in self.cols:
            self.cols[c] = np.concatenate(
                [self.cols[c], tbl.column(c).to_numpy()])
        return tbl.num_rows

    def mask(self, filters) -> np.ndarray:
        m = np.ones(len(self.cols["l_orderkey"]), dtype=bool)
        for c, op, v in filters:
            m &= (self.cols[c] >= v) if op == ">=" else (self.cols[c] < v)
        return m

    def delete(self, filters) -> int:
        keep = ~self.mask(filters)
        for c in self.cols:
            self.cols[c] = self.cols[c][keep]
        return int((~keep).sum())

    def update(self, filters) -> int:
        m = self.mask(filters)
        self.cols["l_quantity"] = np.where(
            m, self.cols["l_quantity"] + 1.0, self.cols["l_quantity"])
        return int(m.sum())

    def merge(self, src: pa.Table) -> int:
        """Upsert: matched rows take every source column, unmatched
        source rows are inserted. Returns rows updated + inserted."""
        skey = self.key({c: src.column(c).to_numpy() for c in KEYS})
        order = np.argsort(skey)
        tkey = self.key(self.cols)
        pos = np.clip(np.searchsorted(skey[order], tkey), 0, len(skey) - 1)
        hit = skey[order][pos] == tkey
        for c in self.cols:
            vals = src.column(c).to_numpy()[order][pos]
            self.cols[c] = np.where(hit, vals, self.cols[c])
        new = ~np.isin(skey, tkey[hit])
        return int(hit.sum()) + self.append(src.filter(pa.array(new)))

    def checksum(self) -> tuple:
        c = self.cols
        return (len(c["l_orderkey"]), int(c["l_orderkey"].sum()),
                *(float(c[k].sum()) for k in SUM_COLS))


def checksum_equal(got, want) -> bool:
    return tuple(got[:2]) == tuple(want[:2]) and all(
        abs(g - w) <= REL_TOL * max(1.0, abs(w))
        for g, w in zip(got[2:], want[2:]))


class IngestDml(Workload):
    nominal_rate = 0.5
    cycle = len(CYCLE)
    # dml.files_rewritten_per_op is left out: every DML op here takes
    # the deletion-vector path, so it rewrites no file
    exercised = frozenset({
        "log.snapshot_ms", "log.commit_ms", "log.log_mb_written",
        "reader.prune_ms", "writer.append_small_ms", "writer.append_large_ms",
        "writer.build_s", "writer.jobs_per_append_small",
        "writer.stages_per_append_small", "writer.files_per_append",
        "writer.shuffle_mb_per_append", "writer.python_ms_per_append",
        "writer.arrow_mb_sent", "dml.delete_ms", "dml.update_ms",
        "dml.merge_ms", "dml.stages_per_op", "dml.dv_files_per_op",
        "maintenance.optimize_ms", "maintenance.compact_ms",
        "maintenance.mb_rewritten", "self.log_ms_per_op",
        "self.reader_ms_per_op", "self.writer_ms_per_op",
        "self.dml_ms_per_op", "self.maintenance_ms_per_op",
        "trace.op_p50_ms", "trace.cpu_ms_per_op",
    })

    def plan(self) -> List[dict]:
        self.ops = make_plan(self.seed, self.n_ops())
        return self.ops

    def setup(self) -> None:
        import qbeast_spark_spark as qss

        pool = lineitem(self.seed)
        self.table = self.path("table")
        base = pool.slice(0, BASE_ROWS)
        pq.write_table(base, self.path("base.parquet"))
        self.bytes_per_row = os.path.getsize(
            self.path("base.parquet")) / BASE_ROWS
        os.makedirs(self.path("batches"))
        # every batch as plain parquet, written once: the user bytes
        self.batch = {}
        order = np.argsort(Model.key(
            {c: base.column(c).to_numpy() for c in KEYS}))
        for i, op in enumerate(self.ops):
            if "rows" not in op:
                continue
            a, b = op["rows"]
            t = pool.slice(a, b - a)
            if op["kind"] == "merge":
                s = op["base_start"]
                old = base.take(order[s:s + MERGE_UPDATE_ROWS])
                old = old.set_column(
                    old.schema.get_field_index("l_quantity"), "l_quantity",
                    pc.add(old.column("l_quantity"), 2.0))
                t = pa.concat_tables([old, t])
            f = self.path("batches", f"op{i}.parquet")
            pq.write_table(t, f)
            self.batch[i] = (f, t, os.path.getsize(f))
        self.model = Model(base)
        self.start_spark()
        with self.tracer.span("writer.build"):
            t0 = time.perf_counter()
            qss.write(self.spark.read.parquet(self.path("base.parquet")),
                      self.table, columns_to_index=INDEXED,
                      cube_size=CUBE_SIZE, column_stats=DOMAIN_STATS)
            self.build_s = time.perf_counter() - t0
        self.qt = qss.QbeastTable.for_path(self.spark, self.table)
        self.snap = self.qt.snapshot(refresh=True)
        self.files_before = file_sizes(self.table)
        self.log_before = dir_bytes(os.path.join(self.table, "_qbeast_log"))
        self.checks: Dict[int, tuple] = {}
        self.versions: Dict[int, int] = {}
        self.version = self.snap.version

    # -- ops ---------------------------------------------------------------

    def run_op(self, i: int, op: dict):
        import qbeast_spark_spark as qss

        kind, qt, sp = op["kind"], self.qt, self.spark
        if kind in APPENDS:
            with self.tracer.span("writer.append"):
                return qss.write(sp.read.parquet(self.batch[i][0]),
                                 self.table)
        if kind == "delete":
            with self.tracer.span("dml.delete"):
                return qt.delete(op["filters"])
        if kind == "update":
            with self.tracer.span("dml.update"):
                return qt.update({"l_quantity": "l_quantity + 1"},
                                 op["filters"])
        if kind == "merge":
            src = sp.read.parquet(self.batch[i][0])
            with self.tracer.span("dml.merge"):
                return qt.merge(src, on=KEYS, when_matched_update="all",
                                when_not_matched_insert="all")
        if kind == "optimize":
            with self.tracer.span("maintenance.optimize"):
                return qss.optimize_table(sp, self.table)
        with self.tracer.span("maintenance.compact"):
            return qss.compact_table(sp, self.table,
                                     target_file_bytes=COMPACT_TARGET)

    def before_op(self, i: int, op: dict) -> None:
        from qbeast_spark_spark.sources.reader import prune_files

        with self.tracer.paused():
            if op["kind"] in ("delete", "update"):
                self.scan = prune_files(self.snap, op["filters"])
            elif op["kind"] == "merge":
                # the source's [min, max] box over every merge key
                src = self.batch[i][1]
                box = []
                for k in KEYS:
                    v = src.column(k).to_numpy()
                    box += [(k, ">=", int(v.min())), (k, "<=", int(v.max()))]
                self.scan = prune_files(self.snap, box)
            else:
                self.scan = []

    def after_op(self, i: int, op: dict, rec: dict) -> None:
        super().after_op(i, op, rec)
        with self.tracer.paused():
            before = self.snap
            self.snap = self.qt.snapshot(refresh=True)
        # a DML verb reports how many files its match scan opened
        if op["kind"] in DML and rec["ok"] and \
                rec["result"]["files_scanned"] != len(self.scan):
            rec["ok"] = False
            rec["error"] = (f"scanned {rec['result']['files_scanned']} "
                            f"files, metadata pruning selects "
                            f"{len(self.scan)}")
        removed = [p for p in before.files if p not in self.snap.files]
        added = [p for p in self.snap.files if p not in before.files]
        dv = [p for p, f in self.snap.files.items()
              if p in before.files and f.dv != before.files[p].dv]
        kind = op["kind"]
        rec.update(
            files_added=len(added), files_removed=len(removed),
            dv_files=len(dv),
            mb_removed=sum(before.files[p].size for p in removed) / 2**20,
            scan_mb=(sum(before.files[p].size for p in self.scan) / 2**20
                     if kind in DML else
                     sum(before.files[p].size for p in removed) / 2**20
                     if kind in MAINTENANCE else 0.0))
        rows = 0
        if rec["ok"]:
            m = self.model
            if kind in APPENDS:
                rows = m.append(self.batch[i][1])
            elif kind == "delete":
                rows = m.delete(op["filters"])
            elif kind == "update":
                rows = m.update(op["filters"])
            elif kind == "merge":
                rows = m.merge(self.batch[i][1])
        rec["rows"] = rows
        # user bytes: the batch as plain parquet; updated rows at the
        # base's plain-parquet bytes per row; deletes write no user data
        rec["user_bytes"] = (self.batch[i][2] if kind in APPENDS
                             or kind == "merge"
                             else rows * self.bytes_per_row
                             if kind == "update" else 0.0)
        self.version = self.snap.version
        self.versions[i] = self.version
        self.checks[i] = self.model.checksum()

    # -- oracle and metrics --------------------------------------------------

    def verify(self, recs: List[dict]) -> Dict[int, str]:
        from functools import reduce

        from pyspark.sql import functions as F

        ok = [r["id"] for r in recs if r["ok"]]
        if not ok:
            return {}
        frames = [self.qt.to_df(version=self.versions[i]).agg(
            F.lit(i).alias("op"), F.count("*"), F.sum("l_orderkey"),
            *(F.sum(c) for c in SUM_COLS)) for i in ok]
        got = {int(r[0]): (int(r[1]), int(r[2] or 0),
                           *(float(x or 0.0) for x in r[3:]))
               for r in reduce(lambda a, b: a.unionByName(b),
                               frames).collect()}
        wrong = {i: f"table at v{self.versions[i]} has {got[i]}, "
                    f"model {self.checks[i]}"
                 for i in ok if not checksum_equal(got[i], self.checks[i])}
        self.files_after = file_sizes(self.table)
        self.log_after = dir_bytes(os.path.join(self.table, "_qbeast_log"))
        return wrong

    def created_bytes(self) -> int:
        return sum(s for p, s in self.files_after.items()
                   if p not in self.files_before)

    def e2e_metrics(self, recs, per_block) -> dict:
        return {
            "scan_mb_per_op": mean(r["scan_mb"] for r in recs),
            "rows_per_s": per_block(lambda b: self.rate(
                b, lambda r: r["rows"])),
            "write_amp": self.created_bytes()
            / max(1.0, sum(r["user_bytes"] for r in recs)),
        }

    def layer_metrics(self, recs, tracer) -> dict:
        def lat(*kinds):
            return mean(r["ms"] for r in recs if r["kind"] in kinds)

        def cnt(kinds, key):
            return mean(r["counts"][key] for r in recs if r["kind"] in kinds)

        def rest(kinds, key, scale=1.0):
            return mean(self.rest_of(r["id"]).get(key, 0) * scale
                        for r in recs if r["kind"] in kinds)

        small, dml = ("append_small",), DML
        return {
            "log.snapshot_ms": mean(tracer.durations_ms("log.snapshot")),
            "log.commit_ms": mean(tracer.durations_ms("log.commit")),
            "log.log_mb_written": (self.log_after - self.log_before) / 2**20,
            "reader.prune_ms": mean(tracer.durations_ms("reader.prune")),
            "writer.append_small_ms": lat("append_small"),
            "writer.append_large_ms": lat("append_large"),
            "writer.build_s": self.build_s,
            "writer.jobs_per_append_small": cnt(small, "jobs"),
            "writer.stages_per_append_small": cnt(small, "stages"),
            "writer.files_per_append": self.kind_mean(
                recs, APPENDS, lambda r: r["files_added"]),
            "writer.shuffle_mb_per_append":
                rest(APPENDS, "shuffle_bytes", 1 / 2**20),
            "writer.python_ms_per_append": rest(APPENDS, "python_s", 1e3),
            "writer.arrow_mb_sent":
                rest(APPENDS, "arrow_bytes_sent", 1 / 2**20),
            "dml.delete_ms": lat("delete"),
            "dml.update_ms": lat("update"),
            "dml.merge_ms": lat("merge"),
            "dml.stages_per_op": cnt(dml, "stages"),
            "dml.files_rewritten_per_op": self.kind_mean(
                recs, dml, lambda r: r["files_removed"]),
            "dml.dv_files_per_op": self.kind_mean(
                recs, dml, lambda r: r["dv_files"]),
            "maintenance.optimize_ms": lat("optimize"),
            "maintenance.compact_ms": lat("compact"),
            "maintenance.mb_rewritten": self.kind_mean(
                recs, MAINTENANCE, lambda r: r["mb_removed"]),
        }

    def exact_counts(self, recs) -> dict:
        return {
            "jobs": [r.get("counts", {}).get("jobs") for r in recs],
            "stages": [r.get("counts", {}).get("stages") for r in recs],
            "files_added": [r["files_added"] for r in recs],
            "files_removed": [r["files_removed"] for r in recs],
            "dv_files": [r["dv_files"] for r in recs],
            "rows": [r["rows"] for r in recs],
            "final_version": self.version,
        }
