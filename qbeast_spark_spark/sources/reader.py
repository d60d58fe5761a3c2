"""Read path: plain read (R4), sample->filter rewrite + sampling file
pruning (R1/R2), and multi-dimensional range file pruning (R3).

Re-expression of /root/reference/src/main/scala/io/qbeast/internal/rules/
SampleRule.scala:44-107, core/.../strategies/SamplingListFilesStrategy.scala:38-58
and core/.../query/{QueryExecutor,QuerySpecBuilder}.scala, with one structural
simplification: block selection is a flat vectorized scan over the block
metadata (O(#blocks) on the driver, ~rows/desiredCubeSize entries — at 100 TB
with the 5M default that is ~10^5, far below driver limits), instead of a
tree DFS. Selection predicates are identical, so the pruned file set matches.

Row-level exactness always comes from residual Spark filters (the sampling
hash predicate / the user's WHERE); pruning only shrinks the file list.
"""

from __future__ import annotations

import json
import os
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np

from ..core.cube import parse_cube
from ..core.revision import Revision, STAGING_REVISION_ID
from ..core.transform import HashTransformation, literal_to_number
from ..core.weight import fraction_to_weight
# prune_files / sample_files also run in pyds planning, inside Spark's
# Python workers where this package is not on sys.path: what they call
# is imported here, never lazily
from ..functions.bloom import blooms_exclude
from ..index.vectorized import cube_ranges
from .log import CommitLog, Snapshot
from .metadata import FileKernel

__all__ = ["QbeastTable", "FilterTuple", "read_qbeast"]

# (column, op, value) — the declarative pushdown surface (mirrors pyarrow /
# DataSourceV2 filter tuples; SURVEY.md §2.1 R3 design note).
FilterTuple = Tuple[str, str, Any]

_OPS = {">", ">=", "<", "<=", "=", "==", "in"}


def _stats_exclude(f, filters) -> bool:
    """True when the file's per-column [min, max] stats prove NO row can
    satisfy the conjunction — comparison predicates never match nulls, so
    a disjoint non-null range is a safe drop. Unknown columns, unknown
    ops, and cross-type comparisons never prune (conservative)."""
    cs = getattr(f, "column_stats", None)
    if not cs:
        return False
    for t in filters:
        col, op, val = t[0], t[1], (t[2] if len(t) > 2 else None)
        rng = cs.get(col)
        if rng is None:
            continue
        mn, mx = rng
        try:
            if op in ("=", "=="):
                if val < mn or val > mx:
                    return True
            elif op == ">":
                if mx <= val:
                    return True
            elif op == ">=":
                if mx < val:
                    return True
            elif op == "<":
                if mn >= val:
                    return True
            elif op == "<=":
                if mn > val:
                    return True
            elif op == "in":
                if all(v < mn or v > mx for v in val):
                    return True
        except TypeError:
            continue    # incomparable types: never prune on this clause
    return False


class QbeastTable:
    """User facade (QbeastTable.scala:127-221 analogue)."""

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.path = path
        self.log = CommitLog(path)
        self._snapshot: Optional[Snapshot] = None

    @staticmethod
    def for_path(spark, path: str) -> "QbeastTable":
        return QbeastTable(spark, path)

    @staticmethod
    def for_delta(spark, path: str) -> "QbeastTable":
        """Open a REFERENCE-written qbeast table (index metadata inside a
        Delta log — docs/QbeastFormat.md) read-only: sample(), read(),
        where(), to_df() all prune through the imported index without
        re-indexing. For the mutating surface (appends, optimize, vacuum)
        adopt the table first with ``attach_qbeast_delta(path)`` and open
        it with ``for_path``."""
        from .qbeast_format import DeltaQbeastLog

        qt = QbeastTable(spark, path)
        qt.log = DeltaQbeastLog(path)
        return qt

    # -- snapshot access ----------------------------------------------------

    def snapshot(self, refresh: bool = False) -> Snapshot:
        if self._snapshot is None or refresh:
            self._snapshot = self.log.snapshot()
        return self._snapshot

    def revisions(self) -> List[Revision]:
        return sorted(self.snapshot(refresh=True).revisions.values(),
                      key=lambda r: r.revision_id)

    def schema(self):
        from pyspark.sql import types as T

        sj = self.snapshot().schema_json
        return T.StructType.fromJson(json.loads(sj)) if sj else None

    def file_paths(self) -> List[str]:
        return self.snapshot(refresh=True).file_paths()

    # -- reads --------------------------------------------------------------

    def _df_for_files(self, rel_paths: Sequence[str], snap=None,
                      file_col: Optional[str] = None,
                      pos_col: Optional[str] = None):
        """Scan the given files. ``file_col`` materializes the source file
        URI (``_metadata.file_path``) as a visible column CAPTURED AT THE
        SCAN — callers that need per-file attribution (DML match counts)
        must use this instead of ``input_file_name()``, which goes blank
        if the deletion-vector anti-join below shuffles. ``pos_col``
        likewise captures ``_metadata.row_index`` — the DML verbs' fused
        match-count + DV-mask scan needs both (r12: one pass instead of
        a count pass plus a separate raw position scan)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # Schema comes from the SAME snapshot as the file list: a
        # time-travel read must present the schema AS OF that version
        # (Delta parity) — reading pre-evolution versions with the
        # latest schema invented null columns that never existed then.
        snap = snap if snap is not None else self.snapshot()
        sj = snap.schema_json
        schema = T.StructType.fromJson(json.loads(sj)) if sj else None
        if not rel_paths:
            from .frames import empty_frame

            df = empty_frame(self.spark, schema)
            if file_col:
                df = df.withColumn(file_col, F.lit(""))
            if pos_col:
                df = df.withColumn(pos_col, F.lit(0).cast("long"))
            return df
        paths = [os.path.join(self.path, p) for p in rel_paths]
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*paths)
        if file_col:
            df = df.withColumn(file_col, F.col("_metadata.file_path"))
        if pos_col:
            df = df.withColumn(pos_col, F.col("_metadata.row_index"))
        # logical deletes: anti-join away DV'd positions (no-op plan change
        # when no listed file carries a deletion vector — the common case)
        dv_entries = []
        for rel in rel_paths:
            f = snap.files.get(rel)
            if f is not None and f.dv:
                from .deletion_vectors import DVDescriptor

                dv_entries.append((os.path.join(self.path, rel),
                                   DVDescriptor.from_json(f.dv)))
        if dv_entries:
            from .deletion_vectors import with_dv_filter

            df = with_dv_filter(df, self.spark, dv_entries, self.path)
        return df

    def to_df(self, version: Optional[int] = None, timestamp=None):
        """R4 — plain read of every live file. ``version`` reads the table
        as of that commit (time travel; the versioned log replays to any
        point for free, like Delta's VERSION AS OF). ``timestamp`` is the
        TIMESTAMP AS OF twin: epoch millis, a datetime, or an ISO-8601
        string — resolved to the last commit at or before it."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            if not hasattr(self.log, "version_at_timestamp"):
                raise NotImplementedError(
                    "timestamp time travel needs a native qbeast log "
                    "(for_delta tables: use version=)")
            version = self.log.version_at_timestamp(
                _timestamp_to_ms(timestamp))
        if version is not None:
            snap = self.log.snapshot(at_version=version)
        else:
            snap = self.snapshot(refresh=True)
        return self._df_for_files(list(snap.files.keys()), snap=snap)

    def history(self):
        """Commit history (DESCRIBE HISTORY analogue), newest last."""
        return self.log.history()

    # -- table-information accessors (docs/QbeastTable.md:12-26 parity) --

    def indexed_columns(self) -> List[str]:
        """Currently indexed columns (qbeastTable.indexedColumns())."""
        rev = self.snapshot().latest_revision()
        return rev.column_names if rev else []

    def cube_size(self) -> Optional[int]:
        """Current desired cube size (qbeastTable.cubeSize())."""
        rev = self.snapshot().latest_revision()
        return rev.desired_cube_size if rev else None

    def all_revision_ids(self) -> List[int]:
        """Every revision id in the log (allRevisionIDs())."""
        return sorted(self.snapshot().revisions.keys())

    def latest_revision_id(self) -> Optional[int]:
        """The last revision id (lastRevisionID())."""
        rev = self.snapshot().latest_revision()
        return rev.revision_id if rev else None

    def changes_since(self, version: int):
        """Rows appended by data-changing commits AFTER ``version`` — the
        change-data-feed primitive for incremental pipelines (Delta CDF's
        insert stream, scoped to appends): process a table in increments
        by remembering the last version consumed. Re-layout commits
        (optimize; dataChange=False) contribute nothing, so increments
        never re-deliver rewritten rows. Reads only the newly-added files
        — O(new data), not O(table). Files must still be on disk (vacuum
        retention covers the consumer lag window)."""
        versions = self.log._versions()
        if versions and version > versions[-1]:
            raise ValueError(
                f"version {version} is beyond the log (latest "
                f"{versions[-1]})")
        rels = []
        for _v, commit in self.log.commits_after(version):
            if not commit.get("dataChange", True):
                continue
            rels.extend(fo["path"] for fo in commit.get("add", []))
        return self._df_for_files(rels)

    def set_properties(self, props: Dict[str, str],
                       protocol: Optional[Dict] = None) -> int:
        """Persist table properties (metadata-only commit; ALTER TABLE SET
        TBLPROPERTIES parity — properties merge across commits).
        ``protocol`` optionally raises the table-feature bar in the same
        commit (sources/log.py SUPPORTED_*_FEATURES)."""
        version = self.log.commit(
            properties={k: str(v) for k, v in props.items()},
            schema_json=self.snapshot(refresh=True).schema_json,
            data_change=False, operation="SET TBLPROPERTIES",
            protocol=protocol)
        self._snapshot = None
        return version

    def add_columns(self, ddl: str) -> int:
        """ALTER TABLE ADD COLUMNS parity (Delta metadata-only schema
        evolution): append new NULLABLE fields to the table schema in a
        data_change=false commit. Existing files read the added columns
        as NULL (reads apply the snapshot schema to the parquet scan);
        time travel before this commit presents the old schema.
        ``ddl`` is a Spark column list like ``"x INT, y STRING"``."""
        from pyspark.sql import types as T

        new_fields = T.StructType.fromDDL(ddl).fields
        snap = self.snapshot(refresh=True)
        if not snap.schema_json:
            raise ValueError("table has no committed schema yet")
        old = T.StructType.fromJson(json.loads(snap.schema_json))
        existing = {f.name.lower() for f in old.fields}
        seen = set()
        dupes = []
        for f in new_fields:
            lc = f.name.lower()
            # against the table AND against the new list itself —
            # (x INT, X STRING) would persist an ambiguous schema
            if lc in existing or lc in seen:
                dupes.append(f.name)
            seen.add(lc)
        if dupes:
            raise ValueError(f"column(s) already exist: {dupes}")
        merged = T.StructType(
            old.fields + [T.StructField(f.name, f.dataType, True)
                          for f in new_fields])
        version = self.log.commit(
            schema_json=merged.json(), data_change=False,
            operation="ADD COLUMNS")
        self._snapshot = None
        return version

    def enable_change_data_feed(self) -> int:
        """Turn on the change data feed (sources/cdf.py): every later
        DML commit records its changed rows, and ``table_changes``
        decodes any version range into the Delta CDF row shape."""
        from .cdf import CDF_PROP

        return self.set_properties(
            {CDF_PROP: "true"},
            protocol={"writerFeatures": ["changeDataFeed"]})

    def table_changes(self, starting_version: int,
                      ending_version: Optional[int] = None):
        """Delta CDF: rows changed by commits in the (inclusive) version
        range, shaped as table columns + _change_type ('insert' /
        'delete' / 'update_preimage' / 'update_postimage') +
        _commit_version + _commit_timestamp. Appends/truncates/overwrites
        decode from their file actions alone; DML commits need the feed
        enabled (``enable_change_data_feed``) BEFORE they ran."""
        from .cdf import table_changes

        return table_changes(self, starting_version, ending_version)

    def detail(self) -> dict:
        """DESCRIBE DETAIL parity: one metadata-only summary dict —
        location, row/file/byte totals, small-file and deletion-vector
        counts, revision ids, constraint names, log version, properties.
        O(#files) driver work; feeds dashboards and the auto_maintain
        thresholds."""
        from .constraints import constraints_of

        snap = self.snapshot(refresh=True)
        small = 32 * 1024 * 1024
        # one pass over the kernel arrays — detail() on a 10^6-file
        # table must not materialize IndexFile objects
        t = FileKernel.view(snap.files).detail_tallies(STAGING_REVISION_ID,
                                                       small)
        return {
            "location": self.path,
            "version": snap.version,
            "numFiles": t["numFiles"],
            "numRows": t["numRows"],
            "sizeInBytes": t["sizeInBytes"],
            "numSmallFiles(<32MB)": t["numSmallFiles"],
            "numFilesWithDeletionVectors": t["numDV"],
            "numStagingFiles": t["numStaging"],
            "revisions": sorted(t["revisions"]),
            "constraints": sorted(constraints_of(snap.properties)),
            "properties": dict(snap.properties),
        }

    def constraints(self) -> dict:
        """Active CHECK constraints ({name: SQL boolean expr})."""
        from .constraints import constraints_of

        return constraints_of(self.snapshot(refresh=True).properties)

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT parity: validate the EXISTING rows
        against ``expr`` (one scan), then persist it — every later
        write/UPDATE/MERGE batch must satisfy it (sources/constraints.py).
        Raises if current data violates, like Delta."""
        from .constraints import CONSTRAINT_PREFIX, validate_constraints

        if not name or not expr:
            raise ValueError("constraint needs a name and an expression")
        validate_constraints(self.to_df(), {name: expr},
                             context=f"existing data of {self.path}")
        v = self.log.commit(properties={f"{CONSTRAINT_PREFIX}{name}": expr},
                            data_change=False,
                            operation="ADD CONSTRAINT",
                            protocol={"writerFeatures":
                                      ["checkConstraints"]})
        self._snapshot = None
        return v

    def drop_constraint(self, name: str) -> int:
        """Drop a CHECK constraint (deleted via the null-value property
        protocol; empty-string values from older logs read as dropped
        too)."""
        from .constraints import CONSTRAINT_PREFIX

        if name not in self.constraints():
            raise ValueError(f"no such constraint {name!r}")
        v = self.log.commit(properties={f"{CONSTRAINT_PREFIX}{name}": None},
                            data_change=False,
                            operation="DROP CONSTRAINT")
        self._snapshot = None
        return v

    def restore(self, version: int) -> int:
        """Delta RESTORE parity: roll the table back to ``version`` as a
        NEW commit (history is preserved — a restore is itself
        time-travelable and vacuum-safe). Metadata-only: the target
        version's files are still on disk because vacuum only reclaims
        past retention; the commit removes the current live set and
        re-adds the old one, and re-installs the old revision definitions
        and per-revision cube stats so subsequent appends index against
        the restored state, not the rolled-back one."""
        from .deletion_vectors import DVDescriptor, dv_abs_path

        old = self.log.snapshot(at_version=version)
        cur = self.snapshot(refresh=True)
        missing = [rel for rel in old.files
                   if not os.path.exists(os.path.join(self.path, rel))]
        for f in old.files.values():
            if f.dv:
                p = dv_abs_path(self.path, DVDescriptor.from_json(f.dv))
                if p and not os.path.exists(p):
                    missing.append(os.path.relpath(p, self.path))
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} "
                f"data file(s) already vacuumed (e.g. {missing[0]!r})")
        # roll properties back too: keys added after the target version
        # are deleted via the null-value protocol (log replay otherwise
        # only merges properties, so e.g. a constraint added at v+1 would
        # survive a restore to v)
        props = dict(old.properties)
        for k in cur.properties:
            if k not in old.properties:
                props[k] = None
        v = self.log.commit(
            add=list(old.files.values()),
            remove=[rel for rel in cur.files if rel not in old.files],
            read_version=cur.version,
            # the restore's plan depends on the WHOLE current live set —
            # files shared between cur and the target are re-added as-is,
            # so a concurrent rewrite of one (absent from `remove`, which
            # only lists cur-minus-old) would otherwise slip past the
            # conflict check and leave both the stale re-add and the
            # rewrite live (duplicated survivors + resurrected deletes)
            read_files=list(cur.files),
            revisions=old.revisions,
            cube_weights=old.cube_weights,
            cube_domains=old.cube_domains,
            reset_stats=True,
            schema_json=old.schema_json,
            properties=props,
            data_change=True,
            operation="RESTORE",
        )
        self._snapshot = None
        return v

    def vacuum(self, dry_run: bool = False,
               retention_hours: float = 168.0) -> List[str]:
        """Delete data files no longer referenced by the CURRENT snapshot
        (left behind by optimize/overwrite, which commit removals as
        metadata only). Note: vacuumed versions are no longer time-travel
        readable — same trade-off as Delta VACUUM. Returns the deleted
        (or, with dry_run, deletable) relative paths.

        ``retention_hours`` (Delta deletedFileRetentionDuration parity,
        default 7 days) skips recently written files: writers materialize
        data before the log commit, so an aggressive vacuum racing an
        in-flight write would delete its uncommitted files (ADVICE r1)."""
        import time as _time

        snap = self.snapshot(refresh=True)
        live = set(snap.files.keys())
        # deletion-vector sidecars referenced by live files stay; bitmaps
        # superseded by later deletes or dropped by optimize rewrites go
        from .deletion_vectors import DVDescriptor, dv_abs_path

        live_dvs = set()
        for dv in FileKernel.view(snap.files).live_dvs():
            p = dv_abs_path(self.path, DVDescriptor.from_json(dv))
            if p:
                live_dvs.add(os.path.relpath(os.path.abspath(p),
                                             os.path.abspath(self.path)))
        cutoff = _time.time() - retention_hours * 3600.0
        victims = []
        for name in os.listdir(self.path):
            if (name.startswith("deletion_vector_") and name.endswith(".bin")
                    and name not in live_dvs):
                try:
                    if os.path.getmtime(os.path.join(self.path,
                                                     name)) > cutoff:
                        continue
                except OSError:
                    continue
                victims.append(name)
                continue
            if name.endswith(".parquet") and name not in live:
                try:
                    if os.path.getmtime(os.path.join(self.path, name)) > cutoff:
                        continue  # within retention: possibly uncommitted
                except OSError:
                    continue
                victims.append(name)
        # change-data-feed sidecars age out like Delta's: past retention
        # they are deleted, after which table_changes over those versions
        # raises (the same trade-off as vacuumed time travel)
        from .cdf import CHANGE_DIR

        cdir = os.path.join(self.path, CHANGE_DIR)
        if os.path.isdir(cdir):
            for sub in os.listdir(cdir):
                subp = os.path.join(cdir, sub)
                try:
                    if os.path.getmtime(subp) > cutoff:
                        continue
                except OSError:
                    continue
                victims.append(os.path.join(CHANGE_DIR, sub))
        # commit-staging tmps orphaned by a writer that crashed between
        # writing the body and publishing the version link (log.py
        # commit): harmless litter, aged out on the same retention clock
        # but NEVER under 1 hour old — an aggressive retention-0 vacuum
        # racing a live writer's stage-then-link window must not steal
        # its tmp (commit() re-stages on ENOENT, but not silently losing
        # in-flight work is cheaper than retrying it). Victim paths are
        # derived from the actual log dir (a for_delta table logs under
        # _delta_log, not _qbeast_log).
        log_dir = getattr(self.log, "log_dir", None)
        if log_dir and os.path.isdir(log_dir):
            tmp_cutoff = min(cutoff, _time.time() - 3600.0)
            rel_log = os.path.relpath(os.path.abspath(log_dir),
                                      os.path.abspath(self.path))
            for name in os.listdir(log_dir):
                # ".json.put-*" staging tmps are the conditional-put
                # publisher's equivalent residue
                # (LocalConditionalPutPublisher: a crash inside the
                # flock section orphans one). Its single per-table
                # ".commitlock" is NEVER vacuumed — deleting a lock
                # file a slow writer may still open reintroduces the
                # split-lock double-publish race the flock exists to
                # prevent.
                # checkpoint staging tmps (".checkpoint*.tmp",
                # "_last_checkpoint.tmp") are crash orphans too — at
                # high file counts each is O(#files) bytes, so they
                # must age out like every other staging residue
                if ((name.startswith(".commit-") and name.endswith(".tmp"))
                        or ".json.put" in name
                        or (name.endswith(".tmp")
                            and (".checkpoint" in name
                                 or name == "_last_checkpoint.tmp"))):
                    try:
                        if os.path.getmtime(os.path.join(
                                log_dir, name)) > tmp_cutoff:
                            continue
                    except OSError:
                        continue
                    victims.append(os.path.join(rel_log, name))
            # SUPERSEDED checkpoints (any format) age out on the same
            # clock: each is O(#files) bytes — at 10^5-10^6 files a
            # checkpoint every 10 commits would leak gigabytes of
            # derived state. Only versions BELOW the current pointer
            # target are eligible; deleting one never loses data (the
            # commit JSONs are kept, so time travel before it replays
            # the full log — slower, still exact).
            last_ckpt = getattr(self.log, "_last_checkpoint_version",
                                lambda: None)()
            if last_ckpt is not None:
                ckpt_suffixes = (".checkpoint.json",
                                 ".checkpoint.meta.json",
                                 ".checkpoint.parquet",
                                 ".checkpoint.state.parquet")
                for name in os.listdir(log_dir):
                    suf = next((s for s in ckpt_suffixes
                                if name.endswith(s)), None)
                    if suf is None:
                        continue
                    try:
                        v = int(name[:-len(suf)])
                    except ValueError:
                        continue
                    if v >= last_ckpt:
                        continue
                    try:
                        if os.path.getmtime(os.path.join(
                                log_dir, name)) > cutoff:
                            continue
                    except OSError:
                        continue
                    victims.append(os.path.join(rel_log, name))
        if not dry_run:
            import shutil as _shutil

            for name in victims:
                target = os.path.join(self.path, name)
                try:
                    if os.path.isdir(target):
                        _shutil.rmtree(target, ignore_errors=True)
                    else:
                        os.remove(target)
                except OSError:
                    pass
        return sorted(victims)

    def sample(self, fraction: float, lower_bound: float = 0.0,
               filters: Optional[Sequence] = None):
        """R1+R2 — deterministic sample: prune files by block weight range,
        then apply the exact residual hash-range predicate per row.

        Statistically valid because weights are murmur3-uniform; identical
        semantics to the reference's SampleRule rewrite.

        ``filters`` (tuple DNF, SQL string, or Column — same language as
        ``read``) composes BOTH pruning strategies: the file list is the
        intersection of weight-range survivors and query-box survivors
        (the reference gets this composition from Catalyst stacking
        SampleRule on top of the query filters), and the filter is also
        applied row-level."""
        from pyspark.sql import functions as F

        if not (0.0 <= lower_bound < fraction <= 1.0):
            if fraction >= 1.0:
                return self.to_df() if filters is None \
                    else self.read(filters)
            raise ValueError(f"invalid sample range [{lower_bound}, {fraction})")
        snap = self.snapshot(refresh=True)
        w_to = fraction_to_weight(fraction)
        w_from = fraction_to_weight(lower_bound)
        selected = self.sample_files(fraction, lower_bound, snap=snap)
        residual = None
        from pyspark.sql import Column

        if filters is not None and not isinstance(filters, (str, Column)) \
                and len(filters) == 0:
            filters = None      # mirror read(): empty filter list == no filter
        if filters is not None:
            if isinstance(filters, (str, Column)):
                from .predicates import to_dnf_filters

                residual = F.expr(filters) if isinstance(filters, str) \
                    else filters
                dnf = to_dnf_filters(filters)
            else:
                disjuncts = filters if isinstance(filters[0], list) \
                    else [filters]
                residual = reduce_or = None
                for conj in disjuncts:
                    c = self._filters_to_column(conj)
                    reduce_or = c if reduce_or is None else (reduce_or | c)
                residual = reduce_or
                dnf = disjuncts
            if dnf is not None:
                boxed: set = set()
                for conj in dnf:
                    boxed.update(self._prune_files(snap, conj))
                selected = [p for p in selected if p in boxed]
        rev = snap.latest_revision()
        if rev is None:
            df = self._df_for_files(selected, snap=snap).sample(fraction)
            return df.where(residual) if residual is not None else df
        # per-revision hash filtering (sample_hash_columns): native
        # revisions share their columns, so the groups collapse to one
        groups: dict = {}
        for rel in selected:
            cols = sample_hash_columns(snap, snap.files[rel].revision_id,
                                       rev.column_names)
            groups.setdefault(tuple(cols), []).append(rel)
        parts = []
        for cols, files in sorted(groups.items()):
            hash_col = F.hash(*[F.col(c) for c in cols])
            cond = hash_col < F.lit(w_to)
            if lower_bound > 0.0:
                cond = cond & (hash_col >= F.lit(w_from))
            if residual is not None:
                cond = cond & residual
            parts.append(self._df_for_files(files, snap=snap).where(cond))
        if not parts:
            return self._df_for_files([], snap=snap)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def tolerance(self, col: str, precision: float,
                  confidence: float = 0.95,
                  pilot_fraction: float = 0.01):
        """Tolerance-driven sampling: the smallest hash-range sample whose
        mean of ``col`` is within ``precision`` RELATIVE error of the true
        mean at ``confidence`` — the API the reference declares but leaves
        unimplemented (implicits/package.scala:54-66, body is ``???``).

        Plan: a pilot sample estimates the coefficient of variation, CLT
        sizing gives n >= (z * cv / precision)^2, and the exact row count
        from the commit log (no COUNT job) turns that into a fraction.
        Both the pilot and the final read prune files through the index,
        so cost scales with the returned fraction, not the table. The
        guarantee is asymptotic (CLT) — for heavy-tailed columns treat
        ``confidence`` as approximate. Returns (DataFrame, fraction)."""
        from statistics import NormalDist

        from pyspark.sql import functions as F

        if not (0.0 < precision):
            raise ValueError("precision must be > 0")
        snap = self.snapshot(refresh=True)
        total_rows = FileKernel.view(snap.files).rows_sum()
        if total_rows == 0:
            return self.to_df(), 1.0
        pilot = (self.sample(min(max(pilot_fraction, 2000.0 / total_rows),
                                 1.0))
                 .agg(F.avg(col).alias("m"),
                      F.stddev_pop(col).alias("s"),
                      F.count(col).alias("n")).collect()[0])
        if not pilot["n"] or pilot["m"] is None or not pilot["m"]:
            raise ValueError(
                f"tolerance needs a nonzero mean of {col!r} "
                "(relative error is undefined at mean 0)")
        cv = (pilot["s"] or 0.0) / abs(pilot["m"])
        z = NormalDist().inv_cdf(0.5 + confidence / 2.0)
        # 1.2x safety factor absorbs pilot-estimate noise in cv
        n_needed = 1.2 * (z * cv / precision) ** 2
        fraction = min(1.0, max(n_needed / total_rows,
                                1000.0 / total_rows))
        if fraction >= 1.0:
            return self.to_df(), 1.0
        return self.sample(fraction), fraction

    def approx_agg(self, fraction: float, sums: Sequence[str] = (),
                   avgs: Sequence[str] = (), count: bool = True,
                   filters: Optional[Sequence] = None):
        """Approximate aggregates over a pruned ``fraction`` sample with
        the unbiased scale-up applied engine-side: SUM and COUNT estimates
        are the sample statistics divided by the fraction (Horvitz-
        Thompson under murmur3-uniform weights), AVG needs no scaling.
        One single-row DataFrame with columns ``<col>_sum_est``,
        ``<col>_avg_est``, ``count_est`` — the AQP companion to
        ``tolerance()`` (which sizes the fraction for a target error)."""
        from pyspark.sql import functions as F

        if not (0.0 < fraction <= 1.0):
            raise ValueError("fraction must be in (0, 1]")
        df = self.sample(fraction, filters=filters) if fraction < 1.0 \
            else (self.to_df() if filters is None else self.read(filters))
        aggs = []
        if count:
            aggs.append((F.count(F.lit(1)) / fraction)
                        .cast("long").alias("count_est"))
        for c in sums:
            aggs.append((F.sum(c) / fraction).alias(f"{c}_sum_est"))
        for c in avgs:
            aggs.append(F.avg(c).alias(f"{c}_avg_est"))
        if not aggs:
            raise ValueError("nothing to aggregate")
        return df.agg(*aggs)

    def sample_files(self, fraction: float, lower_bound: float = 0.0,
                     snap: Optional[Snapshot] = None) -> List[str]:
        """The pruned file list a sample(fraction) read would touch — the
        observable form of the reference's file-pruning invariant
        (TestUtils.checkFileFiltering:60-83)."""
        return sample_files(snap or self.snapshot(refresh=True), fraction,
                            lower_bound)

    def prune_scan(self, filters):
        """File-pruned scan WITHOUT the residual predicate: reads only
        the files that can contain matches for ``filters`` (same pruning
        as ``read``) but applies NO row-level filter. For callers that
        re-apply the predicate themselves exactly once — the SQL
        surface's WHERE lift keeps the original WHERE in the delegated
        statement, so applying it here too would double-evaluate
        nondeterministic predicates (rand() < f filtered twice).
        Untranslatable predicates degrade to the full file list —
        pruning is only ever an optimization."""
        snap = self.snapshot(refresh=True)
        try:
            candidates, _residual = self._candidates_and_residual(
                filters, snap)
        except ValueError:
            # e.g. a tuple op _filters_to_column cannot express as the
            # (here unused) residual — degrade per the contract above
            candidates = sorted(snap.files.keys())
        return self._df_for_files(candidates, snap=snap)

    def read(self, filters: Optional[Sequence] = None):
        """R3 — multi-dim data skipping from declarative filter tuples, plus
        the same residual predicate applied row-level.

        ``filters`` uses the pyarrow DNF convention: a list of (col, op,
        value) tuples is a conjunction; a list of such lists is a
        disjunction of conjunctions. Disjuncts prune independently and
        their file sets union (QuerySpecBuilder.scala:56-77 disjunction
        handling; overlapping-space dedup falls out of the set union).

        Also accepts a SQL WHERE string or a simple Spark Column tree:
        both are translated best-effort into the tuple form for pruning
        (sources/predicates.py), with the ORIGINAL predicate applied
        row-level, so an untranslatable filter degrades to an unpruned —
        but still correct — read."""
        from functools import reduce

        if filters is None:
            return self.to_df()
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if isinstance(filters, (str, Column)):
            from .predicates import to_dnf_filters

            residual = F.expr(filters) if isinstance(filters, str) \
                else filters
            dnf = to_dnf_filters(filters)
            if dnf is None:  # unsupported shape: correct, just unpruned
                return self.to_df().where(residual)
            snap = self.snapshot(refresh=True)
            selected: set = set()
            for conj in dnf:
                selected.update(self._prune_files(snap, conj))
            return self._df_for_files(sorted(selected),
                                      snap=snap).where(residual)

        if not filters:
            return self.to_df()
        disjuncts = filters if isinstance(filters[0], (list,)) else [filters]
        snap = self.snapshot(refresh=True)
        selected: set = set()
        for conj in disjuncts:
            selected.update(self._prune_files(snap, conj))
        df = self._df_for_files(sorted(selected), snap=snap)
        residual = reduce(lambda a, b: a | b,
                          [self._filters_to_column(conj)
                           for conj in disjuncts])
        return df.where(residual)

    # -- pruning machinery --------------------------------------------------

    def _prune_files(self, snap: Snapshot,
                     filters: Sequence[FilterTuple]) -> List[str]:
        """Keep files having >= 1 block whose cube region intersects the
        query space of the filters (QuerySpace.intersectsWith:81-97).
        Delegates to module-level ``prune_files`` so the Python Data
        Source planner (sources/pyds.py, no SparkSession) prunes with
        the exact same logic."""
        return prune_files(snap, filters)

    def _filters_to_column(self, filters: Sequence[FilterTuple]):
        from pyspark.sql import functions as F

        cond = F.lit(True)
        for col, op, val in filters:
            c = F.col(col)
            op = op.lower()
            if op == ">":
                cond = cond & (c > F.lit(val))
            elif op == ">=":
                cond = cond & (c >= F.lit(val))
            elif op == "<":
                cond = cond & (c < F.lit(val))
            elif op == "<=":
                cond = cond & (c <= F.lit(val))
            elif op in ("=", "=="):
                cond = cond & (c == F.lit(val))
            elif op == "in":
                cond = cond & c.isin(list(val))
            elif op in ("is_null", "isnull"):
                cond = cond & c.isNull()
            elif op in ("is_not_null", "isnotnull"):
                cond = cond & c.isNotNull()
            else:
                raise ValueError(f"unsupported filter op {op!r}")
        return cond

    def _candidates_and_residual(self, filters, snap):
        """(candidate rel paths, residual Column) for a predicate in any
        of read()'s filter languages. ``filters=None`` (or empty) means
        every file with no residual; an untranslatable SQL/Column shape
        degrades to every file WITH the residual — never under-selects."""
        from functools import reduce

        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if filters is None or (not isinstance(filters, (str, Column))
                               and len(filters) == 0):
            return sorted(snap.files.keys()), None
        if isinstance(filters, (str, Column)):
            from .predicates import to_dnf_filters

            residual = F.expr(filters) if isinstance(filters, str) \
                else filters
            dnf = to_dnf_filters(filters)
            if dnf is None:
                return sorted(snap.files.keys()), residual
        else:
            dnf = filters if isinstance(filters[0], list) else [filters]
            residual = reduce(lambda a, b: a | b,
                              [self._filters_to_column(c) for c in dnf])
        selected: set = set()
        for conj in dnf:
            selected.update(self._prune_files(snap, conj))
        return sorted(selected), residual

    # -- DML ---------------------------------------------------------------

    def delete(self, filters=None, mode: str = "auto",
               txn_app_id: Optional[str] = None,
               txn_version: Optional[int] = None) -> dict:
        """DELETE FROM ... WHERE over only the files containing matching
        rows; the table stays fully qbeast-readable (the reference loses
        its index to DeltaTable.delete — docs/Quickstart.md:409-427).
        ``filters=None`` truncates (metadata-only). ``mode="auto"``
        (default) writes deletion vectors for selective deletes and
        rewrites files for bulk ones; ``"dv"``/``"rewrite"`` force a
        strategy — see dml.delete_rows. Returns {version, rows_deleted,
        files_rewritten}."""
        from .dml import delete_rows

        out = delete_rows(self.spark, self.path, filters, mode=mode,
                          txn_app_id=txn_app_id, txn_version=txn_version)
        self._snapshot = None
        return out

    def update(self, assignments: dict, filters=None,
               mode: str = "auto",
               txn_app_id: Optional[str] = None,
               txn_version: Optional[int] = None) -> dict:
        """UPDATE ... SET ... WHERE: ``assignments`` maps column -> SQL
        expression string or Column. ``mode="auto"`` (default) masks the
        matched rows with deletion vectors and appends only the
        post-image rows when they are a minority of the matched files'
        live rows (merge-on-read), else rewrites the matched files;
        ``"dv"``/``"rewrite"`` force a strategy — see dml.update_rows.
        Returns {version, rows_updated, files_rewritten}."""
        from .dml import update_rows

        out = update_rows(self.spark, self.path, assignments, filters,
                          mode=mode, txn_app_id=txn_app_id,
                          txn_version=txn_version)
        self._snapshot = None
        return out

    def merge(self, source, on, when_matched_update=None,
              when_matched_delete: bool = False,
              when_not_matched_insert=None, mode: str = "auto",
              txn_app_id: Optional[str] = None,
              txn_version: Optional[int] = None,
              materialize_source: str = "auto") -> dict:
        """MERGE INTO (upsert): equi-key merge of ``source`` into this
        table — matched rows updated (``"all"`` or {col: expr}, source
        columns visible as ``__src_<name>``) or deleted, not-matched
        source rows inserted through the existing cube weights. One
        atomic commit. ``mode="auto"`` (default) masks matched rows with
        deletion vectors and appends only the changed rows when they are
        a minority of the matched files' live rows (merge-on-read), else
        rewrites the matched files — see dml.merge_rows.
        Returns {version, files_rewritten, rows_inserted, rows_updated,
        rows_deleted}."""
        from .dml import merge_rows

        out = merge_rows(self.spark, self.path, source, on,
                         when_matched_update=when_matched_update,
                         when_matched_delete=when_matched_delete,
                         when_not_matched_insert=when_not_matched_insert,
                         mode=mode, txn_app_id=txn_app_id,
                         txn_version=txn_version,
                         materialize_source=materialize_source)
        self._snapshot = None
        return out

    # -- SQL bridge (C1-lite) ----------------------------------------------
    # The reference exposes qbeast tables through a DSv2 catalog
    # (catalog/QbeastCatalog.scala:48-355, `CREATE TABLE ... USING qbeast`,
    # INSERT INTO, TABLESAMPLE). Pure Python cannot register a Spark
    # catalog plugin, so the bridge is: temp views for SELECT (full,
    # pruned, or sampled reads all register as views `spark.sql` can hit)
    # and insert_into() for `INSERT INTO` semantics.

    def create_view(self, name: str, filters: Optional[Sequence] = None,
                    sample_fraction: Optional[float] = None):
        """Register this table as a session temp view. With ``filters``
        the view is the file-pruned read (pruning baked into the view's
        plan); with ``sample_fraction`` it is the pruned deterministic
        sample (the TABLESAMPLE analogue). Returns the view's DataFrame."""
        if filters is not None and sample_fraction is not None:
            raise ValueError("pass filters or sample_fraction, not both")
        if sample_fraction is not None:
            df = self.sample(sample_fraction)
        elif filters is not None:
            df = self.read(filters)
        else:
            df = self.to_df()
        df.createOrReplaceTempView(name)
        return df

    def insert_into(self, df, merge_schema: bool = False) -> int:
        """INSERT INTO semantics (QbeastInsertToTest.scala paths): append
        ``df`` through the indexed write pipeline, reusing the table's
        existing indexed columns and cube size. Returns the log version."""
        from .writer import write_qbeast

        rev = self.snapshot(refresh=True).latest_revision()
        if rev is None:
            raise ValueError(
                f"{self.path} has no indexed revision; use write() first")
        specs = [f"{s.name}:{s.transformer}" if s.transformer else s.name
                 for s in rev.column_specs]
        version = write_qbeast(df, self.path,
                               columns_to_index=specs,
                               cube_size=rev.desired_cube_size,
                               mode="append", merge_schema=merge_schema)
        self._snapshot = None
        return version

    def where(self, predicate):
        """Alias for ``read(predicate)`` with a SQL WHERE string or a
        Spark Column — the familiar DataFrame verb, with file pruning."""
        return self.read(predicate)

    def export_delta_log(self) -> str:
        """Write a standard ``_delta_log/`` describing the current
        snapshot so Delta clients (delta-rs, DuckDB delta, delta-spark)
        can read the data files — see sources/delta_export.py."""
        from .delta_export import export_delta_log

        return export_delta_log(self.snapshot(refresh=True), self.path)

    # -- maintenance --------------------------------------------------------

    def optimize(self, fraction: float = 1.0,
                 revision_id: Optional[int] = None,
                 file_paths: Optional[Sequence[str]] = None,
                 columns_to_index: Optional[Sequence[str]] = None,
                 cube_size: Optional[int] = None) -> Optional[int]:
        """O1 — re-layout selected (or all) files against the current index;
        also indexes any staging (revision 0) files."""
        from .optimize import optimize_table

        version = optimize_table(self.spark, self.path, fraction=fraction,
                                 revision_id=revision_id,
                                 file_paths=file_paths,
                                 columns_to_index=columns_to_index,
                                 cube_size=cube_size)
        self._snapshot = None
        return version

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                min_file_bytes: Optional[int] = None,
                revision_id: Optional[int] = None) -> Optional[int]:
        """Bin-pack small files without re-indexing (sources/compact.py);
        purges deletion vectors along the way."""
        from .compact import compact_table

        version = compact_table(self.spark, self.path,
                                target_file_bytes=target_file_bytes,
                                min_file_bytes=min_file_bytes,
                                revision_id=revision_id)
        self._snapshot = None
        return version

    def maintain(self, **kwargs) -> dict:
        """Threshold-driven maintenance loop (sources/maintenance.py):
        index the staging backlog, compact small files, optional vacuum."""
        from .maintenance import auto_maintain

        report = auto_maintain(self.spark, self.path, **kwargs)
        self._snapshot = None
        return report

    def append_staging(self, df) -> int:
        """Staging lane: append non-indexed files (revision 0)."""
        from .optimize import write_staging

        version = write_staging(df, self.path)
        self._snapshot = None
        return version

    # -- introspection ------------------------------------------------------

    def viz(self, out_dir: Optional[str] = None,
            revision_id: Optional[int] = None,
            fraction: float = 0.02) -> Dict[str, Any]:
        """qviz parity (reference utils/visualizer/qviz/qviz.py:14-77):
        per-revision cube tree with sampled-cube highlighting. Returns
        the tree as plain data (functions/viz.cube_tree) and, when
        ``out_dir`` is given, also writes ``index_tree.json`` (full
        fidelity) and ``index_tree.html`` (self-contained static SVG —
        no dash/server needed) there, adding their paths under
        ``"json_path"``/``"html_path"``."""
        from ..functions import viz as _viz

        snap = self.snapshot(refresh=True)
        tree = _viz.cube_tree(snap, revision_id, fraction)
        if out_dir:
            json_path = _viz.export_json(
                snap, os.path.join(out_dir, "index_tree.json"),
                tree=tree)
            html_path = _viz.export_html(
                snap, os.path.join(out_dir, "index_tree.html"),
                tree=tree)
            tree = dict(tree, json_path=json_path, html_path=html_path)
        return tree

    def index_metrics(self) -> Dict[str, Any]:
        """O5 — IndexMetrics.scala:26-137 analogue over the block metadata."""
        snap = self.snapshot(refresh=True)
        blocks = snap.all_blocks()
        if not blocks:
            return {"files": 0, "blocks": 0, "rows": 0}
        depths = [parse_cube(b.cube)[0] for _, _, b in blocks]
        counts = [b.count for _, _, b in blocks]
        cubes = {b.cube for _, _, b in blocks}
        per_level: Dict[int, int] = {}
        for d, c in zip(depths, counts):
            per_level[d] = per_level.get(d, 0) + c
        # tree-shape stats (IndexMetrics.scala:26-137: height, fanout,
        # per-level counts, leaf detection): all O(#cubes) driver work.
        rev = snap.latest_revision()
        dims = rev.dims if rev else 1
        cube_keys = {parse_cube(c) for c in cubes}
        cubes_per_level: Dict[int, int] = {}
        for d, _p in cube_keys:
            cubes_per_level[d] = cubes_per_level.get(d, 0) + 1
        children: Dict[Tuple[int, int], int] = {}
        for d, p in cube_keys:
            if d > 0:
                parent = (d - 1, p & ((1 << (dims * (d - 1))) - 1))
                children[parent] = children.get(parent, 0) + 1
        inner = [k for k in cube_keys if k in children]
        leaves = len(cube_keys) - len(inner)
        return {
            "files": len(snap.files),
            "blocks": len(blocks),
            "cubes": len(cubes),
            "rows": sum(counts),
            "height": max(depths) + 1,
            "leaf_cubes": leaves,
            "inner_cubes": len(inner),
            "avg_fanout": round(float(np.mean(
                [children[k] for k in inner])), 3) if inner else 0.0,
            "desired_cube_size": rev.desired_cube_size if rev else None,
            "avg_block_elements": float(np.mean(counts)),
            "cubes_per_level": dict(sorted(cubes_per_level.items())),
            "rows_per_level": dict(sorted(per_level.items())),
            "revisions": sorted(snap.revisions.keys()),
        }


def _query_space(rev: Revision, filters: Sequence[FilterTuple]
                 ) -> Optional[Tuple[List[float], List[float]]]:
    """Filters -> normalized [0,1] interval per indexed dimension
    (QuerySpecBuilder.scala:92-133; IN -> min/max relaxation
    QueryFiltersUtils.scala:165-204). Returns None when no indexed column is
    constrained (no pruning possible)."""
    lo = [0.0] * rev.dims
    hi = [1.0] * rev.dims
    constrained = False
    for col, op, val in filters:
        if col not in rev.column_names:
            continue
        i = rev.column_names.index(col)
        tr = rev.transformations[i]
        if isinstance(tr, HashTransformation):
            # hash space is unordered, so range predicates cannot prune —
            # but EQUALITY maps the literal to its exact point coordinate
            # (QuerySpecBuilder equality handling on hashed dimensions):
            # same murmur3 as the write-side F.hash, so the point lands in
            # precisely the cube chain that stored matching rows.
            # Only STRING columns: the driver-side twin hashes str(val),
            # while the write side hashed Spark's CAST(col AS STRING) —
            # the two diverge for bool/float/timestamp ('True' vs 'true'),
            # which would prune files that contain matches (ADVICE r1).
            # Non-string hashed dims conservatively skip the constraint.
            is_string_col = (i < len(rev.column_types)
                             and rev.column_types[i].lower() == "string")
            # foreign (reference-written) hash dims used a different hash
            # for their layout — never map literals to point coordinates
            if op.lower() in ("=", "==") and isinstance(val, str) \
                    and is_string_col and not tr.foreign:
                from ..core.weight import murmur3_string_hash

                h = murmur3_string_hash(val)
                coord = (h & 0x7FFFFFFF) / 2147483647.0
                lo[i] = max(lo[i], coord)
                hi[i] = min(hi[i], coord)
                constrained = True
            continue
        # NTZ timestamps normalize through the session tz; pad the interval
        # by the max utc offset (14h) so pruning never drops a file.
        pad = 0.0
        if i < len(rev.column_types) and \
                rev.column_types[i].lower().startswith("timestamp"):
            pad = 50_400_000.0
        op = op.lower()
        try:
            if op == "in":
                vals = [literal_to_number(v) for v in val]
                vlo, vhi = min(vals) - pad, max(vals) + pad
            else:
                v = literal_to_number(val)
                vlo = (v - pad) if op in (">", ">=", "=", "==") else None
                vhi = (v + pad) if op in ("<", "<=", "=", "==") else None
        except (TypeError, ValueError):
            continue
        if op == "in":
            nlo = float(tr.normalize(np.array([vlo]))[0])
            nhi = float(tr.normalize(np.array([vhi]))[0])
            lo[i] = max(lo[i], nlo)
            hi[i] = min(hi[i], nhi)
        else:
            if vlo is not None:
                lo[i] = max(lo[i], float(tr.normalize(np.array([vlo]))[0]))
            if vhi is not None:
                hi[i] = min(hi[i], float(tr.normalize(np.array([vhi]))[0]))
        constrained = True
    return (lo, hi) if constrained else None


def read_qbeast(spark, path: str,
                filters: Optional[Sequence[FilterTuple]] = None):
    qt = QbeastTable.for_path(spark, path)
    return qt.read(filters) if filters else qt.to_df()


def prune_files(snap: Snapshot,
                filters: Sequence[FilterTuple]) -> List[str]:
    """Keep files having >= 1 block whose cube region intersects the
    query space of the filters (QuerySpace.intersectsWith:81-97), then
    apply per-file column-stats / Bloom skipping. Module-level (needs no
    SparkSession) so the Python Data Source planner (sources/pyds.py)
    prunes with the exact same logic as QbeastTable. Runs over
    ``FileKernel.view``: vectorized over a columnar base, the per-file
    objects of a JSON snapshot go through the kernel's tail lane."""
    return _prune_kernel(FileKernel.view(snap.files), snap, filters)


def sample_files(snap: Snapshot, fraction: float,
                 lower_bound: float = 0.0) -> List[str]:
    """Files owning >= 1 block whose weight range meets the sample's
    [lower_bound, fraction) weight window — the file list a sample read
    touches (the reference's TestUtils.checkFileFiltering:60-83). One
    vectorized pass over the base block arrays, then an early-exit walk
    of the object tail (cheaper there than building its arrays)."""
    kernel = FileKernel.view(snap.files)
    w_to = fraction_to_weight(fraction)
    w_from = fraction_to_weight(lower_bound)
    bmask = kernel.alive[kernel.b_file] \
        & (kernel.b_minw < w_to) & (kernel.b_maxw >= w_from)
    selected = [kernel.paths[i] for i in np.unique(kernel.b_file[bmask])]
    for rel, f in kernel.tail.items():
        for b in f.blocks:
            if b.min_weight < w_to and b.max_weight >= w_from:
                selected.append(rel)
                break
    return selected


def sample_hash_columns(snap: Snapshot, revision_id: int,
                        latest_columns: Sequence[str]) -> Sequence[str]:
    """Columns whose hash a sample's row-level weight filter uses for a
    file of ``revision_id`` (found by the golden-fixture parity test): a
    file's block weights came from ITS revision's column hash, and
    filtering through the latest revision's hash under-samples any
    revision indexing different columns (imported reference tables).
    Staging (revision 0) files carry no weights and use the latest
    revision's columns, deterministic and fraction-exact."""
    r = snap.revisions.get(revision_id)
    if revision_id and r is not None and r.column_names:
        return r.column_names
    return latest_columns


def _kernel_cmp_arrays(kind: str, mns, mxs, val):
    """The stats arrays to compare a filter literal against with EXACTLY
    the scalar path's (Python) semantics, or None when the scalar path
    raises TypeError (incomparable types never prune). NumPy compares
    int64 with float64 by rounding through float64, so an int/float pair
    outside float64's exact integer range compares as Python objects."""
    if isinstance(val, str):
        return (mns, mxs) if kind == "s" else None
    if not isinstance(val, (int, float)) or kind not in ("i", "f"):
        return None
    if isinstance(val, float):
        exact = kind == "f" or not len(mns) or max(
            -int(mns.min()), int(mxs.max())) <= 2 ** 53
    else:
        exact = -2 ** 63 <= val < 2 ** 63 if kind == "i" \
            else abs(val) <= 2 ** 53
    return (mns, mxs) if exact else (mns.astype(object),
                                     mxs.astype(object))


# (literal, file min, file max) -> the [min, max] range PROVES no row
# matches; the same comparisons as _stats_exclude
_CLAUSE_VIOL = {
    "=": lambda v, mn, mx: (v < mn) | (v > mx),
    "==": lambda v, mn, mx: (v < mn) | (v > mx),
    ">": lambda v, mn, mx: mx <= v,
    ">=": lambda v, mn, mx: mx < v,
    "<": lambda v, mn, mx: mn >= v,
    "<=": lambda v, mn, mx: mn > v,
}


def _kernel_clause_viol(kind, mns, mxs, present, op, val):
    """Vectorized single-clause violation mask over the base stats
    arrays (True = the file's [min,max] range PROVES no row matches),
    or None when the clause cannot prune. Mirrors _stats_exclude."""
    viol = _CLAUSE_VIOL.get(op)
    if viol is not None:
        arrs = _kernel_cmp_arrays(kind, mns, mxs, val)
        if arrs is None:
            return None
        mns, mxs = arrs
        if kind == "s":     # absent entries hold None: compare present
            v = np.zeros(len(mns), dtype=bool)
            idx = np.flatnonzero(present)
            v[idx] = [bool(viol(val, mns[i], mxs[i])) for i in idx]
            return v
        return present & viol(val, mns, mxs)
    if op == "in":
        try:
            vals = list(val)
        except TypeError:
            return None
        # an empty IN list matches nothing -> every file with recorded
        # stats for the column is excluded (scalar all([]) semantics)
        out = present.copy()
        for v in vals:
            sub = _kernel_clause_viol(kind, mns, mxs, present, "=", v)
            if sub is None:
                # scalar path: an incomparable member raises TypeError
                # and the whole clause is skipped
                return None
            out &= sub
        return out
    return None


def _prune_kernel(kernel, snap: Snapshot,
                  filters: Sequence[FilterTuple]) -> List[str]:
    """prune_files over a FileKernel: cube intersection vectorized on
    the pre-parsed (depth, path) block arrays, stats skipping vectorized
    per filter clause, Bloom checks only on the survivors. The object
    tail (post-checkpoint adds, or a whole JSON snapshot's files) gets
    its cube test vectorized over ``tail_arrays`` and the per-file
    scalar stats / Bloom checks."""
    alive = kernel.alive
    n = len(kernel.paths)
    keep_mask = np.zeros(n, dtype=bool)
    space_by_rev: Dict[int, object] = {}
    for rid in np.unique(kernel.revision_ids[alive]):
        rid = int(rid)
        fmask = alive & (kernel.revision_ids == rid)
        # only files with >= 1 block participate (zero-block files are
        # never kept, base or tail)
        blocked = np.unique(kernel.b_file[fmask[kernel.b_file]])
        rev = snap.revisions.get(rid)
        if rev is None or rev.is_staging:
            keep_mask[blocked] = True       # cannot prune staging
            space_by_rev[rid] = None
            continue
        space = _query_space(rev, filters)
        space_by_rev[rid] = (rev, space)
        if space is None:           # no indexed-column predicate
            keep_mask[blocked] = True
            continue
        lo, hi = space
        bmask = fmask[kernel.b_file]
        frm, to = cube_ranges(kernel.b_depth[bmask],
                              kernel.b_path[bmask], rev.dims)
        inter = np.ones(int(bmask.sum()), dtype=bool)
        for i in range(rev.dims):
            inter &= (frm[:, i] <= hi[i]) & (to[:, i] >= lo[i])
        keep_mask[np.unique(kernel.b_file[bmask][inter])] = True
    # vectorized Delta-style stats skipping (same semantics as
    # _stats_exclude; kind None = mixed/unsupported, never prunes)
    excl = np.zeros(n, dtype=bool)
    for t in filters:
        col, op, val = t[0], t[1], (t[2] if len(t) > 2 else None)
        ent = kernel.stats.get(col)
        if ent is None:
            continue
        kind, mns, mxs, present = ent
        if kind is None:
            continue
        v = _kernel_clause_viol(kind, mns, mxs, present, op, val)
        if v is not None:
            excl |= v
    keep_mask &= ~excl
    out = []
    for i in np.flatnonzero(keep_mask):
        p = kernel.paths[i]
        bj = kernel.blooms_json[i]
        if bj and blooms_exclude(json.loads(bj), filters):
            continue
        out.append(p)
    # object tail, vectorized over the kernel's cached tail arrays (one
    # cube_ranges call per revision — a per-file loop here measured as
    # THE prune bottleneck at soak scale). Zero-block files never
    # survive, like zero-block base files.
    tfiles, trevs, tb_file, tb_depth, tb_path = kernel.tail_arrays()
    if len(tfiles):
        tkeep = np.zeros(len(tfiles), dtype=bool)
        for rid in np.unique(trevs):
            rid = int(rid)
            fmask = trevs == rid
            bmask = fmask[tb_file]
            blocked = np.unique(tb_file[bmask])
            rev_space = space_by_rev.get(rid, ...)
            if rev_space is ...:
                rev = snap.revisions.get(rid)
                rev_space = None if (rev is None or rev.is_staging) \
                    else (rev, _query_space(rev, filters))
                space_by_rev[rid] = rev_space
            if rev_space is None or rev_space[1] is None:
                tkeep[blocked] = True
                continue
            rev, space = rev_space
            lo, hi = space
            frm, to = cube_ranges(tb_depth[bmask], tb_path[bmask],
                                  rev.dims)
            inter = np.ones(int(bmask.sum()), dtype=bool)
            for i in range(rev.dims):
                inter &= (frm[:, i] <= hi[i]) & (to[:, i] >= lo[i])
            tkeep[np.unique(tb_file[bmask][inter])] = True
        for i in np.flatnonzero(tkeep):
            f = tfiles[i]
            if _stats_exclude(f, filters) \
                    or blooms_exclude(f.blooms, filters):
                continue
            out.append(f.path)
    return sorted(out)


def _timestamp_to_ms(ts) -> int:
    """epoch ms / datetime / ISO-8601 string -> epoch millis (naive
    strings are taken as UTC, like spark.sql.session.timeZone=UTC)."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        return int(ts)
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    raise TypeError(f"unsupported timestamp {ts!r}")
