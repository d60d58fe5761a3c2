"""Policy-driven table maintenance: one call that keeps an ingest-heavy
table healthy.

Streaming / micro-batch ingest fragments a table three ways: staging
files pile up un-indexed (the cheap write lane), indexed files arrive
under-sized, and rewrite verbs (DML, optimize, compaction) strand old
files on disk. The reference leaves the scheduling to the user (separate
optimize() calls — IndexedTable.scala:399-552); ``auto_maintain`` packages
the standard policy loop so a foreachBatch sink can call one verb every N
batches:

1. staging backlog -> optimize (index the plain files) once it crosses
   ``max_staging_rows``;
2. revision sprawl -> consolidate: appends that widen the indexed space
   mint a new revision each time (SparkRevisionFactory.scala:230-270), so
   append-heavy ingest strands files across many narrow revisions — files
   outside the latest revision can never be optimized by fraction nor
   binned together by compaction. Once live non-staging revisions exceed
   ``max_revisions``, every old-revision file is re-indexed into the
   latest revision (always valid: revision spaces only ever widen, so
   the newest space covers all older data);
3. small-file count -> compact_table (bin-pack, no re-index) once it
   crosses ``max_small_files``;
4. optionally vacuum files dropped before ``vacuum_retention_hours``.

Every step is itself a metadata-bounded driver decision: thresholds are
evaluated against the snapshot through ``FileKernel.view``
(sources/metadata.py) — vectorized over a format-2 snapshot's arrays,
the kernel's tail walk for JSON snapshots — never by scanning data."""

from __future__ import annotations

from typing import Any, Dict, Optional

from ..core.revision import STAGING_REVISION_ID
from .compact import compact_table
from .log import CommitLog
from .metadata import FileKernel
from .optimize import optimize_table

__all__ = ["auto_maintain"]


def _staging_rows(snap) -> int:
    return FileKernel.view(snap.files).staging_rows_sum(STAGING_REVISION_ID)


def _staging_paths(snap):
    return FileKernel.view(snap.files).paths_in_revision(STAGING_REVISION_ID)


def _live_revisions(snap):
    return FileKernel.view(snap.files).live_revision_ids(STAGING_REVISION_ID)


def _old_revision_paths(snap, keep_rev: int):
    return FileKernel.view(snap.files).paths_excluding_revisions(
        (STAGING_REVISION_ID, keep_rev))


def _small_file_count(snap, small_file_bytes: int) -> int:
    return FileKernel.view(snap.files).small_file_count(small_file_bytes)


def auto_maintain(spark, path: str, *,
                  max_staging_rows: int = 1_000_000,
                  max_revisions: int = 3,
                  max_small_files: int = 8,
                  small_file_bytes: int = 32 * 1024 * 1024,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  vacuum_retention_hours: Optional[float] = None,
                  columns_to_index=None,
                  refresh_views=None) -> Dict[str, Any]:
    """Run whichever maintenance steps the table currently needs; returns
    a report of what ran (step -> committed version / file list, absent
    when the step was skipped). Safe to call unconditionally after every
    ingest batch — a healthy table costs one snapshot read.

    ``refresh_views``: continuous-aggregate view paths (sources/matview)
    to refresh after the maintenance steps — with ``maintain_every=N`` on
    the streaming sink this keeps materialized aggregates trailing the
    ingest by at most N micro-batches, at O(changed data) per refresh."""
    report: Dict[str, Any] = {}
    log = CommitLog(path)
    if not log.exists():
        return report
    snap = log.snapshot()

    # Threshold checks stay on the kernel arrays (format-2 snapshots):
    # a healthy table's policy check is O(arrays), never O(#files)
    # IndexFile objects — file paths are listed only when a step fires.
    if _staging_rows(snap) > max_staging_rows:
        v = optimize_table(spark, path,
                           file_paths=_staging_paths(snap),
                           columns_to_index=columns_to_index)
        if v is not None:
            report["optimize_staging"] = v
            snap = log.snapshot()

    live_revs = _live_revisions(snap)
    if len(live_revs) > max_revisions:
        old_files = _old_revision_paths(snap, live_revs[-1])
        v = optimize_table(spark, path, file_paths=old_files,
                           columns_to_index=columns_to_index)
        if v is not None:
            report["consolidate_revisions"] = v
            snap = log.snapshot()

    if _small_file_count(snap, small_file_bytes) >= max_small_files:
        v = compact_table(spark, path, target_file_bytes=target_file_bytes,
                          min_file_bytes=small_file_bytes)
        if v is not None:
            report["compact"] = v

    if refresh_views:
        from .matview import refresh_continuous_agg

        # BEFORE vacuum: views consume the pending change-feed range
        # first, because vacuum ages out _change_data sidecars — running
        # it first could delete exactly the changes an unrefreshed view
        # still needs, leaving the view permanently unrefreshable.
        # Per-view isolation: one broken view (e.g. an HLL aggregate hit
        # by a delete) must not crash the maintenance pass, skip vacuum,
        # or kill a streaming query that calls this from its sink.
        refreshed, errors = [], {}
        for v in refresh_views:
            try:
                if refresh_continuous_agg(spark, v).get("refreshed"):
                    refreshed.append(v)
            except Exception as e:      # noqa: BLE001 — reported, not lost
                errors[v] = str(e)
        if refreshed:
            report["refresh_views"] = refreshed
        if errors:
            report["refresh_view_errors"] = errors

    if vacuum_retention_hours is not None:
        if report.get("refresh_view_errors"):
            # a failed view has NOT consumed its pending change-feed
            # range; vacuuming now could age out exactly the
            # _change_data sidecars it still needs, making it
            # permanently unrefreshable (ADVICE r4, maintenance.py:104).
            # Skip this pass — vacuum resumes once every view refreshes.
            report["vacuum_skipped"] = "unrefreshed views hold the " \
                "change-feed range: " + ", ".join(
                    sorted(report["refresh_view_errors"]))
        else:
            from .reader import QbeastTable

            deleted = QbeastTable.for_path(spark, path).vacuum(
                retention_hours=vacuum_retention_hours)
            if deleted:
                report["vacuum"] = deleted
    return report
