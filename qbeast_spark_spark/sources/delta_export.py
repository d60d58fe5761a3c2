"""Delta-log export: make a qbeast table's snapshot readable by any Delta
Lake client (delta-rs, DuckDB delta extension, delta-spark) — and, when
the index is representable, by the REFERENCE qbeast engine itself, index
intact.

The reference persists its index metadata INSIDE a Delta log, so its
tables are Delta tables (delta/src/main/scala/io/qbeast/spark/delta/
DeltaQbeastSnapshot.scala:45-297). This engine's `_qbeast_log/` is
self-contained (delta-spark is unavailable in this container —
sources/log.py:1-19), so interop goes through this exporter, which writes
a standard `_delta_log/` next to `_qbeast_log/` with:

- protocol (reader v1) + metaData (parquet format, Spark schemaString);
- one add per live data file with size + numRecords + min/max stats;
- when every revision is faithfully representable (no hash dimensions —
  their layout hash differs between engines, see qbeast_format.py),
  the reference's own index metadata: ``qbeast.revision.N`` JSON in
  ``metaData.configuration`` and Block lists in ``add.tags``
  (docs/QbeastFormat.md:85-190), so a reference reader samples and
  prunes the exported table without re-indexing.

Exports are VERSIONED: each call appends log version N+1 with removes for
files no longer live plus adds for the current snapshot, so a Delta
client that already replayed version N sees a valid incremental history
(log files are never rewritten — Delta log immutability holds).

Scale note: O(#files) driver work and one JSON file per export — same
order as a Delta checkpoint commit; no data is rewritten or copied.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Dict, List, Optional

from ..core.cube import parse_cube

__all__ = ["export_delta_log", "DELTA_LOG_DIR"]

DELTA_LOG_DIR = "_delta_log"


def _existing_versions(log_dir: str) -> List[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(int(n[:-5]) for n in os.listdir(log_dir)
                  if n.endswith(".json") and n[:-5].isdigit())


def _qbeast_config_and_tags(snapshot, table_id: str):
    """(configuration dict, {path: tags dict}) carrying the reference's
    index metadata, or ({}, {}) when any revision is unrepresentable
    (hash dims — layout hash differs between engines, exporting the index
    would let a reference reader over-prune equality lookups)."""
    from .qbeast_format import encode_cube_string, revision_to_reference_json

    indexed = {rid: r for rid, r in snapshot.revisions.items() if rid > 0}
    if not indexed:
        return {}, {}
    config: Dict[str, str] = {}
    for rid, rev in sorted(indexed.items()):
        ref_json = revision_to_reference_json(rev, table_id)
        if ref_json is None:
            return {}, {}
        config[f"qbeast.revision.{rid}"] = json.dumps(ref_json,
                                                      sort_keys=True)
    config["qbeast.lastRevisionID"] = str(max(indexed))
    tags: Dict[str, dict] = {}
    for f in snapshot.files.values():
        if f.revision_id <= 0 or f.revision_id not in indexed:
            continue  # staging files stay un-tagged (hybrid-state rule)
        dims = max(indexed[f.revision_id].dims, 1)
        blocks = []
        for b in f.blocks:
            blocks.append({
                "cubeId": encode_cube_string(dims, *parse_cube(b.cube)),
                "minWeight": int(b.min_weight),
                "maxWeight": int(b.max_weight),
                "elementCount": int(b.count),
            })
        tags[f.path] = {"revision": str(f.revision_id),
                        "blocks": json.dumps(blocks)}
    return config, tags


def export_delta_log(snapshot, table_path: str,
                     include_index: bool = True) -> str:
    """Append one Delta log version describing ``snapshot``'s live files;
    returns the written path. The first export writes version 0; each
    subsequent export appends version N+1 (removes for vanished files +
    adds for the snapshot), so incremental Delta readers replay a
    consistent history. ``include_index=False`` forces a plain-parquet
    manifest even when the index is representable."""
    log_dir = os.path.join(table_path, DELTA_LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    now = int(time.time() * 1000)
    # deterministic table id: re-exports keep the same identity
    table_id = hashlib.sha256(
        os.path.abspath(table_path).encode()).hexdigest()[:32]

    versions = _existing_versions(log_dir)
    next_v = (versions[-1] + 1) if versions else 0
    previously_live: List[str] = []
    if versions:
        from .delta_import import _snapshot_state

        _, _, prev_files, _ = _snapshot_state(table_path)
        previously_live = list(prev_files)

    config: Dict[str, str] = {}
    tags: Dict[str, dict] = {}
    if include_index:
        config, tags = _qbeast_config_and_tags(snapshot, table_id)
    # CHECK constraints export in Delta's own configuration convention
    # (delta.constraints.<name>), so a Delta engine writing to the
    # exported table keeps enforcing them (protocol gated below)
    from .constraints import DELTA_CONSTRAINT_PREFIX, constraints_of

    exported_constraints = constraints_of(snapshot.properties)
    config.update({f"{DELTA_CONSTRAINT_PREFIX}{n}": e
                   for n, e in exported_constraints.items()})

    # files carrying deletion vectors require the feature-gated protocol
    # (Delta spec: DV tables are readerVersion 3 / writerVersion 7 with
    # the deletionVectors feature listed); DV-free snapshots keep the
    # most-compatible legacy protocol. CHECK constraints gate the WRITER
    # version (spec: writer v3+, or the checkConstraints table feature) —
    # without the gate a protocol-2 writer could legally append rows that
    # violate the exported constraints.
    has_dvs = any(getattr(f, "dv", None) for f in snapshot.files.values())
    if has_dvs:
        wf = ["deletionVectors"] + (
            ["checkConstraints"] if exported_constraints else [])
        protocol = {"minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": wf}
    else:
        protocol = {"minReaderVersion": 1,
                    "minWriterVersion": 3 if exported_constraints else 2}

    actions: List[dict] = [
        {"commitInfo": {"timestamp": now, "operation": "WRITE",
                        "operationParameters": {"mode": "Overwrite"},
                        "engineInfo": "qbeast-spark-spark-export"}},
        {"protocol": protocol},
        {"metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": snapshot.schema_json or "{}",
            "partitionColumns": [],
            "configuration": config,
            "createdTime": now,
        }},
    ]
    for rel in previously_live:
        if rel not in snapshot.files:
            actions.append({"remove": {"path": rel,
                                       "deletionTimestamp": now,
                                       "dataChange": True}})
    for f in snapshot.files.values():
        stats = {"numRecords": int(f.rows)}
        cs = getattr(f, "column_stats", None)
        if cs:     # Delta data-skipping stats: external readers can prune
            stats["minValues"] = {c: v[0] for c, v in cs.items()}
            stats["maxValues"] = {c: v[1] for c, v in cs.items()}
        add = {
            "path": f.path,
            "partitionValues": {},
            "size": int(f.size),
            "modificationTime": now,
            "dataChange": True,
            "stats": json.dumps(stats),
        }
        if f.path in tags:
            add["tags"] = tags[f.path]
        if getattr(f, "dv", None):
            # the sidecar already lives in the table dir in Delta's .bin
            # framing with the UUID naming — the descriptor exports as-is
            add["deletionVector"] = dict(f.dv)
            stats["numRecords"] = int(f.rows)   # physical rows, per spec
            add["stats"] = json.dumps(stats)
        actions.append({"add": add})
    target = os.path.join(log_dir, f"{next_v:020d}.json")
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, sort_keys=True) + "\n")
    os.replace(tmp, target)
    return target
