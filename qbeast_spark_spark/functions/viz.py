"""Index visualizer — qviz parity (VERDICT r9 Next #6).

The reference ships ``utils/visualizer/qviz`` (qviz.py:14-77,
content_loader.py:10-125): per-revision OTree cube tree rendered as an
interactive graph with per-cube maxWeight labels, sampled-cube
highlighting for a chosen fraction, and a SamplingInfo summary
(sampled rows/bytes vs total). That tool needs dash/dash-cytoscape and
a live server; this engine exports the same content dependency-free:

- ``cube_tree``: the per-revision tree as plain data — cube id, depth,
  parent, normalized min/max weight (reference Block.normalize_weight,
  block.py:39-49: clamp((w - INT_MIN)/RANGE, 0, 1) to 3 decimals),
  element count, block count, file list, byte size, and (optionally)
  the sampled flag at a fraction (block.is_sampled, block.py:66-73:
  normalized minWeight <= fraction);
- ``sampling_info``: the SamplingInfo block (sampling_info.py:7-29) —
  sampled/total rows and bytes with percentages;
- ``export_json`` / ``export_html``: static artifacts — full-fidelity
  JSON, and a self-contained SVG tree (no JS dependencies; sampled
  cubes highlighted, maxWeight labels, the sampling summary inlined).

Everything is metadata-bounded driver work over the snapshot — the
same shape as ``index_metrics``; no data is scanned. The block walk
runs over ``FileKernel.view`` (base arrays plus the object tail, one
pandas groupby — a format-2 snapshot's LazyFiles facade is never
materialized, so it keeps its vectorized pruning path); parent links
are derived arithmetically from the (depth, path-int) encoding instead
of the reference's per-level O(n^2) prefix scan.
"""

from __future__ import annotations

import html as _html
import json
import os
from typing import Any, Dict, List, Optional

import numpy as np

from ..core.cube import parse_cube
from ..core.weight import INT_MIN, RANGE
from ..sources.metadata import FileKernel

__all__ = ["cube_tree", "sampling_info", "export_json", "export_html"]

_ROOT = "0:0"


def _norm_arr(w):
    """Weight -> NormalizedWeight, vectorized — reference
    Block.normalize_weight (block.py:39-49): core weight_to_fraction
    ((w - INT_MIN) / RANGE) clamped to [0, 1], 3 decimals."""
    return np.round(np.clip((w - INT_MIN) / RANGE, 0.0, 1.0), 3)


def _block_frame(kernel, revision_id: int):
    """(block rows, file_meta) of one revision off the FileKernel arrays
    plus a walk of its object tail — no IndexFile materialization, no
    LazyFiles drop."""
    import pandas as pd

    m_file = kernel.alive & (kernel.revision_ids == revision_id)
    m_blk = m_file[kernel.b_file]
    df = pd.DataFrame({
        "cube": kernel.b_cube[m_blk],
        "minw": kernel.b_minw[m_blk],
        "maxw": kernel.b_maxw[m_blk],
        "count": kernel.b_count[m_blk],
        "path": kernel.paths[kernel.b_file[m_blk]],
    })
    file_meta = {p: (int(s), int(r)) for p, s, r in
                 zip(kernel.paths[m_file], kernel.sizes[m_file],
                     kernel.rows[m_file])}
    rows = [[], [], [], [], []]
    for f in kernel.tail.values():
        if f.revision_id != revision_id:
            continue
        file_meta[f.path] = (f.size, f.rows)
        for b in f.blocks:
            rows[0].append(b.cube)
            rows[1].append(b.min_weight)
            rows[2].append(b.max_weight)
            rows[3].append(b.count)
            rows[4].append(f.path)
    if rows[0]:
        df = pd.concat([df, pd.DataFrame(dict(zip(df.columns, rows)))],
                       ignore_index=True)
    return df, file_meta


def cube_tree(snapshot, revision_id: Optional[int] = None,
              fraction: Optional[float] = None) -> Dict[str, Any]:
    """Per-revision cube tree (content_loader.process_table parity).

    Returns ``{"revision_id", "dimensions", "columns", "cubes": {cube ->
    {depth, parent, children, max_weight, min_weight, element_count,
    blocks, files, size_bytes[, sampled]}}, ["sampling_info"]}``.
    ``max_weight`` is the MIN over the cube's blocks' normalized max
    weights and ``element_count`` the sum, exactly the reference's
    Cube.add folding (cube.py:22-26). ``revision_id`` defaults to the
    snapshot's latest non-staging revision."""
    revs = getattr(snapshot, "revisions", {}) or {}
    if revision_id is None:
        non_staging = [r for r in revs if r != 0]
        if not non_staging:
            raise ValueError("table has no indexed revision to visualize")
        revision_id = max(non_staging)
    rev = revs.get(revision_id)
    if rev is None:
        raise ValueError(
            f"no revision {revision_id}; available: {sorted(revs)}")
    dims = rev.dims

    df, file_meta = _block_frame(FileKernel.view(snapshot.files),
                                 revision_id)

    cubes: Dict[str, Dict[str, Any]] = {}
    if len(df):
        df["minw_n"] = _norm_arr(df["minw"].to_numpy())
        df["maxw_n"] = _norm_arr(df["maxw"].to_numpy())
        g = df.groupby("cube", sort=False)
        agg = g.agg(max_weight=("maxw_n", "min"),
                    min_weight=("minw_n", "min"),
                    element_count=("count", "sum"),
                    blocks=("count", "size"))
        files_of = (df.drop_duplicates(["cube", "path"])
                    .groupby("cube", sort=False)["path"].agg(list))
        for t in agg.itertuples():       # iterrows costs 10-50x more
            files = sorted(files_of[t.Index])
            c = {
                "depth": parse_cube(t.Index)[0],
                "parent": None,
                "children": [],
                "max_weight": float(t.max_weight),
                "min_weight": float(t.min_weight),
                "element_count": int(t.element_count),
                "blocks": int(t.blocks),
                "files": files,
                "size_bytes": sum(file_meta[p][0] for p in files),
            }
            if fraction is not None:
                # block.is_sampled: normalized minWeight <= fraction
                c["sampled"] = bool(t.min_weight <= fraction)
            cubes[t.Index] = c

    # parent/child links, arithmetic over (depth, path-int): the parent
    # of (d, p) drops the last dims bits of the path
    for cid, c in cubes.items():
        d, p = parse_cube(cid)
        if d == 0:
            continue
        parent = f"{d - 1}:{p & ((1 << (dims * (d - 1))) - 1):x}"
        c["parent"] = parent
        pc = cubes.get(parent)
        if pc is not None:
            pc["children"].append(cid)
    for c in cubes.values():
        c["children"].sort(key=parse_cube)

    out: Dict[str, Any] = {
        "revision_id": revision_id,
        "dimensions": dims,
        "columns": list(rev.column_names),
        "cube_count": len(cubes),
        "cubes": dict(sorted(cubes.items(),
                             key=lambda kv: parse_cube(kv[0]))),
    }
    if fraction is not None:
        out["sampling_info"] = sampling_info(cubes, file_meta, fraction)
    return out


def sampling_info(cubes: Dict[str, Dict[str, Any]], file_meta,
                  fraction: float) -> Dict[str, Any]:
    """SamplingInfo parity (sampling_info.py:7-54): totals over the
    revision's files, sampled = files owning at least one sampled-cube
    block."""
    sampled_files = set()
    all_files = set()
    for c in cubes.values():
        all_files.update(c["files"])
        if c.get("sampled"):
            sampled_files.update(c["files"])
    total_rows = sum(file_meta[p][1] for p in all_files)
    total_bytes = sum(file_meta[p][0] for p in all_files)
    s_rows = sum(file_meta[p][1] for p in sampled_files)
    s_bytes = sum(file_meta[p][0] for p in sampled_files)
    return {
        "fraction": fraction,
        "total_rows": total_rows, "sampled_rows": s_rows,
        "total_bytes": total_bytes, "sampled_bytes": s_bytes,
        "sampled_files": len(sampled_files), "total_files": len(all_files),
        "rows_pct": round(100.0 * s_rows / total_rows, 2)
        if total_rows else -1.0,
        "bytes_pct": round(100.0 * s_bytes / total_bytes, 2)
        if total_bytes else -1.0,
    }


def export_json(snapshot, out_path: str,
                revision_id: Optional[int] = None,
                fraction: Optional[float] = None,
                tree: Optional[Dict[str, Any]] = None) -> str:
    """Write ``cube_tree`` as JSON; returns the path. Pass a prebuilt
    ``tree`` to skip recomputing it."""
    if tree is None:
        tree = cube_tree(snapshot, revision_id, fraction)
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(tree, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return out_path


# -- static SVG rendering ---------------------------------------------------

_MAX_SVG_CUBES = 4000        # beyond this a tree diagram is unreadable
_X_STEP, _Y_STEP, _R = 56, 90, 14


def _layout(tree: Dict[str, Any]) -> Dict[str, tuple]:
    """Tidy-ish layout: leaves get consecutive x slots in cube order,
    every inner cube centers over its children. Returns cube -> (x, y)
    in abstract grid units."""
    cubes = tree["cubes"]
    pos: Dict[str, tuple] = {}
    next_x = [0]

    def place(cid: str) -> float:
        c = cubes[cid]
        kids = [k for k in c["children"] if k in cubes]
        if kids:
            xs = [place(k) for k in kids]
            x = (min(xs) + max(xs)) / 2.0
        else:
            x = float(next_x[0])
            next_x[0] += 1
        pos[cid] = (x, c["depth"])
        return x

    roots = [cid for cid, c in cubes.items()
             if c["parent"] is None or c["parent"] not in cubes]
    for r in sorted(roots, key=parse_cube):
        place(r)
    return pos


def export_html(snapshot, out_path: str,
                revision_id: Optional[int] = None,
                fraction: float = 0.02,
                tree: Optional[Dict[str, Any]] = None) -> str:
    """Self-contained HTML/SVG view of the cube tree: one circle per
    cube labeled with its normalized maxWeight (the reference graph's
    node label, qviz.py:60-66), sampled cubes at ``fraction``
    highlighted, edges to children, SamplingInfo summary inlined.
    Dependency-free static file; returns the path. Pass a prebuilt
    ``tree`` to skip recomputing it."""
    if tree is None:
        tree = cube_tree(snapshot, revision_id, fraction)
    cubes = tree["cubes"]
    truncated = 0
    if len(cubes) > _MAX_SVG_CUBES:
        # keep the shallowest cubes (the informative structure); the
        # JSON export stays full-fidelity
        keep = dict(sorted(cubes.items(),
                           key=lambda kv: parse_cube(kv[0])
                           )[:_MAX_SVG_CUBES])
        truncated = len(cubes) - len(keep)
        tree = dict(tree, cubes=keep)
        cubes = keep
    pos = _layout(tree)
    if pos:
        w = int((max(x for x, _ in pos.values()) + 1) * _X_STEP) + _X_STEP
        h = int((max(y for _, y in pos.values()) + 1) * _Y_STEP) + _Y_STEP
    else:
        w = h = _X_STEP

    def _px(cid):
        x, y = pos[cid]
        return (x + 0.5) * _X_STEP, (y + 0.5) * _Y_STEP

    parts: List[str] = []
    for cid, c in cubes.items():
        if c["parent"] in pos:
            x1, y1 = _px(c["parent"])
            x2, y2 = _px(cid)
            cls = "sampled" if c.get("sampled") else "edge"
            parts.append(f'<line class="{cls}" x1="{x1:.0f}" y1="{y1:.0f}"'
                         f' x2="{x2:.0f}" y2="{y2:.0f}"/>')
    for cid, c in cubes.items():
        x, y = _px(cid)
        cls = "sampled" if c.get("sampled") else "cube"
        name = "root" if cid == _ROOT else cid
        tip = (f"{name} | depth {c['depth']} | maxWeight "
               f"{c['max_weight']} | rows {c['element_count']} | "
               f"{c['blocks']} block(s) in {len(c['files'])} file(s)")
        parts.append(
            f'<g><circle class="{cls}" cx="{x:.0f}" cy="{y:.0f}" '
            f'r="{_R}"><title>{_html.escape(tip)}</title></circle>'
            f'<text x="{x:.0f}" y="{y + _R + 12:.0f}">'
            f'{c["max_weight"]}</text></g>')

    si = tree.get("sampling_info", {})
    summary = (
        f"revision {tree['revision_id']} | dims {tree['dimensions']} "
        f"({', '.join(tree['columns'])}) | {tree['cube_count']} cubes"
        + (f" | showing first {len(cubes)} ({truncated} truncated; "
           f"JSON export is complete)" if truncated else ""))
    s2 = (f"sampling fraction {si['fraction']}: rows "
          f"{si['sampled_rows']}/{si['total_rows']} ({si['rows_pct']}%), "
          f"bytes {si['sampled_bytes']}/{si['total_bytes']} "
          f"({si['bytes_pct']}%), files {si['sampled_files']}/"
          f"{si['total_files']}") if si else ""
    doc = f"""<!doctype html>
<html><head><meta charset="utf-8"><title>qbeast index tree</title>
<style>
 body {{ font: 13px sans-serif; margin: 16px; }}
 svg text {{ font: 10px sans-serif; text-anchor: middle; }}
 circle.cube {{ fill: #d9d9d9; stroke: #666; }}
 circle.sampled {{ fill: #3366cc; stroke: #1a3a80; }}
 line.edge {{ stroke: #bbb; }}
 line.sampled {{ stroke: #3366cc; stroke-width: 2; }}
</style></head><body>
<h3>OTree index</h3>
<p>{_html.escape(summary)}</p>
<p>{_html.escape(s2)}</p>
<svg width="{w}" height="{h}" viewBox="0 0 {w} {h}">
{os.linesep.join(parts)}
</svg></body></html>
"""
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write(doc)
    return out_path
