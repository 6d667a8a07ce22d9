"""Deterministic TSR head: det boxes → (polygons, logical axes).

The reference's imaged-table path runs a trained structure model
(CenterNet/LORE, ``base_infer_task.py:311-315`` dispatch) whose raw
output IS the (cell polygons, float logical axes) contract that
``core.logicell`` decodes. This module is the deterministic stand-in
for that model head — the piece that turns detected text boxes into
the contract — so the whole artifact→structure→grid→HTML chain runs
with no pre-filled fixture structure:

  * row/column clustering of det-box centers (the "row/column
    clustering and span-merge heuristics" family; tolerance = half the
    median box height/width, mirroring ``merge_close_lines`` style
    grouping);
  * a linear head over (col_idx, row_idx, 1) per box through a 3x4
    weights matrix (loaded from a ``.npz`` artifact and broadcast by
    ``spark.model_stage.score_table_structure``) emits the float
    (left, right, top, bottom) logical axes — the default weights put
    every axis exactly .5 above its integer, pinning
    ``process_logic_output``'s strictly-greater-than-.5 rounding
    (``lineless_table_process.py:661-666``);
  * one polygon per occupied (row, col) cell from the cluster band
    edges.

Pure functions — shared verbatim by the Spark Arrow stage and the
single-process fixture oracle, with the arithmetic simple enough to
hand-check (tests pin a worked example).
"""

from __future__ import annotations

from statistics import median

# default 3x4 head: rows = (col_idx, row_idx, bias); cols =
# (left, right, top, bottom) float logical axes. The .5 bias row is
# deliberate: exact .5 must round DOWN through round_logi.
TSR_WEIGHTS = [
    [1.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 1.0],
    [0.5, 0.5, 0.5, 0.5],
]

TSR_VERSION = "tsr-centernet-v1"


def _cluster_1d(centers: list[float], tol: float) -> list[float]:
    """Single-linkage 1-D clustering: sorted centers chain into one
    cluster while consecutive gaps are <= tol. Returns the sorted
    cluster representatives (means)."""
    if not centers:
        return []
    ordered = sorted(centers)
    groups: list[list[float]] = [[ordered[0]]]
    for c in ordered[1:]:
        if c - groups[-1][-1] <= tol:
            groups[-1].append(c)
        else:
            groups.append([c])
    return [sum(g) / len(g) for g in groups]


def _nearest(reps: list[float], v: float) -> int:
    """Index of the nearest representative (first wins ties)."""
    best, best_d = 0, abs(v - reps[0])
    for i, r in enumerate(reps[1:], 1):
        d = abs(v - r)
        if d < best_d:
            best, best_d = i, d
    return best


def grid_assign(det_cells: list[dict]) -> list[tuple[int, int]]:
    """Cluster det-box centers into a (row, col) grid. Tolerance is
    half the median box height (rows) / width (cols) — boxes in the
    same visual band land in the same cluster, separate bands stay
    separate."""
    if not det_cells:
        return []
    cy = [(d["y0"] + d["y1"]) / 2.0 for d in det_cells]
    cx = [(d["x0"] + d["x1"]) / 2.0 for d in det_cells]
    row_tol = median([d["y1"] - d["y0"] for d in det_cells]) / 2.0
    col_tol = median([d["x1"] - d["x0"] for d in det_cells]) / 2.0
    rows = _cluster_1d(cy, row_tol)
    cols = _cluster_1d(cx, col_tol)
    return [(_nearest(rows, y), _nearest(cols, x))
            for y, x in zip(cy, cx)]


def structure_from_dets(det_cells: list[dict], weights) -> dict:
    """The model head: det boxes → {"polygons": [...], "logi": [...]}
    (the core.logicell input contract). One unit per OCCUPIED (row,
    col) cell — first det in model order claims the cell; the cell's
    polygon spans the cluster band (min/max extent of the cell's
    members); the float logical axes come from the linear head."""
    assign = grid_assign(det_cells)
    seen: dict[tuple[int, int], list[int]] = {}
    for i, rc in enumerate(assign):
        seen.setdefault(rc, []).append(i)

    polygons, logi = [], []
    for (r, c), members in seen.items():
        x0 = min(det_cells[i]["x0"] for i in members)
        y0 = min(det_cells[i]["y0"] for i in members)
        x1 = max(det_cells[i]["x1"] for i in members)
        y1 = max(det_cells[i]["y1"] for i in members)
        polygons.append([x0, y0, x1, y0, x1, y1, x0, y1])
        feats = (float(c), float(r), 1.0)
        logi.append([
            sum(f * w for f, w in zip(feats, col_w))
            for col_w in zip(*weights)
        ])
    return {"polygons": polygons, "logi": logi}


def extract_page_from_model(payload: dict, weights,
                            post_process: bool = True):
    """One ocr_page payload end-to-end THROUGH the head: infer the
    structure from the det boxes (ignoring any pre-filled fixture
    structure — this is the from-model path), then decode via the
    existing core.logicell route. Returns the table HTML ('' when the
    page has no dets)."""
    from .logicell import extract_logi_table

    dets = payload.get("det_cells") or []
    if not dets:
        return ""
    table = structure_from_dets(dets, weights)
    html, _used = extract_logi_table(table, dets, post_process)
    return html or ""
