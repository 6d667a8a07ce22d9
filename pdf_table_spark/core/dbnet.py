"""DBNet deterministic postprocess: probability map → text boxes.

The reference's text-detection path runs a trained DBNet whose raw
output is a per-pixel text-probability map; everything AFTER the
forward pass is deterministic postprocessing — binarize, find
connected ink regions, min-area rectangle, score, ``unclip`` polygon
expansion, rescale — implemented there with cv2/pyclipper/shapely
(``model/db_pp/processor_ocr_db_pp.py:148-240`` DBPostProcess;
``model/db_net/ocr_detection_utils.py:144-234`` boxes_from_bitmap /
unclip / get_mini_boxes / box_score_fast). This module is a
clean-room numpy re-derivation of that deterministic half, so the
model seam can run probability-map → boxes with NO planted det_cells:

  * connected regions — two-pass 8-connectivity labeling over the
    binarized map (replaces ``cv2.findContours``), regions emitted in
    row-major first-pixel order;
  * min-area rect — Andrew monotone-chain convex hull over the region
    pixels' CORNER lattice points + rotating calipers (replaces
    ``cv2.minAreaRect``), corner order per the reference's
    ``get_mini_boxes`` x-sort rule (tl, tr, br, bl);
  * box score — mean probability over pixels whose CENTERS fall
    inside the box polygon (``box_score_fast``; the cv2 original
    rasterizes boundary-inclusive with fillPoly — the center-in
    convention is this implementation's documented choice, exact and
    engine-independent for the lattice-aligned fixtures);
  * unclip — edge offset by d = area·ratio / perimeter with round
    (arc-sampled) joins, the pyclipper ``JT_ROUND`` shape, then
    min-area rect of the offset polygon. For an axis-aligned w×h
    region this composes to the rect grown by exactly d per side —
    what the SQL oracle twin computes independently.

Pure numpy, shared by the Spark Arrow stage and the tests.
"""

from __future__ import annotations

import math

import numpy as np

# DBPostProcess defaults (processor_ocr_db_pp.py:153-160)
DB_PARAMS = {"thresh": 0.3, "box_thresh": 0.7, "max_candidates": 1000,
             "unclip_ratio": 2.0, "min_size": 3}


def connected_regions(bitmap: np.ndarray, cap: int = 1000):
    """8-connected regions of a {0,1} map → list of (ys, xs) integer
    index arrays, ordered by each region's first pixel in row-major
    scan order, capped at ``cap`` (the reference iterates the first
    ``max_candidates`` contours).

    Run-length union-find, not per-pixel flood fill: rows are RLE'd in
    one vectorized diff, then consecutive-row runs are merged with a
    two-pointer sweep — O(runs) Python steps (text maps have a few
    runs per line) instead of O(pixels), which was the dominant cost
    of the whole DB postprocess on dense probability maps."""
    h, _w = bitmap.shape
    mask = np.zeros((h, bitmap.shape[1] + 2), dtype=np.int8)
    mask[:, 1:-1] = bitmap != 0
    d = np.diff(mask, axis=1)
    sy, sx = np.nonzero(d == 1)    # run r: row sy[r], cols [sx[r], ex[r])
    _ey, ex = np.nonzero(d == -1)  # row-major, so k-th start ↔ k-th end
    n = len(sy)
    if n == 0:
        return []
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    row_start = np.searchsorted(sy, np.arange(h + 1))
    sx_l, ex_l, sy_l = sx.tolist(), ex.tolist(), sy.tolist()
    for y in range(1, h):
        i, i1 = int(row_start[y]), int(row_start[y + 1])
        j, j1 = int(row_start[y - 1]), int(row_start[y])
        while i < i1 and j < j1:
            # runs [sa, ea) and [sb, eb) touch 8-connectedly iff
            # sa <= eb and sb <= ea (the ±1 diagonal tolerance is
            # exactly the exclusive-end slack)
            if sx_l[i] <= ex_l[j] and sx_l[j] <= ex_l[i]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
            if ex_l[i] < ex_l[j]:
                i += 1
            else:
                j += 1
    first_seen: dict = {}
    groups: list = []
    for r in range(n):
        root = find(r)
        slot = first_seen.get(root)
        if slot is None:
            first_seen[root] = len(groups)
            groups.append([])
            slot = first_seen[root]
        groups[slot].append(r)
    regions = []
    for runs in groups[:cap]:
        ys = np.concatenate([
            np.full(ex_l[r] - sx_l[r], sy_l[r], dtype=np.int64)
            for r in runs])
        xs = np.concatenate([
            np.arange(sx_l[r], ex_l[r], dtype=np.int64) for r in runs])
        regions.append((ys, xs))
    return regions


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; input (n, 2) floats, output hull
    vertices counter-clockwise (y-down screen coords: clockwise on
    screen), no repeated endpoint."""
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    if len(pts) > 16:
        # only the min/max-y point of each x column can be a hull
        # vertex — exact reduction that collapses a region's pixel
        # lattice (thousands of points) to its column extremes
        xs = pts[:, 0]
        col_start = np.nonzero(np.r_[True, xs[1:] != xs[:-1]])[0]
        col_end = np.r_[col_start[1:] - 1, len(pts) - 1]
        keep = np.unique(np.concatenate([col_start, col_end]))
        pts = pts[keep]
    seq = [(float(px), float(py)) for px, py in pts]

    def half(seq):
        out = []
        for px, py in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(seq)
    upper = half(seq[::-1])
    return np.asarray(lower[:-1] + upper[:-1])


def min_area_rect(points: np.ndarray):
    """Rotating-calipers minimum-area enclosing rectangle.

    Returns (box, sside): ``box`` the 4 corners ordered by the
    reference's ``get_mini_boxes`` rule (sort by x; within the left
    and right pairs the smaller y comes first → tl, tr, br, bl),
    ``sside`` = the rect's shorter side."""
    hull = convex_hull(np.asarray(points, dtype=np.float64))
    if len(hull) == 1:
        p = hull[0]
        return np.array([p, p, p, p]), 0.0
    if len(hull) == 2:
        a, b = hull
        return np.array([a, b, b, a]), 0.0
    best = None
    n = len(hull)
    for i in range(n):
        e = hull[(i + 1) % n] - hull[i]
        norm = math.hypot(e[0], e[1])
        if norm == 0:
            continue
        ux, uy = e[0] / norm, e[1] / norm      # edge direction
        # project hull onto (u, v=perp(u))
        pu = hull @ np.array([ux, uy])
        pv = hull @ np.array([-uy, ux])
        w = pu.max() - pu.min()
        h = pv.max() - pv.min()
        area = w * h
        if best is None or area < best[0] - 1e-12:
            best = (area, ux, uy, pu.min(), pu.max(), pv.min(),
                    pv.max())
    _, ux, uy, u0, u1, v0, v1 = best
    u = np.array([ux, uy])
    v = np.array([-uy, ux])
    corners = np.array([u0 * u + v0 * v, u1 * u + v0 * v,
                        u1 * u + v1 * v, u0 * u + v1 * v])
    sside = min(u1 - u0, v1 - v0)
    # get_mini_boxes ordering (ocr_detection_utils.py:237-256)
    pts = sorted(corners.tolist(), key=lambda p: p[0])
    i1, i4 = (0, 1) if pts[1][1] > pts[0][1] else (1, 0)
    i2, i3 = (2, 3) if pts[3][1] > pts[2][1] else (3, 2)
    return np.array([pts[i1], pts[i2], pts[i3], pts[i4]]), float(sside)


def box_score_fast(pred: np.ndarray, box: np.ndarray) -> float:
    """Mean probability over pixels whose centers fall inside the box
    polygon (clipped to the map) — the reference's fast score with a
    center-in rasterization (see module docstring)."""
    h, w = pred.shape
    xs, ys = box[:, 0], box[:, 1]
    xmin = int(np.clip(np.floor(xs.min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(xs.max()), 0, w - 1))
    ymin = int(np.clip(np.floor(ys.min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(ys.max()), 0, h - 1))
    gx, gy = np.meshgrid(
        np.arange(xmin, xmax + 1, dtype=np.float64) + 0.5,
        np.arange(ymin, ymax + 1, dtype=np.float64) + 0.5)
    inside = np.ones(gx.shape, dtype=bool)
    n = len(box)
    for i in range(n):
        x0, y0 = box[i]
        x1, y1 = box[(i + 1) % n]
        # convex, corners CW in y-down coords after get_mini_boxes
        # ordering → interior is where cross ≥ 0; strict on one side
        # keeps boundary-center pixels deterministic (half-open)
        cross = (x1 - x0) * (gy - y0) - (y1 - y0) * (gx - x0)
        inside &= cross > -1e-9
    if not inside.any():
        return 0.0
    return float(pred[ymin:ymax + 1, xmin:xmax + 1][inside].mean())


def unclip(box: np.ndarray, unclip_ratio: float = 2.0,
           arc_steps: int = 8) -> np.ndarray:
    """Offset the polygon outward by d = area·ratio / perimeter with
    rounded joins — the pyclipper ``JT_ROUND ET_CLOSEDPOLYGON`` shape
    (``ocr_detection_utils.py:228-234``), as a point cloud: each edge
    shifted d along its outward normal plus ``arc_steps`` samples of
    the corner arcs. Callers take min_area_rect of the result, so the
    sampled-arc approximation is exact for the rect case and within
    sampling tolerance otherwise."""
    poly = np.asarray(box, dtype=np.float64)
    n = len(poly)
    # shoelace area (sign gives orientation) + perimeter
    x, y = poly[:, 0], poly[:, 1]
    area2 = float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    per = float(sum(math.hypot(*(poly[(i + 1) % n] - poly[i]))
                    for i in range(n)))
    if per == 0:
        return poly.copy()
    d = abs(area2) / 2.0 * unclip_ratio / per
    sign = 1.0 if area2 > 0 else -1.0
    out = []
    for i in range(n):
        a, b = poly[i], poly[(i + 1) % n]
        e = b - a
        norm = math.hypot(e[0], e[1])
        if norm == 0:
            continue
        # outward normal: rotate edge by -90° for CW (screen) rings,
        # +90° for CCW — sign of the shoelace picks it
        nx, ny = sign * e[1] / norm, -sign * e[0] / norm
        off = np.array([nx * d, ny * d])
        out.append(a + off)
        out.append(b + off)
        # arc around vertex b from this edge's normal to the next's
        c = poly[(i + 2) % n]
        e2 = c - b
        n2 = math.hypot(e2[0], e2[1])
        if n2 == 0:
            continue
        a1 = math.atan2(ny, nx)
        a2 = math.atan2(sign * e2[1] / n2, -sign * e2[0] / n2)
        sweep = (a2 - a1) % (2 * math.pi)
        for k in range(1, arc_steps):
            t = a1 + sweep * k / arc_steps
            out.append(b + d * np.array([math.cos(t), math.sin(t)]))
    return np.asarray(out)


def box_score_slow(pred: np.ndarray, ys: np.ndarray,
                   xs: np.ndarray) -> float:
    """Mean probability over the FILLED region — the reference's
    ``box_score_slow`` (``processor_ocr_db_pp.py:270-289`` fillPoly's
    the traced outer contour, so interior HOLES are filled in and
    averaged too), vs the fast mode's min-area-BOX mean. The two
    modes differ on non-rectangular regions: an L-shaped blob scores
    its own ink only here, while the fast box mean dilutes it with
    the empty corner. Hole filling: within the region's bbox, flood
    the background 4-connectedly from the bbox border (4-connectivity
    is the correct complement of the 8-connected foreground — a
    diagonal foreground seal must stop the flood); background the
    flood cannot reach is inside the outer contour and gets filled.
    Vectorized as iterated neighbor-OR sweeps (a separable dilation
    masked to background), O(bbox · diameter) worst case on tiny
    per-region bboxes."""
    if len(ys) == 0:
        return 0.0
    y0, y1 = int(ys.min()), int(ys.max())
    x0, x1 = int(xs.min()), int(xs.max())
    sub = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
    sub[ys - y0, xs - x0] = True
    if sub.all():                      # solid rectangle — no holes
        return float(pred[ys, xs].mean())
    bg = ~sub
    reach = np.zeros_like(bg)
    reach[0, :] = bg[0, :]
    reach[-1, :] = bg[-1, :]
    reach[:, 0] |= bg[:, 0]
    reach[:, -1] |= bg[:, -1]
    while True:
        grown = reach.copy()
        grown[1:, :] |= reach[:-1, :]
        grown[:-1, :] |= reach[1:, :]
        grown[:, 1:] |= reach[:, :-1]
        grown[:, :-1] |= reach[:, 1:]
        grown &= bg
        if (grown == reach).all():
            break
        reach = grown
    filled = sub | (bg & ~reach)       # unreachable background = hole
    fys, fxs = np.nonzero(filled)
    return float(pred[fys + y0, fxs + x0].mean())


def boxes_from_bitmap(pred: np.ndarray, bitmap: np.ndarray,
                      dest_width: int, dest_height: int,
                      box_thresh: float = 0.7,
                      unclip_ratio: float = 2.0,
                      max_candidates: int = 1000,
                      min_size: int = 3,
                      score_mode: str = "fast"):
    """The reference's DBPostProcess.boxes_from_bitmap loop
    (``processor_ocr_db_pp.py:174-219``): per connected region —
    mini box; drop sside < min_size; score (``score_mode`` 'fast' =
    min-area-box mean, 'slow' = filled-contour mean — the reference's
    constructor switch, 'fast' shipped default), drop < box_thresh;
    unclip; mini box again, drop sside < min_size + 2; scale map →
    dest coords with banker's rounding (np.round) and clip.
    Returns (boxes int16 (n, 8) flat tl,tr,br,bl, scores)."""
    if score_mode not in ("fast", "slow"):
        raise ValueError(
            f"score_mode must be fast|slow, got {score_mode!r}")
    h, w = bitmap.shape
    boxes, scores = [], []
    for ys, xs in connected_regions(bitmap, cap=max_candidates):
        # pixel corner lattice of the region (each pixel contributes
        # its 4 corners — the outline cv2 traces, without tracing)
        corners = np.unique(np.concatenate([
            np.stack([xs, ys], 1), np.stack([xs + 1, ys], 1),
            np.stack([xs, ys + 1], 1), np.stack([xs + 1, ys + 1], 1),
        ]), axis=0).astype(np.float64)
        points, sside = min_area_rect(corners)
        if sside < min_size:
            continue
        score = (box_score_fast(pred, points) if score_mode == "fast"
                 else box_score_slow(pred, ys, xs))
        if box_thresh > score:
            continue
        box, sside = min_area_rect(unclip(points, unclip_ratio))
        if sside < min_size + 2:
            continue
        box[:, 0] = np.clip(np.round(box[:, 0] / w * dest_width),
                            0, dest_width)
        box[:, 1] = np.clip(np.round(box[:, 1] / h * dest_height),
                            0, dest_height)
        boxes.append(box.reshape(-1).astype(np.int64).tolist())
        scores.append(score)
    return boxes, scores


def db_postprocess(prob_map: np.ndarray, dest_width: int,
                   dest_height: int, params: dict | None = None):
    """Full DBPostProcess: threshold the probability map into the
    bitmap, then ``boxes_from_bitmap``. ``params`` overrides
    DB_PARAMS (the .npz artifact's values ride here)."""
    p = dict(DB_PARAMS)
    if params:
        p.update(params)
    bitmap = (prob_map > p["thresh"]).astype(np.uint8)
    return boxes_from_bitmap(
        prob_map, bitmap, dest_width, dest_height,
        box_thresh=p["box_thresh"], unclip_ratio=p["unclip_ratio"],
        max_candidates=int(p["max_candidates"]),
        min_size=int(p["min_size"]),
        score_mode=p.get("score_mode", "fast"))


def prob_map_from_payload(db: dict) -> np.ndarray:
    """Materialize the dense probability map from the payload's
    sparse blob encoding {h, w, base, blobs: [[x0, y0, x1, y1, p]]}
    — the model-output contract shipped compactly (a trained DBNet
    emits the dense map through the same seam; fixtures encode it
    sparsely so parquet stays small). Blob rects are half-open pixel
    ranges [x0, x1) × [y0, y1)."""
    m = np.full((int(db["h"]), int(db["w"])),
                float(db.get("base", 0.05)), dtype=np.float64)
    for x0, y0, x1, y1, p in db.get("blobs") or []:
        m[int(y0):int(y1), int(x0):int(x1)] = float(p)
    return m


def format_db_box(flat8, score: float) -> str:
    """Stable wire format (mirrored by the DuckDB oracle printf):
    8 ints tl,tr,br,bl + the score to 4dp."""
    return ",".join(str(int(v)) for v in flat8) + f"|{score:.4f}"
