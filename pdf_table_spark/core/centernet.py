"""Cycle-CenterNet TSR postprocess (M6's deterministic model-output
half): paired keypoint heatmaps → table cell polygons.

Re-derives the reference's wireless-table structure decoder —
``model/center_net/table_process.py:92-420`` (peak NMS, top-K, the
center→vertex / vertex→center box decodes, the affine map→image
rescale, the vertex-snapping group step) and its driver
``model/center_net/processer_centernet.py:163-203`` — in pure numpy
over a planted model-output contract, the same seam as the DBNet /
CTC / SLANet decoders (a trained DLA-34 checkpoint would emit the
dense tensors; everything after the forward pass is this module).

The model emits, at output-map resolution (1/4 of the network input):
  * ``hm``  (2, H, W) logits — channel 0 peaks at cell CENTERS,
    channel 1 peaks at cell CORNERS (vertices are shared between
    adjacent cells: one corner peak serves up to 4 cells);
  * ``c2v`` (8, H, W) — at a center peak, the 4 offsets center→its
    vertices, subtracted from the center (table_process.py:151-185,
    ``xs - wh[..., k]``). Vertex order is COUNTER-clockwise
    (tl, bl, br, tr): the group step's size estimate
    ``w = (|x4-x1| + |x3-x2|)/2`` (table_process.py:367-368) only
    measures a width under that order — under the usual clockwise
    (tl, tr, br, bl) it collapses to ~0 for axis-aligned cells and no
    corner would ever snap;
  * ``v2c`` (8, H, W) — at a corner peak, the 4 offsets vertex→the
    centers of the cells sharing it (table_process.py:188-216);
  * ``reg`` (2, H, W) — sub-pixel center/corner offsets.

Decode chain (processer_centernet.py:169-203): sigmoid the heatmaps,
``bbox_decode`` the top-K center peaks into candidate polygons,
``gbox_decode`` the top-MK corner peaks into vertex→center stars,
rescale both to source-image coordinates with the inverse of the
preprocessing affine, then ``group_bbox_by_gbox`` snaps each
polygon's corners onto the (more precisely localized) shared corner
peaks whose linked center falls inside the polygon. Kept polygons:
score > 0.3, reading-order sorted.

Faithfully-kept reference quirks, each pinned by a test:
  * the center-in NMS (``table_process.py:239-283``) is invoked with
    the still-BATCHED (1, K, 10) array (processer_centernet.py:185),
    so its ``len(dets) < 2`` guard short-circuits and it is a no-op
    in the live path — replicated, not "fixed";
  * ``group_bbox_by_gbox`` early-breaks on the first below-threshold
    gbox/bbox — sound only because top-K output is score-sorted, so
    the planted distractors must (and do) sort after every real peak;
  * a vertex link shorter than ``v2c_dist_thred`` px is the model's
    "no cell on this side" sentinel and is skipped.
"""

from __future__ import annotations

import math

import numpy as np

from .nn import maxpool2d, sigmoid

# processer_centernet.py:166-167 + group_bbox_by_gbox defaults
CN_PARAMS = {"K": 1000, "MK": 4000, "score_thresh": 0.3,
             "v2c_dist_thred": 2.0, "c2v_dist_thred": 0.5}


def peak_keep(heat: np.ndarray, kernel: int = 3) -> np.ndarray:
    """table_process.py:115-121 ``_nms``: keep only values equal to
    their ``kernel``-neighbourhood max (plateaus all survive, exactly
    like the maxpool2d==heat torch formulation)."""
    return np.where(maxpool2d(heat[None], kernel, kernel)[0] == heat,
                    heat, 0.0)


def topk_peaks(heat: np.ndarray, k: int):
    """table_process.py:124-140 ``_topk`` for a single-category map:
    scores desc (stable: ties in row-major flat order, the torch.topk
    tie order), with their integer ys/xs."""
    flat = heat.ravel()
    k = min(k, flat.size)
    order = np.argsort(-flat, kind="stable")[:k]
    ys, xs = np.divmod(order, heat.shape[1])
    return flat[order], ys.astype(np.float64), xs.astype(np.float64)


def _gather(dense: np.ndarray, ys: np.ndarray, xs: np.ndarray):
    """(C, H, W) gathered at integer peak coords → (K, C)."""
    return dense[:, ys.astype(np.int64), xs.astype(np.int64)].T


def bbox_decode(heat: np.ndarray, c2v: np.ndarray, reg: np.ndarray,
                k: int) -> np.ndarray:
    """table_process.py:151-185: center peaks → (K, 10) rows
    [x0,y0,x1,y1,x2,y2,x3,y3, score, class(=0)]; each vertex is the
    sub-pixel center MINUS its c2v offset."""
    scores, ys, xs = topk_peaks(peak_keep(heat), k)
    r = _gather(reg, ys, xs)
    cx, cy = xs + r[:, 0], ys + r[:, 1]
    w = _gather(c2v, ys, xs)
    out = np.empty((len(scores), 10), dtype=np.float64)
    for j in range(4):
        out[:, 2 * j] = cx - w[:, 2 * j]
        out[:, 2 * j + 1] = cy - w[:, 2 * j + 1]
    out[:, 8] = scores
    out[:, 9] = 0.0
    return out


def gbox_decode(heat: np.ndarray, v2c: np.ndarray, reg: np.ndarray,
                k: int) -> np.ndarray:
    """table_process.py:188-216: corner peaks → (K, 12) rows
    [vx,vy, cx0,cy0..cx3,cy3, score, class]; the 4 linked centers are
    the sub-pixel vertex MINUS its v2c offsets."""
    scores, ys, xs = topk_peaks(peak_keep(heat), k)
    r = _gather(reg, ys, xs)
    vx, vy = xs + r[:, 0], ys + r[:, 1]
    st = _gather(v2c, ys, xs)
    out = np.empty((len(scores), 12), dtype=np.float64)
    out[:, 0], out[:, 1] = vx, vy
    for j in range(4):
        out[:, 2 + 2 * j] = vx - st[:, 2 * j]
        out[:, 3 + 2 * j] = vy - st[:, 2 * j + 1]
    out[:, 10] = scores
    out[:, 11] = 0.0
    return out


def center_in_nms(dets: np.ndarray, thresh: float) -> np.ndarray:
    """table_process.py:239-283 ``nms`` — suppression by
    my-center-inside-your-higher-scoring-box. The live caller passes
    the BATCHED (1, K, 10) array, so ``len(dets) < 2`` returns the
    input unchanged and this whole function is dead in practice
    (pinned by test); ported for parity, quirks included: the guard
    reads ``box[-1]`` — the CLASS column, not the score."""
    if len(dets) < 2:
        return dets
    index_keep, keep = [], []
    for i in range(len(dets)):
        box = dets[i]
        if box[-1] < thresh:
            break
        max_score_index = -1
        ctx = (box[0] + box[2] + box[4] + box[6]) / 4
        cty = (box[1] + box[3] + box[5] + box[7]) / 4
        for j in range(len(dets)):
            if i == j or dets[j][-1] < thresh:
                break
            if _point_in_quad(dets[j][:8], (ctx, cty)):
                if dets[i][8] > dets[j][8] and max_score_index < 0:
                    max_score_index = i
                elif dets[i][8] < dets[j][8]:
                    max_score_index = -2
                    break
        if max_score_index > -1:
            index_keep.append(max_score_index)
        elif max_score_index == -1:
            index_keep.append(i)
    for i in index_keep:
        keep.append(dets[i])
    return np.array(keep)


def _point_in_quad(quad, pt) -> bool:
    """All-same-sign cross-product containment
    (table_process.py:286-302)."""
    x1, y1, x2, y2, x3, y3, x4, y4 = quad[:8]
    px, py = pt
    a = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    b = (x3 - x2) * (py - y2) - (y3 - y2) * (px - x2)
    c = (x4 - x3) * (py - y3) - (y4 - y3) * (px - x3)
    d = (x1 - x4) * (py - y4) - (y1 - y4) * (px - x4)
    return (a > 0 and b > 0 and c > 0 and d > 0) or \
        (a < 0 and b < 0 and c < 0 and d < 0)


def get_affine_transform(center, scale, rot: float, output_size,
                         inv: bool = False) -> np.ndarray:
    """table_process.py:35-90: the CenterNet preprocessing affine —
    similarity mapping the source box (center ``center``, side
    ``scale``) onto the ``output_size`` canvas; both directions of
    the 3-point solve. Note the reference scales BOTH axes by
    dst_w/scale (aspect preserved by design)."""
    cx, cy = float(center[0]), float(center[1])
    s = float(scale)
    dst_w, dst_h = float(output_size[0]), float(output_size[1])
    rad = math.pi * rot / 180.0
    # src direction: [0, -s/2] rotated; dst direction: [0, -w/2]
    sdx = -s / 2 * math.sin(rad)
    sdy = -s / 2 * math.cos(rad)
    src = np.array([[cx, cy], [cx + sdx, cy + sdy]], dtype=np.float64)
    dst = np.array([[dst_w / 2, dst_h / 2],
                    [dst_w / 2, dst_h / 2 - dst_w / 2]],
                   dtype=np.float64)
    # third point: 90° rotation of (p0 - p1) about p1 (get_3rd_point)
    src3 = src[1] + np.array([-(src[0, 1] - src[1, 1]),
                              src[0, 0] - src[1, 0]])
    dst3 = dst[1] + np.array([-(dst[0, 1] - dst[1, 1]),
                              dst[0, 0] - dst[1, 0]])
    src = np.vstack([src, src3])
    dst = np.vstack([dst, dst3])
    if inv:
        src, dst = dst, src
    # solve the 2x3 affine from the 3 point pairs
    a = np.zeros((6, 6), dtype=np.float64)
    b = np.zeros(6, dtype=np.float64)
    for i in range(3):
        a[2 * i, 0:2] = src[i]
        a[2 * i, 2] = 1.0
        a[2 * i + 1, 3:5] = src[i]
        a[2 * i + 1, 5] = 1.0
        b[2 * i] = dst[i, 0]
        b[2 * i + 1] = dst[i, 1]
    m = np.linalg.solve(a, b)
    return np.array([[m[0], m[1], m[2]], [m[3], m[4], m[5]]],
                    dtype=np.float64)


def transform_preds(coords: np.ndarray, center, scale,
                    output_size) -> np.ndarray:
    """table_process.py:27-32: output-map coords → source-image
    coords via the inverse affine."""
    t = get_affine_transform(center, scale, 0.0, output_size, inv=True)
    ones = np.ones((len(coords), 1), dtype=np.float64)
    return np.hstack([np.asarray(coords, dtype=np.float64), ones]) @ t.T


def group_bbox_by_gbox(bboxes: np.ndarray, gboxes: np.ndarray,
                       score_thred: float = 0.3,
                       v2c_dist_thred: float = 2.0,
                       c2v_dist_thred: float = 0.5) -> np.ndarray:
    """table_process.py:331-389: snap polygon corners onto shared
    corner peaks. For each gbox vertex and each of its linked centers
    (links shorter than ``v2c_dist_thred`` are the no-cell sentinel),
    find the highest-ranked polygon containing that center whose
    nearest corner to the vertex is within ``c2v_dist_thred`` × its
    max side and not yet snapped; overwrite that corner with the
    vertex. Early breaks rely on score-sorted input (top-K order)."""
    dets = bboxes.copy()
    sign = np.zeros((len(dets), 4), dtype=np.int64)
    out = bboxes.copy()
    for gbox in gboxes:
        if gbox[10] < score_thred:
            break
        vx, vy = gbox[0], gbox[1]
        for i in range(4):
            cx, cy = gbox[2 + 2 * i], gbox[3 + 2 * i]
            if math.hypot(vx - cx, vy - cy) < v2c_dist_thred:
                continue
            for k in range(len(dets)):
                bbox = dets[k]
                if bbox[8] < score_thred:
                    break
                if sign[k].sum() == 4:
                    continue
                w = (abs(bbox[6] - bbox[0]) + abs(bbox[4] - bbox[2])) / 2
                h = (abs(bbox[3] - bbox[1]) + abs(bbox[5] - bbox[7])) / 2
                m = max(w, h)
                if _point_in_quad(bbox[:8], (cx, cy)):
                    min_dist, min_id = 1e4, -1
                    for j in range(4):
                        dist = math.hypot(vx - bbox[2 * j],
                                          vy - bbox[2 * j + 1])
                        if dist < min_dist:
                            min_dist, min_id = dist, j
                    if (min_id > -1 and min_dist < c2v_dist_thred * m
                            and sign[k][min_id] == 0):
                        out[k][2 * min_id] = vx
                        out[k][2 * min_id + 1] = vy
                        sign[k][min_id] = 1
    return out


def centernet_postprocess(hm: np.ndarray, c2v: np.ndarray,
                          v2c: np.ndarray, reg: np.ndarray,
                          meta: dict,
                          params: dict | None = None) -> list[list[float]]:
    """processer_centernet.py:169-203 — the full chain. ``hm`` is
    (2, H, W) LOGITS (sigmoid applied here, as the reference applies
    it to raw model output); ``meta`` carries c (2,), s, out_h, out_w.
    Returns reading-order-sorted kept polygons as 8-float lists plus
    their scores: [(poly8, score), ...]."""
    p = dict(CN_PARAMS)
    if params:
        p.update(params)
    heat = sigmoid(np.asarray(hm, dtype=np.float64))
    bbox = bbox_decode(heat[0], np.asarray(c2v, dtype=np.float64),
                       np.asarray(reg, dtype=np.float64), p["K"])
    gbox = gbox_decode(heat[1], np.asarray(v2c, dtype=np.float64),
                       np.asarray(reg, dtype=np.float64), p["MK"])
    # the reference calls nms on the batched array — no-op, kept
    bbox = center_in_nms(bbox[None], p["score_thresh"])[0]
    c = (float(meta["c"][0]), float(meta["c"][1]))
    s = float(meta["s"])
    out_wh = (float(meta["out_w"]), float(meta["out_h"]))
    for j in range(4):
        bbox[:, 2 * j:2 * j + 2] = transform_preds(
            bbox[:, 2 * j:2 * j + 2], c, s, out_wh)
        gbox[:, 2 + 2 * j:4 + 2 * j] = transform_preds(
            gbox[:, 2 + 2 * j:4 + 2 * j], c, s, out_wh)
    gbox[:, 0:2] = transform_preds(gbox[:, 0:2], c, s, out_wh)
    bbox = group_bbox_by_gbox(bbox, gbox,
                              score_thred=p["score_thresh"],
                              v2c_dist_thred=p["v2c_dist_thred"],
                              c2v_dist_thred=p["c2v_dist_thred"])
    res = [(b[0:8].tolist(), float(b[8])) for b in bbox
           if b[8] > p["score_thresh"]]
    res.sort(key=lambda t: 0.01 * sum(t[0][::2]) / 4
             + sum(t[0][1::2]) / 4)
    return res


# ------------------------------------------- planted payload seam

def tensors_from_payload(cn: dict):
    """Re-densify the sparse planted contract into the model-output
    tensors. The payload plants PEAKS (integer map coords + sigmoid
    score + reg + the 8 regression values); everywhere else the
    heatmap holds the base logit and the regressions are zero — which
    is exactly what the decode reads, since regressions are only
    gathered at peak indices."""
    h, w = int(cn["out_h"]), int(cn["out_w"])
    base = float(cn.get("base", 0.01))
    base_logit = math.log(base / (1.0 - base))
    hm = np.full((2, h, w), base_logit, dtype=np.float64)
    c2v = np.zeros((8, h, w), dtype=np.float64)
    v2c = np.zeros((8, h, w), dtype=np.float64)
    reg = np.zeros((2, h, w), dtype=np.float64)
    for ch, key, dense in ((0, "centers", c2v), (1, "corners", v2c)):
        for row in cn.get(key) or ():
            x, y, score = int(row[0]), int(row[1]), float(row[2])
            hm[ch, y, x] = math.log(score / (1.0 - score))
            reg[0, y, x] = float(row[3])
            reg[1, y, x] = float(row[4])
            dense[:, y, x] = [float(v) for v in row[5:13]]
    meta = {"c": cn["c"], "s": cn["s"], "out_h": h, "out_w": w}
    return hm, c2v, v2c, reg, meta


def decode_payload(cn: dict, params: dict | None = None):
    hm, c2v, v2c, reg, meta = tensors_from_payload(cn)
    return centernet_postprocess(hm, c2v, v2c, reg, meta, params)


def format_cn_poly(poly: list[float], score: float) -> str:
    coords = ",".join(f"{v:.2f}" for v in poly)
    return f"{coords}|{score:.4f}"
