"""PicoDet layout-detection postprocess (M2's deterministic
model-output half): multi-scale DFL head outputs → labeled layout
boxes.

Re-derives the reference's layout-analysis decoder —
``model/picodet/processor_picodet.py:116-298`` (per-stride anchor
centers, the GFL/DFL softmax-integral box regression, per-class score
gating, greedy hard-NMS, the warp/clip back to source coordinates and
the scale-factor division) and the NMS trio
``processor_picodet.py:301-360`` (hard_nms / iou_of / area_of) — in
pure numpy over a planted model-output contract, the same seam as the
DBNet / CTC / SLANet / CenterNet decoders (a trained PicoDet-LCNet
checkpoint emits the dense tensors; everything after the forward pass
is this module).

The model emits, per FPN stride s ∈ {8, 16, 32, 64}:
  * ``scores`` ((H/s)·(W/s), n_classes) — post-sigmoid class scores
    per anchor cell;
  * ``box_distribute`` ((H/s)·(W/s), 4·(reg_max+1)) — the Distribution
    Focal Loss logits: per box side, a categorical over the distances
    {0..reg_max} in stride units; the decoded distance is the
    softmax-weighted bin index (the "integral" in GFLv2) × stride.

Decode chain (processor_picodet.py:184-298): per stride build the
anchor-center lattice ((col+0.5)·s, (row+0.5)·s), softmax-integrate
the DFL bins into l/t/r/b distances, box = center + [-1,-1,1,1]·dist,
keep the nms_top_k best anchors by max class score; then per class
gate at score_threshold and greedy hard-NMS at iou 0.5; finally clip
to the source shape (``warp_boxes`` — the perspective matrix in the
reference is commented out, leaving the pure corner clip) and divide
by the resize scale factor. Labels are the reference's layout
dictionary (configuration_picodet.py:85-96, the 'ch' task's 10
classes)."""

from __future__ import annotations

import numpy as np

# configuration_picodet.py:54-60 defaults
PICODET_PARAMS = {"strides": (8, 16, 32, 64), "score_threshold": 0.5,
                  "nms_threshold": 0.5, "nms_top_k": 1000,
                  "keep_top_k": 100}

# configuration_picodet.py:85-96 — the 'ch' layout dictionary
LAYOUT_LABELS = ("text", "title", "figure", "figure_caption", "table",
                 "table_caption", "header", "footer", "reference",
                 "equation")


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def area_of(left_top: np.ndarray, right_bottom: np.ndarray):
    """processor_picodet.py:351-360."""
    hw = np.clip(right_bottom - left_top, 0.0, None)
    return hw[..., 0] * hw[..., 1]


def iou_of(boxes0: np.ndarray, boxes1: np.ndarray, eps: float = 1e-5):
    """processor_picodet.py:333-348."""
    overlap_left_top = np.maximum(boxes0[..., :2], boxes1[..., :2])
    overlap_right_bottom = np.minimum(boxes0[..., 2:], boxes1[..., 2:])
    overlap_area = area_of(overlap_left_top, overlap_right_bottom)
    area0 = area_of(boxes0[..., :2], boxes0[..., 2:])
    area1 = area_of(boxes1[..., :2], boxes1[..., 2:])
    return overlap_area / (area0 + area1 - overlap_area + eps)


def hard_nms(box_scores: np.ndarray, iou_threshold: float,
             top_k: int = -1, candidate_size: int = 200) -> np.ndarray:
    """processor_picodet.py:301-330 — greedy descending-score NMS on
    (N, 5) [x1,y1,x2,y2,score] rows, considering only the
    ``candidate_size`` best."""
    scores = box_scores[:, -1]
    boxes = box_scores[:, :-1]
    picked = []
    indexes = np.argsort(scores)
    indexes = indexes[-candidate_size:]
    while len(indexes) > 0:
        current = indexes[-1]
        picked.append(current)
        if 0 < top_k == len(picked) or len(indexes) == 1:
            break
        current_box = boxes[current, :]
        indexes = indexes[:-1]
        rest_boxes = boxes[indexes, :]
        iou = iou_of(rest_boxes, np.expand_dims(current_box, axis=0))
        indexes = indexes[iou <= iou_threshold]
    return box_scores[picked, :]


def warp_boxes(boxes: np.ndarray, ori_shape) -> np.ndarray:
    """processor_picodet.py:136-158 — corner-expand + clip to the
    source shape (the affine ``M`` is commented out upstream, so this
    is a pure clip)."""
    height, width = float(ori_shape[0]), float(ori_shape[1])
    n = len(boxes)
    if not n:
        return boxes
    xy = np.ones((n * 4, 3))
    xy[:, :2] = boxes[:, [0, 1, 2, 3, 0, 3, 2, 1]].reshape(n * 4, 2)
    xy = (xy[:, :2] / xy[:, 2:3]).reshape(n, 8)
    x = xy[:, [0, 2, 4, 6]]
    y = xy[:, [1, 3, 5, 7]]
    out = np.concatenate(
        (x.min(1), y.min(1), x.max(1), y.max(1))).reshape(4, n).T
    out[:, [0, 2]] = out[:, [0, 2]].clip(0, width)
    out[:, [1, 3]] = out[:, [1, 3]].clip(0, height)
    return out.astype(np.float32)


def picodet_decode(scores_list, boxes_list, input_shape, ori_shape,
                   scale_factor, params: dict | None = None,
                   labels=LAYOUT_LABELS):
    """processor_picodet.py:184-298 ``__call__`` for one image:
    ``scores_list`` / ``boxes_list`` are per-stride (n_anchors,
    n_classes) and (n_anchors, 4·(reg_max+1)) arrays. Returns
    [(label, class_id, score, [x0, y0, x1, y1]), ...]."""
    p = dict(PICODET_PARAMS)
    if params:
        p.update(params)
    reg_max = int(boxes_list[0].shape[-1] / 4 - 1)
    decode_boxes, select_scores = [], []
    for stride, box_distribute, score in zip(p["strides"], boxes_list,
                                             scores_list):
        score = np.asarray(score, dtype=np.float64)
        box_distribute = np.asarray(box_distribute, dtype=np.float64)
        fm_h = input_shape[0] / stride
        fm_w = input_shape[1] / stride
        h_range = np.arange(fm_h)
        w_range = np.arange(fm_w)
        ww, hh = np.meshgrid(w_range, h_range)
        ct_row = (hh.flatten() + 0.5) * stride
        ct_col = (ww.flatten() + 0.5) * stride
        center = np.stack((ct_col, ct_row, ct_col, ct_row), axis=1)
        # DFL integral: softmax over the bins, expectation of the
        # bin index, scaled by the stride
        reg_range = np.arange(reg_max + 1)
        box_distance = box_distribute.reshape((-1, reg_max + 1))
        box_distance = softmax(box_distance, axis=1)
        box_distance = box_distance * np.expand_dims(reg_range, axis=0)
        box_distance = box_distance.sum(axis=1).reshape((-1, 4))
        box_distance = box_distance * stride
        topk_idx = np.argsort(score.max(axis=1))[::-1]
        topk_idx = topk_idx[:p["nms_top_k"]]
        center = center[topk_idx]
        score = score[topk_idx]
        box_distance = box_distance[topk_idx]
        decode_boxes.append(center + [-1, -1, 1, 1] * box_distance)
        select_scores.append(score)
    bboxes = np.concatenate(decode_boxes, axis=0)
    confidences = np.concatenate(select_scores, axis=0)
    picked_box_probs, picked_labels = [], []
    for class_index in range(confidences.shape[1]):
        probs = confidences[:, class_index]
        mask = probs > p["score_threshold"]
        probs = probs[mask]
        if probs.shape[0] == 0:
            continue
        subset_boxes = bboxes[mask, :]
        box_probs = np.concatenate(
            [subset_boxes, probs.reshape(-1, 1)], axis=1)
        box_probs = hard_nms(box_probs,
                             iou_threshold=p["nms_threshold"],
                             top_k=p["keep_top_k"])
        picked_box_probs.append(box_probs)
        picked_labels.extend([class_index] * box_probs.shape[0])
    if not picked_box_probs:
        return []
    picked_box_probs = np.concatenate(picked_box_probs)
    picked_box_probs[:, :4] = warp_boxes(picked_box_probs[:, :4],
                                         ori_shape)
    scale_factor = np.asarray(scale_factor, dtype=np.float64)
    im_scale = np.concatenate([scale_factor[::-1], scale_factor[::-1]])
    picked_box_probs[:, :4] /= im_scale
    out = []
    for clsid, row in zip(picked_labels, picked_box_probs):
        # a payload may declare n_classes beyond the bundled label
        # table (the reference loads labels from the model artifact);
        # fall back to a stable synthetic name instead of crashing
        name = (labels[clsid] if clsid < len(labels)
                else f"class_{int(clsid)}")
        out.append((name, int(clsid), float(row[4]),
                    [float(v) for v in row[:4]]))
    return out


# ------------------------------------------- planted payload seam

_NEG = -1e30  # exp() underflows to exactly 0.0: softmax stays exact
#               over the live bins (1/|S| is an exact dyadic for the
#               power-of-two set sizes the fixtures plant)


def tensors_from_payload(pd: dict):
    """Re-densify the sparse planted contract into the per-stride
    model tensors. Each planted anchor is an object
    {r, c, cls, score, bl, bt, br, bb} where each ``b*`` is the SET of
    DFL bin indices carrying equal logit 0 (every other bin gets
    ``_NEG``) — the decoded distance is their exact mean; unplanted
    anchors hold all-zero scores (below any gate) and uniform DFL
    bins."""
    input_shape = [int(v) for v in pd["input_shape"]]
    reg_max = int(pd.get("reg_max", 7))
    n_classes = int(pd.get("n_classes", len(LAYOUT_LABELS)))
    strides = [int(lv["stride"]) for lv in pd["levels"]]
    scores_list, boxes_list = [], []
    for lv in pd["levels"]:
        s = int(lv["stride"])
        fm_h, fm_w = input_shape[0] // s, input_shape[1] // s
        n = fm_h * fm_w
        scores = np.zeros((n, n_classes), dtype=np.float64)
        boxes = np.zeros((n, 4 * (reg_max + 1)), dtype=np.float64)
        for row in lv.get("anchors") or ():
            a = int(row["r"]) * fm_w + int(row["c"])
            scores[a, int(row["cls"])] = float(row["score"])
            for side, key in enumerate(("bl", "bt", "br", "bb")):
                logits = np.full(reg_max + 1, _NEG)
                logits[[int(b) for b in row[key]]] = 0.0
                boxes[a, side * (reg_max + 1):
                      (side + 1) * (reg_max + 1)] = logits
        scores_list.append(scores)
        boxes_list.append(boxes)
    return (scores_list, boxes_list, input_shape, pd["org_shape"],
            pd["scale_factor"], {"strides": strides})


def decode_payload(pd: dict, params: dict | None = None):
    scores_list, boxes_list, input_shape, org, sf, auto = \
        tensors_from_payload(pd)
    if params:
        auto.update(params)
    return picodet_decode(scores_list, boxes_list, input_shape, org,
                          sf, auto)


def format_layout_box(label: str, clsid: int, score: float,
                      box: list[float]) -> str:
    coords = ",".join(f"{v:.2f}" for v in box)
    return f"{label}|{clsid}|{score:.4f}|{coords}"
