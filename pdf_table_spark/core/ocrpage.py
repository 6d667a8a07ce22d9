"""Full imaged-page OCR: scan image → words/lines, table cells, HTML
— every stage real compute, no planted model output anywhere.

This composes the reference's end-to-end imaged-PDF path
(``model/ocr_pdf/base_infer_task.py:317-381`` dispatching detection →
recognition, then ``table/table_extractor_lattice.py`` structure +
placement) from the repo's own stages:

  1. ``core.codecs``   — real PNG/BMP/PNM pixel decode (caller);
  2. ``core.nn.detect_rulings`` — morphological ruling extraction
     (the cv2 erode/dilate line detection of the reference's lattice
     source, pure numpy);
  3. ``core.nn.det_forward`` with ``OCR_DET_CNN`` — conv/pool/sigmoid
     text detection on the ruling-masked ink, postprocessed by
     ``core.dbnet`` (binarize → regions → min-area rect → unclip);
  4. ``core.nn.rec_forward`` + ``core.ctchead.ctc_decode`` — the
     recognition conv + CTC greedy decode per detected line crop;
  5. ``core.lattice.extract_ruled_tables`` — the SAME grid builder,
     logical-cell merger and text placement the digital-PDF path
     uses, fed with image-derived segments and OCR'd text lines.

Detected boxes arrive in image coordinates (y down); the lattice
stage runs in PDF coordinates (y up), so segments/lines flip through
``H - y`` at the seam — the reference's crop→page coordinate
translation (X7).
"""

from __future__ import annotations

import numpy as np

from . import lattice
from .dbnet import DB_PARAMS, db_postprocess
from .html import cells_to_html
from .nn import (OCR_DET_CNN, REC_CNN, det_forward, detect_rulings,
                 ink_from_scan, maxpool2d, merge_axis_segments, rec_text)

RULING_THIN = 0.5  # half-thickness of the thin rects fed to lattice


def ocr_scan_page(gray: np.ndarray, det_weights: dict | None = None,
                  rec_weights: dict | None = None,
                  db_params: dict | None = None) -> dict:
    """OCR one scan page (uint8 grayscale, 255 = paper).

    Returns ``{"lines": [...], "tables": [...], "remainder": [...]}``:
    ``lines`` — every detected+recognized text line in reading order
    (image-coordinate int bounds, text, confidence); ``tables`` — per
    recovered table: n_rows/n_cols, the non-empty logical cells as
    ``(row, col, row_span, col_span, text)`` and the serialized HTML;
    ``remainder`` — the lines not consumed by any table (the page's
    free text, anti-join semantics U1)."""
    det_w = det_weights if det_weights is not None else OCR_DET_CNN
    rec_w = rec_weights if rec_weights is not None else REC_CNN
    dbp = db_params if db_params is not None else DB_PARAMS
    ink = ink_from_scan(np.asarray(gray))
    h_img, w_img = ink.shape

    # rulings, then mask them (dilated 1 px) out of the det/rec input
    h_raw, v_raw, mask = detect_rulings(ink)
    h_segs = merge_axis_segments(h_raw, "h")
    v_segs = merge_axis_segments(v_raw, "v")
    grown = maxpool2d(mask[None].astype(np.float64), 3, 3)[0] >= 0.5
    text_ink = np.where(grown, 0.0, ink)

    # detection: conv forward → probability map → DBNet postprocess
    prob = det_forward(text_ink, det_w)
    boxes, scores = db_postprocess(prob, w_img, h_img, dbp)

    # recognition per crop; drop boxes that decode to nothing
    lines = []
    for b, s in zip(boxes, scores):
        xs, ys = b[0::2], b[1::2]
        x0 = max(int(min(xs)), 0)
        x1 = min(int(max(xs)), w_img - 1)
        y0 = max(int(min(ys)), 0)
        y1 = min(int(max(ys)), h_img - 1)
        if x1 <= x0 or y1 <= y0:
            continue
        crop = text_ink[y0:y1 + 1, x0:x1 + 1]
        text, conf = rec_text(crop, rec_w)
        if not text:
            continue
        # tighten the unclip-expanded box to the crop's ink extent:
        # placement (and the lattice char-split) needs the GLYPH
        # geometry, not the recall margin DBNet's unclip adds
        cols = np.flatnonzero(crop.sum(axis=0) > 0)
        rows = np.flatnonzero(crop.sum(axis=1) > 0)
        if len(cols) and len(rows):
            x0, x1 = x0 + int(cols[0]), x0 + int(cols[-1])
            y0, y1 = y0 + int(rows[0]), y0 + int(rows[-1])
        lines.append({"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                      "text": text, "conf": conf,
                      "det_score": float(s)})
    lines.sort(key=lambda ln: (ln["y0"], ln["x0"]))

    # lattice placement in PDF coordinates (y up)
    rects = []
    for (x0, y, x1, _y) in h_segs:
        rects.append({"x0": x0, "x1": x1,
                      "y0": h_img - y - RULING_THIN,
                      "y1": h_img - y + RULING_THIN})
    for (x, y0, _x, y1) in v_segs:
        rects.append({"x0": x - RULING_THIN, "x1": x + RULING_THIN,
                      "y0": h_img - y1, "y1": h_img - y0})
    text_lines = [{"x0": float(ln["x0"]), "x1": float(ln["x1"] + 1),
                   "y0": float(h_img - (ln["y1"] + 1)),
                   "y1": float(h_img - ln["y0"]),
                   "text": ln["text"]} for ln in lines]
    tables, consumed = lattice.extract_ruled_tables(rects, text_lines)

    out_tables = []
    for t in tables:
        cells = [(c.row, c.col, c.row_span, c.col_span, c.text)
                 for c in sorted(t.cells,
                                 key=lambda c: (c.row, c.col))
                 if c.text]
        out_tables.append({
            "bbox": tuple(round(v, 1) for v in t.bbox),
            "n_rows": t.n_rows, "n_cols": t.n_cols,
            "cells": cells,
            "html": cells_to_html(sorted(
                t.cells, key=lambda c: (c.row, c.col))),
        })
    remainder = [ln for i, ln in enumerate(lines) if i not in consumed]
    return {"lines": lines, "tables": out_tables,
            "remainder": remainder}


LAYOUT_CLASSES = ("table", "text", "figure")

# linear classification head over the three conv-derived region
# features (d = ink density in bbox, r = ruling-ink fraction of the
# region's ink, m = det-probability mass per bbox pixel) + bias.
# Hand-set separating weights (the PicoDet-classifier swap point, like
# every other head): tables are sparse ink dominated by rulings, text
# is det-hot with no rulings, figures are dense blocks.
LAYOUT_CNN = {"w": np.array([
    #   d      r     m    1
    [-1.0,   2.5,  0.0,  0.2],   # table
    [-1.0,  -2.0,  2.0,  0.2],   # text
    [3.0,   -1.0,  0.0, -1.2],   # figure
]), "merge": np.array([9.0, 9.0])}


def layout_regions(gray: np.ndarray, weights: dict | None = None,
                   det_weights: dict | None = None):
    """Layout analysis from pixels (M2): propose page regions by
    coarse ink connectivity, then classify each as table / text /
    figure from conv-derived features through a linear head.

    The reference runs a trained PicoDet/DocXLayout detector
    (``model/picodet``, ``model/docx_layout``); this is the same
    two-stage shape — region proposal then per-region class scores —
    with the backbone features replaced by the repo's deterministic
    conv stages: the morphological ruling maps (``detect_rulings``),
    the det-CNN text-probability map, and raw ink density. Region
    proposals are 8-connected components of the ``merge``-pooled ink
    (a 9x9 dilation bridges intra-table and intra-line gaps but not
    the >=20 px separation between page blocks).

    Returns a list of ``{"x0", "y0", "x1", "y1", "scores": (t, x, f),
    "label"}`` in reading order (top-down, left-right)."""
    from .dbnet import connected_regions
    w = weights if weights is not None else LAYOUT_CNN
    det_w = det_weights if det_weights is not None else OCR_DET_CNN
    wm = np.asarray(w["w"], dtype=np.float64)
    mh, mw = (int(v) for v in np.asarray(w["merge"]).ravel())
    from .nn import RULING_MIN_LEN, morph_open
    ink = ink_from_scan(np.asarray(gray))
    binary = (ink >= 0.5).astype(np.float64)
    # thin-ruling map: survives the long-horizontal OR long-vertical
    # opening but not both — a solid figure block survives both (its
    # rows AND columns are long runs), a 1-2 px ruling only one
    hmap = morph_open(binary[None], 1, RULING_MIN_LEN)[0] >= 0.5
    vmap = morph_open(binary[None], RULING_MIN_LEN, 1)[0] >= 0.5
    ruling = hmap ^ vmap
    grown = maxpool2d((hmap | vmap)[None].astype(np.float64),
                      3, 3)[0] >= 0.5
    prob = det_forward(np.where(grown, 0.0, ink), det_w)
    merged = maxpool2d(binary[None], mh, mw)[0] >= 0.5
    out = []
    for ys, xs in connected_regions(merged.astype(np.uint8)):
        y0, y1 = int(ys.min()), int(ys.max())
        x0, x1 = int(xs.min()), int(xs.max())
        # tighten the dilated proposal to its ink extent — features
        # are computed over the real content box, not the merge halo
        sub = binary[y0:y1 + 1, x0:x1 + 1]
        rows = np.flatnonzero(sub.sum(axis=1) > 0)
        cols = np.flatnonzero(sub.sum(axis=0) > 0)
        if not len(rows) or not len(cols):
            continue
        y0, y1 = y0 + int(rows[0]), y0 + int(rows[-1])
        x0, x1 = x0 + int(cols[0]), x0 + int(cols[-1])
        area = float((y1 - y0 + 1) * (x1 - x0 + 1))
        ink_px = float(binary[y0:y1 + 1, x0:x1 + 1].sum())
        if ink_px < 8:  # speckle gate (reference min-area filter)
            continue
        d = ink_px / area
        r = float(ruling[y0:y1 + 1, x0:x1 + 1].sum()) / ink_px
        m = float(prob[y0:y1 + 1, x0:x1 + 1].sum()) / area
        scores = wm @ np.array([d, r, m, 1.0])
        out.append({"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                    "scores": tuple(float(s) for s in scores),
                    "label": LAYOUT_CLASSES[int(np.argmax(scores))]})
    out.sort(key=lambda reg: (reg["y0"], reg["x0"]))
    return out


def _read_score(gray: np.ndarray, det_w, rec_w, dbp) -> float:
    """Recognition-confidence mass of one page reading: det forward →
    DBNet boxes → rec forward + CTC per crop → sum over decoded
    characters of their confidence. No lattice — orientation only
    needs "how much text reads"."""
    ink = ink_from_scan(gray)
    _h, _v, mask = detect_rulings(ink)
    grown = maxpool2d(mask[None].astype(np.float64), 3, 3)[0] >= 0.5
    text_ink = np.where(grown, 0.0, ink)
    prob = det_forward(text_ink, det_w)
    h_img, w_img = text_ink.shape
    boxes, _scores = db_postprocess(prob, w_img, h_img, dbp)
    total = 0.0
    for b in boxes:
        xs, ys = b[0::2], b[1::2]
        x0, x1 = max(int(min(xs)), 0), min(int(max(xs)), w_img - 1)
        y0, y1 = max(int(min(ys)), 0), min(int(max(ys)), h_img - 1)
        if x1 <= x0 or y1 <= y0:
            continue
        text, conf = rec_text(text_ink[y0:y1 + 1, x0:x1 + 1], rec_w)
        total += conf * len(text.replace(" ", ""))
    return total


def orient_scan_page(gray: np.ndarray, det_weights: dict | None = None,
                     rec_weights: dict | None = None,
                     db_params: dict | None = None):
    """Page-orientation classification by recognition vote — the
    reference's text-image-orientation model (M1,
    ``model/ocr_pdf/*text_image_orientation*`` PULC head) realized as
    the rotate-and-read vote its deterministic twin allows: try all
    four 90° corrections, score each by how much text the det+rec
    forward passes actually decode, pick the argmax (ties break to the
    smaller angle — in practice the upright reading decodes every
    planted character while wrong rotations match almost nothing,
    since glyph templates are not rotation-invariant).

    Returns (pred_angle_ccw, votes): the counter-clockwise correction
    angle in {0, 90, 180, 270} and the four vote scores in angle
    order."""
    det_w = det_weights if det_weights is not None else OCR_DET_CNN
    rec_w = rec_weights if rec_weights is not None else REC_CNN
    dbp = db_params if db_params is not None else DB_PARAMS
    g = np.asarray(gray)
    votes = [
        _read_score(np.rot90(g, t) if t else g, det_w, rec_w, dbp)
        for t in range(4)]
    return 90 * int(np.argmax(votes)), votes
