"""Deterministic det/rec head: glyph evidence → text-line detections.

The reference's imaged-page path runs a trained text DETECTION model
(DBNet) that finds text-line boxes in the raster, then a RECOGNITION
model (CRNN/SVTR) that reads each box
(``base_infer_task.py:171-303,317-381`` dispatch). This module is the
deterministic stand-in for that det+rec pair over this repo's vector
data model: ocr_page payloads carry per-character ``glyphs`` (the
physical evidence a det model detects from — see
``fixtures/generator._plant_glyphs``), and the head recovers the
det-model output contract (one box + text per visual text line) with
no access to the planted ``det_cells``:

  * line growing — glyphs in x order attach to an open line when
    their y-extents overlap by >= ``overlap_f`` of the shorter one
    AND the x-gap to the line's right edge is < ``split_f`` x the
    page's median glyph width (two boxes printed adjacent merge into
    one detection, exactly as a raster det model would see them; a
    full-height neighbor never captures a half-height stacked line —
    the y-overlap ratio gate is 2-D, not a 1-D y-band);
  * recognition — each line's glyphs concatenated in x order, a
    single space inserted at gaps >= ``space_f`` x the median glyph
    width (word gaps are exactly one empty char slot wide).

The three factors are the head's parameters, loaded from a ``.npz``
artifact and broadcast by ``spark.model_stage.score_det_contours``
exactly like the other heads. Pure functions — shared by the Spark
Arrow stage and tests; the driver oracle is an independent
planted-interval twin in SQL (same-extent dets merged by x-gap).
"""

from __future__ import annotations

from statistics import median

# 3x1 parameter head: (overlap_f, space_f, split_f) — the y-overlap
# ratio gate and two multiples of the page's median glyph width.
DET_WEIGHTS = [[0.5], [0.5], [2.0]]

DET_VERSION = "det-rec-linear-v1"


def detect_lines(page: dict, weights=None) -> list[dict]:
    """ocr_page payload (needs ``glyphs``) → det-model output rows
    ``{x0, y0, x1, y1, text}``, sorted by (y0, x0). Pages without
    glyph evidence yield no detections."""
    w = weights if weights is not None else DET_WEIGHTS
    overlap_f, space_f, split_f = w[0][0], w[1][0], w[2][0]
    glyphs = page.get("glyphs") or []
    if not glyphs:
        return []
    mw = median([g["x1"] - g["x0"] for g in glyphs])
    space_gap = space_f * mw
    split_gap = split_f * mw

    # grow lines left-to-right: each glyph joins the best open line
    # (max y-overlap ratio, then nearest right edge) or starts one
    lines: list[dict] = []  # {y0, y1, x1, glyphs: [...]}
    for g in sorted(glyphs, key=lambda g: (g["x0"], g["y0"])):
        gh = g["y1"] - g["y0"]
        best, best_key = None, None
        for ln in lines:
            ov = (min(g["y1"], ln["y1"]) - max(g["y0"], ln["y0"]))
            ratio = ov / min(gh, ln["y1"] - ln["y0"])
            if ratio < overlap_f:
                continue
            if g["x0"] - ln["x1"] >= split_gap:
                continue
            key = (ratio, ln["x1"])
            if best is None or key > best_key:
                best, best_key = ln, key
        if best is None:
            lines.append({"y0": g["y0"], "y1": g["y1"],
                          "x1": g["x1"], "glyphs": [g]})
        else:
            best["glyphs"].append(g)
            best["x1"] = max(best["x1"], g["x1"])
            best["y0"] = min(best["y0"], g["y0"])
            best["y1"] = max(best["y1"], g["y1"])

    out = []
    for ln in lines:
        run = sorted(ln["glyphs"], key=lambda g: g["x0"])
        text = run[0]["c"]
        for prev, g in zip(run, run[1:]):
            if g["x0"] - prev["x1"] >= space_gap:
                text += " "
            text += g["c"]
        out.append({
            "x0": min(g["x0"] for g in run),
            "y0": min(g["y0"] for g in run),
            "x1": max(g["x1"] for g in run),
            "y1": max(g["y1"] for g in run),
            "text": text,
        })
    out.sort(key=lambda d: (d["y0"], d["x0"]))
    return out


def format_det(d: dict) -> str:
    """Stable wire format for the driver compare: coords to 1dp + the
    recognized text (mirrored by the DuckDB oracle's printf)."""
    return (f"{d['x0']:.1f},{d['y0']:.1f},{d['x1']:.1f},"
            f"{d['y1']:.1f}|{d['text']}")


def contour_blobs(lines: list[dict], tol_f: float = 1.5,
                  top_k: int = 10) -> list[dict]:
    """O4 stand-in: the reference proposes table regions by
    binarizing the raster, taking cv2 contours, and keeping the 10
    largest by area (``table_common.py`` contour top-10). Without a
    raster, the ink evidence is the detected text lines: a contour
    blob is a maximal vertical run of lines whose y-gap to the run so
    far is < ``tol_f`` x the median line height (pure y-chaining —
    the contour of a table spans its full width, so columns of one
    row always share a blob). Returns the ``top_k`` largest blobs as
    ``{rank, x0, y0, x1, y1, area}``, area-descending, ties broken by
    (y0, x0)."""
    if not lines:
        return []
    mh = median([ln["y1"] - ln["y0"] for ln in lines])
    tol = tol_f * mh
    ordered = sorted(lines, key=lambda d: (d["y0"], d["x0"]))
    blobs: list[list[dict]] = [[ordered[0]]]
    reach = ordered[0]["y1"]
    for ln in ordered[1:]:
        if ln["y0"] > reach + tol:
            blobs.append([ln])
        else:
            blobs[-1].append(ln)
        reach = max(reach, ln["y1"])
    out = []
    for b in blobs:
        x0 = min(d["x0"] for d in b)
        y0 = min(d["y0"] for d in b)
        x1 = max(d["x1"] for d in b)
        y1 = max(d["y1"] for d in b)
        out.append({"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                    "area": (x1 - x0) * (y1 - y0)})
    out.sort(key=lambda d: (-d["area"], d["y0"], d["x0"]))
    del out[top_k:]
    for i, d in enumerate(out, 1):
        d["rank"] = i
    return out


def format_contour(d: dict) -> str:
    """Stable wire format (mirrored by the DuckDB oracle printf)."""
    return (f"{d['rank']}|{d['x0']:.1f},{d['y0']:.1f},{d['x1']:.1f},"
            f"{d['y1']:.1f}|{d['area']:.1f}")
