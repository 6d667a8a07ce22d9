"""Per-span extraction dispatch — the single deterministic function both
the Spark Arrow stage (``pdf_table_spark.spark.stages``) and the golden
oracle (``pdf_table_spark.fixtures``) execute, guaranteeing
span-sequence equality by construction and testing only the distributed
plumbing on the Spark side.

Input span kinds (FIXTURES.md §1):
  text        plain prose line → one 'paragraph' fragment
  html_table  PubTabNet-style fragment → canonicalized 'table_html'
  pdf_page    JSON page object model → full extraction pipeline:
              ruled tables (lattice) → stream tables → paragraphs →
              image passthrough, in reading order
  image       embedded figure → 'image' fragment (media_ref passthrough)

Output fragments: (frag_idx, kind, text, media_ref) per input span;
kinds 'paragraph' | 'table_html' | 'image'. Global output offsets are
assigned after reassembly by (span offset, frag_idx) order.

Pipeline stage mapping (reference lifecycle ocr_system_task.py:549-734):
  decode → lattice/stream structure decode → text assignment →
  false-table suppression (F6: table bbox matching an image, IoU>=0.5,
  is dropped) → remainder anti-join (U1) → paragraph merge (W1) →
  reading-order serialization (O1-O3) → HTML (X9).
"""

from __future__ import annotations

import json
from statistics import median

import orjson

from . import geometry as G
from . import html as H
from . import lattice as L
from . import paragraph as P
from . import stream as S
from .textproc import flag_font_size, ocr_post_process

FALSE_TABLE_IOU = 0.5  # reference check_table_match_images threshold
# F3: tiny decorative images are dropped outright (reference
# filter_pdf_image, pdf_utils.py:1748-1768, threshold 20 source px²;
# mapped onto bbox area in this vector data model)
TINY_IMAGE_AREA = 20.0


def rotate_page_90cw(page: dict) -> dict:
    """Rotate a page object model 90° clockwise (M1 orientation
    transform, the deterministic core of the reference's
    preprocess/rotation stage ``ocr_table_preprocess_task.py:27-206``).
    Shared by the fixture generator (rotating forward) and
    ``normalize_rotation`` (rotating back), so round-trip equality is
    structural. Point map: (x, y) → (y, W - x); dims swap; h/v text
    direction flips."""
    w = page["width"]

    def pt(x, y):
        return y, w - x

    def box(o):
        # pt() of both corners, then min/max per axis (spelled as
        # conditionals: this runs for every object of a rotated page)
        xa, xb = o["y0"], o["y1"]
        ya, yb = w - o["x0"], w - o["x1"]
        return {**o, "x0": xb if xb < xa else xa, "y0": yb if yb < ya else ya,
                "x1": xb if xb > xa else xa, "y1": yb if yb > ya else ya}

    out = {**page, "width": page["height"], "height": w,
           "text_lines": [
               {**box(t),
                "dir": ("v" if t.get("dir", "h") == "h" else "h")}
               for t in page.get("text_lines") or []],
           "rects": [box(r) for r in page.get("rects") or []],
           "images": [box(i) for i in page.get("images") or []]}
    if page.get("layout"):
        out["layout"] = [box(ly) for ly in page["layout"]]
    if page.get("segs"):
        # explicit ruling segments: endpoints are true points (possibly
        # diagonal), mapped without bbox normalization
        def seg(s):
            x0a, y0a = pt(s["x0"], s["y0"])
            x1a, y1a = pt(s["x1"], s["y1"])
            return {**s, "x0": x0a, "y0": y0a, "x1": x1a, "y1": y1a}
        out["segs"] = [seg(s) for s in page["segs"]]
    return out


def normalize_rotation(page: dict) -> dict:
    """Undo a declared 0/90/180/270 content rotation: apply the 90°-cw
    transform (4 - k) times. The v0 data model declares orientation in
    the page object (``rotation``); swapping in the reference's PULC
    orientation classifier only changes how k is obtained."""
    rot = int(page.get("rotation") or 0)
    k = (rot // 90) % 4
    for _ in range((4 - k) % 4):
        page = rotate_page_90cw(page)
    if "rotation" in page:
        page = {k2: v for k2, v in page.items() if k2 != "rotation"}
    return page


def estimate_skew_deg(segs, max_abs_deg: float = 10.0) -> float:
    """Small-angle skew estimate: median deviation of ruling segments
    from their nearest axis — the deterministic core of the reference's
    Hough/line-angle deskew (``image_processing.py:268-336,447-604``).
    Segments steeper than ``max_abs_deg`` off-axis are ignored (they
    are genuinely diagonal content, not skew)."""
    import math
    devs = []
    for s in segs:
        dx = s["x1"] - s["x0"]
        dy = s["y1"] - s["y0"]
        if dx == 0 and dy == 0:
            continue
        ang = math.degrees(math.atan2(dy, dx))
        # deviation from the nearest multiple of 90°
        dev = (ang + 45.0) % 90.0 - 45.0
        if abs(dev) <= max_abs_deg:
            devs.append(dev)
    if not devs:
        return 0.0
    return median(devs)


def deskew_page(page: dict) -> dict:
    """M1 small-angle deskew. A page carrying explicit ruling
    ``segs`` (endpoints may be slightly diagonal — the vector analogue
    of a skewed scan) is rotated back by the estimated angle around the
    page center: seg endpoints exactly, text/image boxes by their
    centers (extents kept — the small-angle approximation the raster
    deskew also makes). Recovered near-axis segs are re-emitted as thin
    rects for the normal lattice path."""
    import math
    segs = page.get("segs") or []
    if not segs:
        return page
    theta = estimate_skew_deg(segs)
    cx, cy = page["width"] / 2.0, page["height"] / 2.0
    cos_t = math.cos(math.radians(-theta))
    sin_t = math.sin(math.radians(-theta))

    def rot(x, y):
        dx, dy = x - cx, y - cy
        return cx + dx * cos_t - dy * sin_t, cy + dx * sin_t + dy * cos_t

    def unskew_box(o):
        bx, by = rot((o["x0"] + o["x1"]) / 2.0, (o["y0"] + o["y1"]) / 2.0)
        w = (o["x1"] - o["x0"]) / 2.0
        h = (o["y1"] - o["y0"]) / 2.0
        return {**o, "x0": bx - w, "y0": by - h, "x1": bx + w, "y1": by + h}

    # pre-existing ordinary rects rotate with everything else — mixing
    # skewed segs with unrotated rects would intersect the two frames
    # and fabricate/miss joints
    rects = [unskew_box(r) for r in page.get("rects") or []]
    for s in segs:
        x0, y0 = rot(s["x0"], s["y0"])
        x1, y1 = rot(s["x1"], s["y1"])
        if abs(x1 - x0) >= abs(y1 - y0):  # near-horizontal
            yc = (y0 + y1) / 2.0
            rects.append({"x0": min(x0, x1), "y0": yc - 0.5,
                          "x1": max(x0, x1), "y1": yc + 0.5})
        else:
            xc = (x0 + x1) / 2.0
            rects.append({"x0": xc - 0.5, "y0": min(y0, y1),
                          "x1": xc + 0.5, "y1": max(y0, y1)})

    out = {k: v for k, v in page.items() if k != "segs"}
    out["rects"] = rects
    out["text_lines"] = [unskew_box(t)
                         for t in page.get("text_lines") or []]
    out["images"] = [unskew_box(i) for i in page.get("images") or []]
    if page.get("layout"):
        out["layout"] = [unskew_box(ly) for ly in page["layout"]]
    return out


FLAVORS = ("auto", "lattice", "stream")

_DIGITS = bytes.maketrans(b"123456789", b"000000000")


def load_page(payload: str):
    """``json.loads(payload)`` for a page payload (``pdf_page``,
    ``ocr_page``), parsed by orjson where that gives the same value.

    orjson rejects what json accepts beyond the JSON spec (NaN,
    Infinity, out-of-range floats, lone surrogates) and reads an
    integer outside 64 bits as a float. Such a payload (one orjson or
    UTF-8 refuses, or any with a run of 19 digits) goes to json, which
    also raises the error a broken payload gets."""
    try:
        raw = payload.encode()
        if b"0" * 19 not in raw.translate(_DIGITS):
            return orjson.loads(raw)
    except (UnicodeEncodeError, orjson.JSONDecodeError):
        pass
    return json.loads(payload)


def extract_pdf_page(page_json: str, media_ref: str,
                     flavor: str = "auto"):
    """Run the full deterministic extraction pipeline on one page.

    ``flavor`` mirrors the reference's ``read_pdf(flavor=…)`` kwarg
    (``table_extractor.py:55-205``): 'auto' (the reference's unified
    'pdf' behavior — ruled tables first, whitespace tables over the
    remainder), 'lattice' (ruled only), 'stream' (whitespace only —
    ruling lines are ignored entirely, like camelot's stream flavor).

    Returns list of (kind, text, media_ref) in reading order.
    """
    if flavor not in FLAVORS:
        raise ValueError(f"unknown flavor {flavor!r}; one of {FLAVORS}")
    page = load_page(page_json)
    if page.get("rotation"):
        page = normalize_rotation(page)
    if page.get("segs"):
        page = deskew_page(page)
    text_lines = page.get("text_lines") or []
    rects = page.get("rects") or []
    images = page.get("images") or []

    # X3: lines carrying per-char heights get sub/superscript <s> flags
    text_lines = [
        {**t, "text": flag_font_size(t["text"], t["char_heights"])}
        if t.get("char_heights") else t
        for t in text_lines]
    # U3: >80%-overlap duplicate text boxes dropped (page-wide — the
    # reference dedups inside every text_in_bbox call; one pass up
    # front has the same effect on each table's text set)
    text_lines = G.dedup_overlapping_boxes(text_lines)
    # F3: tiny decorative images neither emit fragments nor suppress
    # tables via F6
    images = [im for im in images
              if (im["x1"] - im["x0"]) * (im["y1"] - im["y0"])
              >= TINY_IMAGE_AREA]

    # vertical text (O2): margin captions / sidebars — never table or
    # paragraph material; each becomes its own fragment. Final position
    # in the output follows the page-global reading order (top-down,
    # left-right) like every other fragment; the reference's
    # vertical-group sort (x0, -y0) (``pdf_utils.py:1578-1579``) is
    # applied here only as the tie-break among co-located v-lines.
    v_lines = sorted(
        (t for t in text_lines if t.get("dir") == "v"),
        key=lambda t: (t["x0"], -t["y0"]))
    text_lines = [t for t in text_lines if t.get("dir") != "v"]

    # --- ruled (lattice) tables -------------------------------------
    if flavor == "stream":
        tables, consumed = [], set()
    else:
        tables, consumed = L.extract_ruled_tables(rects, text_lines)

    # F6/J4 false-table suppression: a "table" whose bbox coincides
    # with an embedded image (IoU >= 0.5, F6) or lies inside a
    # figure-labeled layout region (score >= 0.8, box containment —
    # J4/F5, reference filter_layout_figure) is a mis-detected figure →
    # drop it and release its text back to the page.
    kept_tables = []
    img_boxes = [(im["x0"], im["y0"], im["x1"], im["y1"])
                 for im in images] if tables else []
    fig_boxes = [
        (ly["x0"], ly["y0"], ly["x1"], ly["y1"])
        for ly in page.get("layout") or []
        if str(ly.get("label", "")).lower() == "figure"
        and float(ly.get("score", 0.0)) >= 0.8]
    for t in tables:
        if any(G.iou(t.bbox, ib) >= FALSE_TABLE_IOU for ib in img_boxes) \
                or any(G.box_contains(fb, t.bbox) for fb in fig_boxes):
            for i in t.consumed_ids:
                consumed.discard(i)  # lines return whole to the page
            continue
        kept_tables.append(t)

    # --- remainder text (U1 anti-join) --------------------------------
    remainder = [t for i, t in enumerate(text_lines) if i not in consumed]
    for t in kept_tables:
        # F1 boundary-split outside pieces rejoin the page prose
        remainder.extend(t.released)

    # --- stream tables over the remainder (Nurminen, A6/A7/A4) --------
    if flavor == "lattice":
        stream_tables, s_consumed = [], set()
    else:
        stream_tables, s_consumed = S.extract_stream_tables(remainder)
    for cells, _bbox, _acc, _ws in stream_tables:
        for c in cells:
            if c.texts:
                c.texts = [ocr_post_process(x) for x in c.texts]
    prose_lines = [t for i, t in enumerate(remainder)
                   if i not in s_consumed]

    # --- paragraphs ----------------------------------------------------
    paragraphs = P.merge_paragraphs(prose_lines)

    # --- assemble fragments in reading order ---------------------------
    frags = []
    for t in kept_tables:
        for c in t.cells:
            if c.texts:
                c.texts = [ocr_post_process(x) for x in c.texts]
        html = H.cells_to_html(t.cells, table_width=t.bbox[2] - t.bbox[0])
        frags.append((t.bbox[3], t.bbox[0], "table_html", html, "",
                      t.accuracy, t.whitespace))
    for cells, bbox, acc, ws in stream_tables:
        html = H.cells_to_html(cells, table_width=None)
        frags.append((bbox[3], bbox[0], "table_html", html, "", acc, ws))
    for p in paragraphs:
        frags.append((p["y1"], p["x0"], "paragraph", p["text"], "",
                      None, None))
    for t in v_lines:
        frags.append((t["y1"], t["x0"], "paragraph",
                      t["text"].replace("\n", ""), "", None, None))
    for im in images:
        frags.append((im["y1"], im["x0"], "image", "",
                      im.get("name") or media_ref, None, None))
    # top of page first (-y_top), then left-to-right
    frags.sort(key=lambda f: (-f[0], f[1]))
    return [(k, txt, ref, acc, ws)
            for _, _, k, txt, ref, acc, ws in frags]


def extract_span(kind: str, text: str, media_ref: str,
                 flavor: str = "auto"):
    """Dispatch one input span → list of (kind, text, media_ref,
    accuracy, whitespace); the last two are the A9 table-quality
    metrics, None on non-table fragments. ``flavor`` selects the
    pdf_page table decoder (see ``extract_pdf_page``); other span
    kinds are flavor-independent.

    Poison containment: at 10^12 documents some page payloads WILL be
    malformed; a decode exception must quarantine the span, never kill
    the job. Failures become an 'error' output span carrying the
    exception class and the input media_ref, so bad inputs stay
    visible, greppable, and re-driveable — the distributed analogue of
    the reference's per-page try/except logging."""
    if kind == "text":
        return [("paragraph", text.replace("\n", ""), "", None, None)] \
            if text else []
    if kind == "image":
        return [("image", "", media_ref, None, None)]
    try:
        if kind == "html_table":
            # canonicalized pass-through: quality metrics require page
            # geometry, which an HTML fragment doesn't carry
            return [("table_html", H.canonicalize_table_html(text), "",
                     None, None)]
        if kind == "pdf_page":
            return extract_pdf_page(text, media_ref, flavor)
        if kind == "ocr_page":
            # imaged-document path: det/rec/TSR stand-in outputs →
            # J3 3-tier match + X10 token splice (core.ocrmatch)
            from .ocrmatch import extract_ocr_page
            return extract_ocr_page(text)
        if kind == "html_page":
            # web-document path: boilerplate strip + DOM-heuristic
            # main-content extraction (core.htmlpage)
            from .htmlpage import extract_html_page
            return extract_html_page(text)
    except Exception as exc:  # noqa: BLE001 — quarantine, don't crash
        return [("error", f"{kind}:{exc.__class__.__name__}", media_ref,
                 None, None)]
    return []  # unknown kinds are dropped (forward compatibility)


def extract_document(spans, flavor: str = "auto"):
    """Single-process whole-document extraction — the golden oracle.

    ``spans``: iterable of dicts with kind/text/media_ref/offset.
    Returns list of output span dicts with dense offsets, identical to
    what the Spark pipeline reassembles.
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    out, off = [], 0
    for s in ordered:
        for kind, text, ref, acc, ws in extract_span(
                s["kind"], s.get("text") or "", s.get("media_ref") or "",
                flavor):
            out.append({"kind": kind, "text": text,
                        "media_ref": ref, "offset": off,
                        "src_offset": s["offset"],
                        "accuracy": acc, "whitespace": ws})
            off += 1
    return out
