"""Planted real-media corpus: actual PNG/BMP/PGM/PPM/WAV payloads.

Unlike the utf8-ref pseudo-payloads (``ops.multimodal.
media_refs_with_payloads`` — the sandbox blob-store substitute), these
are REAL encoded media bytes built by ``core.codecs`` encoders, so the
distributed decode path (magic sniff → pixel decode → feature /
resize / re-encode) runs end-to-end on genuine codec structure:
multi-filter PNG rows, bottom-up BMP padding, PNM headers, RIFF/WAV
frames.

The correctness gate is encode-side: ``media_truth`` records the
dimensions, format, and byte length of each payload BEFORE encoding
(plus an integer pixel checksum for pytest). The fixture build writes
the payloads and the truth to parquet; the Spark query decodes the
payload parquet and must reproduce the truth — encoder and decoder
are independent inverses, so agreement is a real codec check, not an
identity.

Deterministic: ``np.random.default_rng(seed)`` (PCG64 stream
stability is a numpy compatibility guarantee) + fixed iteration
order.
"""

from __future__ import annotations

import numpy as np

from ..core import codecs, font

N_IMAGES = 64
N_WAVS = 8


def _image_for(i: int) -> np.ndarray:
    """Deterministic test image i: seeded noise + gradient so rows
    differ (exercises Sub/Up/Average/Paeth filters non-trivially)."""
    rng = np.random.default_rng(1000 + i)
    # span the 256 thumbnail-fit boundary so both scale<1 and scale=1
    # arms of the resize arithmetic are exercised
    h = int(rng.integers(8, 520))
    w = int(rng.integers(8, 640))
    kind = i % 4  # gray / rgb / rgba / gray (pnm needs gray or rgb)
    ch = {0: 0, 1: 3, 2: 4, 3: 0}[kind]
    shape = (h, w) if ch == 0 else (h, w, ch)
    base = rng.integers(0, 256, size=shape, dtype=np.uint8)
    ramp = (np.arange(h, dtype=np.int32)[:, None] * 255 // max(h - 1, 1)
            ).astype(np.uint8)
    if ch == 0:
        return ((base.astype(np.int32) + ramp) // 2).astype(np.uint8)
    return ((base.astype(np.int32) + ramp[:, :, None]) // 2).astype(
        np.uint8)


def _encode_for(i: int, arr: np.ndarray) -> tuple[bytes, str]:
    """Rotate payload i through the encoder surface: PNG with each of
    the five row filters + the cycle mode, then BMP / PGM / PPM where
    the array shape allows."""
    slot = i % 8
    if slot < 6:
        mode = "cycle" if slot == 5 else slot
        return codecs.png_encode(arr, filter_mode=mode), "png"
    if slot == 6 and arr.ndim == 3 and arr.shape[2] == 3:
        return codecs.bmp_encode(arr), "bmp"
    if arr.ndim == 2:
        return codecs.pnm_encode(arr), "pgm"
    if arr.ndim == 3 and arr.shape[2] == 3:
        return codecs.pnm_encode(arr), "ppm"
    return codecs.png_encode(arr, filter_mode=4), "png"


def media_payloads() -> list[dict]:
    """The planted corpus: N_IMAGES image rows + N_WAVS wav rows of
    (media_ref, payload)."""
    rows = []
    for i in range(N_IMAGES):
        arr = _image_for(i)
        payload, _fmt = _encode_for(i, arr)
        rows.append({"media_ref": f"media://img/{i:04d}",
                     "payload": payload})
    for i in range(N_WAVS):
        rng = np.random.default_rng(5000 + i)
        n = int(rng.integers(800, 48000))
        ch = 1 + i % 2
        samples = rng.integers(-30000, 30000, size=(n, ch),
                               dtype=np.int16)
        rate = [8000, 16000, 22050, 44100][i % 4]
        rows.append({"media_ref": f"media://wav/{i:04d}",
                     "payload": codecs.wav_encode(samples, rate)})
    return rows


def media_truth() -> list[dict]:
    """Encode-side ground truth for the image rows: dims/format from
    the source array, n_bytes from the encoded payload, px_sum as an
    exact integer pixel checksum (pytest-only; the SQL oracle checks
    dims/format/n_bytes and computes the thumbnail fit itself)."""
    rows = []
    for i in range(N_IMAGES):
        arr = _image_for(i)
        payload, fmt = _encode_for(i, arr)
        rows.append({
            "media_ref": f"media://img/{i:04d}",
            "src_width": int(arr.shape[1]),
            "src_height": int(arr.shape[0]),
            "format": fmt,
            "n_bytes": len(payload),
            "px_sum": int(arr.astype(np.int64).sum()),
        })
    return rows


N_SCANS = 24
SCAN_H, SCAN_W = 160, 220


def _scan_lines_for(i: int) -> list[dict]:
    """Planted text-line layout for scan page i: 2-5 ink lines with
    1-3 word gaps each. Vertical separation >= 10 px (outside the
    CNN's +-2 px vertical receptive spread), gap width 3 px (inside
    the 1x5 horizontal max-pool's bridge reach) — so the forward pass
    must merge words and must NOT merge lines."""
    rng = np.random.default_rng(9000 + i)
    lines, y = [], 8
    for _ in range(int(rng.integers(2, 6))):
        h = int(rng.integers(4, 9))
        if y + h > SCAN_H - 8:
            break
        x0 = int(rng.integers(6, 30))
        x1 = int(rng.integers(x0 + 40, SCAN_W - 6))
        n_gaps = int(rng.integers(1, 4))
        gaps = sorted(int(g) for g in rng.choice(
            np.arange(x0 + 8, x1 - 11, 8), size=min(
                n_gaps, max(1, (x1 - x0 - 20) // 8)), replace=False))
        lines.append({"x0": x0, "y0": y, "x1": x1, "y1": y + h,
                      "gaps": gaps})
        y += h + int(rng.integers(10, 26))
    return lines


def scan_payloads() -> list[dict]:
    """Scan-page corpus: each page is a REAL PNG (core.codecs encoder)
    of the rendered planted lines — the input to the image → CNN →
    DBNet-postprocess detection path."""
    from ..core import codecs, nn
    rows = []
    for i in range(N_SCANS):
        scan = nn.render_lines(_scan_lines_for(i), SCAN_H, SCAN_W)
        rows.append({"media_ref": f"media://scan/{i:04d}",
                     "payload": codecs.png_encode(
                         scan, filter_mode=i % 5)})
    return rows


# ------------------------------------------- OCR scan-page corpus

N_OCR_SCANS = 24
OCR_H, OCR_W = 240, 320
CELL_PAD = 8          # cell interior padding (keeps det crops, which
#                       unclip ~12 px past the glyph extent, from
#                       reaching a neighbour cell's ink)
CELL_H = 7 + 2 * CELL_PAD
_WORDS = ("alpha beta gamma delta total qty name rate sum unit city "
          "item code note page zone mean peak base fee tax net max "
          "min avg id no 12 99 307 4815 x1 b2 2024").split()


def _ocr_layout_for(i: int) -> dict:
    """Planted page layout i: usually one ruled table (sometimes with
    a merged cell or 2-px-thick rulings) plus 0-3 free text lines.
    Every 6th page has no table (free text only). Deterministic."""
    rng = np.random.default_rng(12000 + i)
    layout = {"table": None, "lines": []}
    if i % 6 != 5:
        n_rows = int(rng.integers(2, 5))
        n_cols = int(rng.integers(2, 4))
        texts = [[" ".join(rng.choice(_WORDS, size=rng.integers(1, 3)))
                  for _ in range(n_cols)] for _ in range(n_rows)]
        # ~10% empty cells (never a whole row/col empty by luck of the
        # small grid — acceptable; the truth rows simply omit them)
        for r in range(n_rows):
            for c in range(n_cols):
                if rng.random() < 0.10:
                    texts[r][c] = ""
        merged = None
        if i % 4 == 3 and n_cols >= 2:
            # merge (r, c)+(r, c+1): the interior vertical ruling is
            # not drawn across row r; keep the merged text one word so
            # it fits the left base cell
            r = int(rng.integers(0, n_rows))
            c = int(rng.integers(0, n_cols - 1))
            texts[r][c] = str(rng.choice(_WORDS))
            texts[r][c + 1] = ""
            merged = (r, c)
        col_w = [max([font.text_width(texts[r][c])
                      for r in range(n_rows)] + [18]) + 2 * CELL_PAD + 1
                 for c in range(n_cols)]
        while sum(col_w) > OCR_W - 40 and n_cols > 2:
            n_cols -= 1
            col_w = col_w[:n_cols]
            texts = [row[:n_cols] for row in texts]
            if merged and merged[1] + 1 >= n_cols:
                merged = None
        tx = int(rng.integers(12, max(13, OCR_W - sum(col_w) - 12)))
        ty = int(rng.integers(10, 26))
        layout["table"] = {
            "tx": tx, "ty": ty, "n_rows": n_rows, "n_cols": n_cols,
            "col_w": col_w, "texts": texts, "merged": merged,
            "thick": 2 if i % 5 == 2 else 1,
        }
        y_free = ty + n_rows * (CELL_H + 1) + 1 + 30
    else:
        y_free = int(rng.integers(15, 40))
    for _ in range(int(rng.integers(0 if layout["table"] else 1, 4))):
        text = " ".join(rng.choice(_WORDS, size=rng.integers(2, 5)))
        while font.text_width(text) > OCR_W - 30:
            text = text.rsplit(" ", 1)[0]
        if y_free + 7 > OCR_H - 10:
            break
        x0 = int(rng.integers(12, OCR_W - font.text_width(text) - 12))
        layout["lines"].append({"x0": x0, "y0": y_free, "text": text})
        y_free += 7 + int(rng.integers(25, 40))
    return layout


def _render_ocr_page(layout: dict) -> np.ndarray:
    """Rasterize a planted layout to a scanner-convention page."""
    page = np.full((OCR_H, OCR_W), 255, dtype=np.uint8)
    t = layout["table"]
    if t is not None:
        xs = [t["tx"]]
        for w in t["col_w"]:
            xs.append(xs[-1] + w)
        ys = [t["ty"]]
        for _ in range(t["n_rows"]):
            ys.append(ys[-1] + CELL_H + 1)
        th = t["thick"]
        for y in ys:
            page[y:y + th, xs[0]:xs[-1] + 1] = 0
        for ci, x in enumerate(xs):
            if t["merged"] is not None and ci == t["merged"][1] + 1:
                r = t["merged"][0]
                # draw this interior ruling everywhere EXCEPT across
                # row r (the merged pair's shared boundary)
                page[ys[0]:ys[r] + 1, x:x + th] = 0
                page[ys[r + 1]:ys[-1] + 1, x:x + th] = 0
            else:
                page[ys[0]:ys[-1] + 1, x:x + th] = 0
        for r in range(t["n_rows"]):
            for c in range(t["n_cols"]):
                txt = t["texts"][r][c]
                if not txt:
                    continue
                font.stamp(page, font.render_text(txt),
                           ys[r] + t["thick"] + CELL_PAD,
                           xs[c] + t["thick"] + CELL_PAD)
    for ln in layout["lines"]:
        font.stamp(page, font.render_text(ln["text"]),
                   ln["y0"], ln["x0"])
    return page


def ocr_scan_payloads() -> list[dict]:
    """The OCR scan corpus: real PNG pages of planted ruled tables +
    free text, input to the full image → rulings/det/rec/lattice
    pipeline (``core.ocrpage.ocr_scan_page``)."""
    from ..core import codecs
    rows = []
    for i in range(N_OCR_SCANS):
        page = _render_ocr_page(_ocr_layout_for(i))
        rows.append({"media_ref": f"media://ocr/{i:04d}",
                     "payload": codecs.png_encode(
                         page, filter_mode=i % 5)})
    return rows


def ocr_scan_truth() -> list[dict]:
    """ENCODE-SIDE ground truth wire rows for the OCR scan corpus —
    computed from the plants alone (never by running the pipeline), so
    golden agreement is a real end-to-end check: render → PNG encode →
    decode → rulings → det CNN → rec CNN → lattice must round-trip the
    planted structure and strings exactly.

    Wire rows per page, offsets sequential: ``ocr_shape``
    ('<rows>x<cols>'), then every non-empty logical cell
    (``ocr_cell``, 'r,c|text' in (row, col) order), ``ocr_html`` (the
    serialized table), then each free line (``ocr_line``, reading
    order)."""
    from ..core.html import cells_to_html
    from ..core.lattice import LogicalCell
    rows = []
    for i in range(N_OCR_SCANS):
        ref = f"media://ocr/{i:04d}"
        layout = _ocr_layout_for(i)
        off = 0

        def emit(kind, text):
            nonlocal off
            rows.append({"media_ref": ref, "offset": off,
                         "kind": kind, "text": text})
            off += 1

        t = layout["table"]
        if t is not None:
            emit("ocr_shape", f"{t['n_rows']}x{t['n_cols']}")
            cells = []
            for r in range(t["n_rows"]):
                c = 0
                while c < t["n_cols"]:
                    span = 2 if t["merged"] == (r, c) else 1
                    cells.append(LogicalCell(
                        row=r, col=c, row_span=1, col_span=span,
                        x0=0, y0=0, x1=0, y1=0,
                        texts=[t["texts"][r][c]]
                        if t["texts"][r][c] else []))
                    c += span
            for cell in cells:
                if cell.text:
                    emit("ocr_cell",
                         f"{cell.row},{cell.col}|{cell.text}")
            emit("ocr_html", cells_to_html(cells))
        for ln in layout["lines"]:
            emit("ocr_line", ln["text"])
    return rows


N_LAYOUT_SCANS = 16
LAYOUT_H = 300  # taller canvas: figures plant below the free text


def _layout_page_for(i: int):
    """Page i for the layout corpus: an OCR layout (table + free
    lines) on a taller canvas plus 0-2 planted figure blocks (one
    solid, one 90 %-dense with pseudo-random holes). Returns
    (page, truth_regions) where truth carries the class and the TIGHT
    ink bbox of every planted object, reading-ordered — all derived
    encode-side."""
    rng = np.random.default_rng(15000 + i)
    layout = _ocr_layout_for(i)
    page = np.full((LAYOUT_H, OCR_W), 255, dtype=np.uint8)
    page[:OCR_H] = _render_ocr_page(layout)
    regions = []
    t = layout["table"]
    if t is not None:
        th = t["thick"]
        x1 = t["tx"] + sum(t["col_w"]) + th - 1
        y1 = t["ty"] + t["n_rows"] * (CELL_H + 1) + th - 1
        regions.append(("table", t["tx"], t["ty"], x1, y1))
    for ln in layout["lines"]:
        regions.append(("text", ln["x0"], ln["y0"],
                        ln["x0"] + font.text_width(ln["text"]) - 1,
                        ln["y0"] + font.GLYPH_H - 1))
    n_figs = i % 3
    if n_figs >= 1:
        fh, fw = int(rng.integers(28, 45)), int(rng.integers(50, 90))
        fy, fx = int(rng.integers(245, 298 - fh)), int(rng.integers(15, 120))
        page[fy:fy + fh, fx:fx + fw] = 0
        regions.append(("figure", fx, fy, fx + fw - 1, fy + fh - 1))
    if n_figs >= 2:
        fh, fw = int(rng.integers(28, 42)), int(rng.integers(45, 70))
        fy, fx = int(rng.integers(245, 298 - fh)), int(rng.integers(230, 318 - fw))
        holes = rng.random((fh, fw)) < 0.9
        page[fy:fy + fh, fx:fx + fw][holes] = 0
        ys, xs = np.nonzero(holes)
        regions.append(("figure", fx + int(xs.min()), fy + int(ys.min()),
                        fx + int(xs.max()), fy + int(ys.max())))
    regions.sort(key=lambda r: (r[2], r[1]))
    return page, regions


def layout_scan_payloads() -> list[dict]:
    """Layout-analysis corpus: real PNGs of table/text/figure pages —
    input to the region-proposal + linear-head classifier
    (``core.ocrpage.layout_regions``)."""
    from ..core import codecs
    rows = []
    for i in range(N_LAYOUT_SCANS):
        page, _regions = _layout_page_for(i)
        rows.append({"media_ref": f"media://layout/{i:04d}",
                     "payload": codecs.png_encode(
                         page, filter_mode=i % 5)})
    return rows


def layout_scan_truth() -> list[dict]:
    """Encode-side planted regions: class + tight ink bbox, reading
    order."""
    rows = []
    for i in range(N_LAYOUT_SCANS):
        _page, regions = _layout_page_for(i)
        for j, (label, x0, y0, x1, y1) in enumerate(regions):
            rows.append({"media_ref": f"media://layout/{i:04d}",
                         "offset": j,
                         "label": f"{label}|{x0},{y0},{x1},{y1}"})
    return rows


N_ORIENT_SCANS = 16


def orient_scan_payloads() -> list[dict]:
    """Orientation corpus: the first 16 OCR layouts, each rendered
    upright then rotated by a planted multiple of 90° (page i is
    rotated so that a (i%4)·90° counter-clockwise correction restores
    it). Real PNGs — input to the rotate-and-read orientation vote
    (``core.ocrpage.orient_scan_page``)."""
    from ..core import codecs
    rows = []
    for i in range(N_ORIENT_SCANS):
        upright = _render_ocr_page(_ocr_layout_for(i))
        a = i % 4
        page = np.rot90(upright, -a) if a else upright
        rows.append({"media_ref": f"media://orient/{i:04d}",
                     "payload": codecs.png_encode(
                         np.ascontiguousarray(page),
                         filter_mode=i % 5)})
    return rows


def orient_scan_truth() -> list[dict]:
    """Encode-side planted correction angles."""
    return [{"media_ref": f"media://orient/{i:04d}",
             "angle": 90 * (i % 4)} for i in range(N_ORIENT_SCANS)]


def wav_truth() -> list[dict]:
    """Encode-side ground truth for the wav rows."""
    rows = []
    for i in range(N_WAVS):
        rng = np.random.default_rng(5000 + i)
        n = int(rng.integers(800, 48000))
        ch = 1 + i % 2
        samples = rng.integers(-30000, 30000, size=(n, ch),
                               dtype=np.int16)
        rate = [8000, 16000, 22050, 44100][i % 4]
        rows.append({
            "media_ref": f"media://wav/{i:04d}",
            "sample_rate": rate, "n_channels": ch, "n_frames": n,
            "duration_ms": n * 1000 // rate,
            "peak": int(np.abs(samples.astype(np.int32)).max()),
        })
    return rows
