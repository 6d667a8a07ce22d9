"""Numpy CNN inference: the forward-pass half of the model seam.

The reference's detection path runs a trained DBNet backbone
(``model/db_net/nets/``, torch/onnx forward pass) whose output — a
per-pixel text-probability map — feeds the deterministic postprocess
this repo already implements (``core.dbnet``). Until now the forward
pass itself was absent: the prob map arrived as a planted contract
payload. This module supplies a REAL convolutional forward pass in
pure numpy — im2col conv2d, relu, stride-1 max-pool dilation,
sigmoid — so an actual page IMAGE (decoded by ``core.codecs``) runs
image → CNN → probability map → ``db_postprocess`` → boxes with no
planted model output anywhere on the path.

No torch and no trained weights exist in this sandbox, so the shipped
``DET_CNN`` weights are hand-constructed rather than learned: conv1
computes local ink density (box kernel) and horizontal ink runs,
the 1x5 stride-1 max-pool closes inter-character gaps the way a
trained DBNet's wide receptive field does, and conv2 + a steep
sigmoid sharpen the result into a near-binary text-region map. The
ARCHITECTURE and the execution path are exactly what a trained
checkpoint would use — swap the ``.npz`` tensors for trained ones and
nothing else changes. All arithmetic is float64 with a fixed
operation order, so the map is bit-identical across executors and the
single-process golden builder.

Layout conventions: images are (H, W) float64 in [0, 1] with 1 = ink;
conv weights are (C_out, C_in, KH, KW); padding is zero 'same'.
"""

from __future__ import annotations

import numpy as np

# ------------------------------------------------------------ ops


def conv2d(x: np.ndarray, w: np.ndarray,
           b: np.ndarray | None = None) -> np.ndarray:
    """'same' zero-padded 2-D convolution (cross-correlation, the CNN
    convention). x: (C_in, H, W); w: (C_out, C_in, KH, KW);
    returns (C_out, H, W). im2col + one matmul — the vectorized path;
    no Python per-pixel loops."""
    c_in, h, wd = x.shape
    c_out, c_in_w, kh, kw = w.shape
    if c_in != c_in_w:
        raise ValueError(f"conv2d: {c_in} input channels, "
                         f"weights expect {c_in_w}")
    ph, pw = kh // 2, kw // 2
    xp = np.zeros((c_in, h + 2 * ph, wd + 2 * pw), dtype=np.float64)
    xp[:, ph:ph + h, pw:pw + wd] = x
    # im2col via as_strided: (C_in, KH, KW, H, W) view, no copy
    s = xp.strides
    cols = np.lib.stride_tricks.as_strided(
        xp, shape=(c_in, kh, kw, h, wd),
        strides=(s[0], s[1], s[2], s[1], s[2]), writeable=False)
    out = np.einsum("oikl,iklhw->ohw", w.astype(np.float64), cols,
                    optimize=True)
    if b is not None:
        out += np.asarray(b, dtype=np.float64)[:, None, None]
    return out


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


def sigmoid(x: np.ndarray) -> np.ndarray:
    # split by sign for numerical stability (no overflow warnings)
    out = np.empty_like(x, dtype=np.float64)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    e = np.exp(x[~pos])
    out[~pos] = e / (1.0 + e)
    return out


def maxpool2d(x: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Stride-1 'same' max pool over (C, H, W) — the dilation
    component (DBNet's trained receptive field bridges character gaps;
    this does it morphologically). Zero-padded, odd kernels."""
    if kh % 2 == 0 or kw % 2 == 0:
        raise ValueError("maxpool2d: odd kernels only")
    c, h, wd = x.shape
    ph, pw = kh // 2, kw // 2
    xp = np.full((c, h + 2 * ph, wd + 2 * pw), -np.inf)
    xp[:, ph:ph + h, pw:pw + wd] = x
    s = xp.strides
    win = np.lib.stride_tricks.as_strided(
        xp, shape=(c, kh, kw, h, wd),
        strides=(s[0], s[1], s[2], s[1], s[2]), writeable=False)
    return win.max(axis=(1, 2))


def minpool2d(x: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Stride-1 'same' min pool (morphological erosion) over
    (C, H, W). +inf padded so borders erode, odd kernels."""
    if kh % 2 == 0 or kw % 2 == 0:
        raise ValueError("minpool2d: odd kernels only")
    c, h, wd = x.shape
    ph, pw = kh // 2, kw // 2
    xp = np.full((c, h + 2 * ph, wd + 2 * pw), np.inf)
    xp[:, ph:ph + h, pw:pw + wd] = x
    s = xp.strides
    win = np.lib.stride_tricks.as_strided(
        xp, shape=(c, kh, kw, h, wd),
        strides=(s[0], s[1], s[2], s[1], s[2]), writeable=False)
    return win.min(axis=(1, 2))


def morph_open(x: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Morphological opening (erode then dilate) with a kh x kw
    structuring element — keeps only features the element fits inside
    (long thin kernels isolate ruling lines from glyph ink)."""
    return maxpool2d(minpool2d(x, kh, kw), kh, kw)


# ----------------------------------------------------- the det CNN

DETCNN_VERSION = "det-cnn-v1"

# conv1 (2,1,3,3): ch0 = 3x3 ink density, ch1 = horizontal 1x3 run
_C1_W = np.zeros((2, 1, 3, 3))
_C1_W[0, 0] = 1.0 / 9.0
_C1_W[1, 0, 1, :] = 1.0 / 3.0
_C1_B = np.zeros(2)

# conv2 (1,2,3,3): re-mix the dilated maps — ch0 weighted 3x3 mean,
# ch1 center tap — into a pre-activation score; bias tuned so density
# >= ~0.35 lands well past the sigmoid knee
_C2_W = np.zeros((1, 2, 3, 3))
_C2_W[0, 0] = 8.0 / 9.0
_C2_W[0, 1, 1, 1] = 4.0
_C2_B = np.array([-4.0])

SIG_GAIN = 6.0  # final sharpening: sigmoid(SIG_GAIN * preact)

DET_CNN = {"c1_w": _C1_W, "c1_b": _C1_B,
           "c2_w": _C2_W, "c2_b": _C2_B,
           "gain": np.array([SIG_GAIN]), "pool": np.array([1.0, 5.0])}


def det_forward(img: np.ndarray, weights: dict | None = None
                ) -> np.ndarray:
    """The detection forward pass: (H, W) ink image in [0,1] →
    (H, W) text-probability map in (0,1).

      conv1 3x3 (1→2) → relu → maxpool 1x5 stride 1 (horizontal
      dilation) → conv2 3x3 (2→1) → sigmoid(gain · x)

    ``weights``: dict of tensors (the ``.npz`` artifact contents);
    None → the built-in hand-constructed DET_CNN."""
    w = weights if weights is not None else DET_CNN
    x = np.asarray(img, dtype=np.float64)[None, :, :]
    if "pre" in w:  # optional leading dilation layer (OCR_DET_CNN):
        # glyph ink is sparse (~0.3 density inside a letter); a 3x3
        # max-pool solidifies letterforms so the density filters see
        # bar-like mass, the way a trained backbone's first conv
        # stack would respond to body text
        pkh, pkw = (int(v) for v in np.asarray(w["pre"]).ravel())
        x = maxpool2d(x, pkh, pkw)
    x = relu(conv2d(x, np.asarray(w["c1_w"]), np.asarray(w["c1_b"])))
    ph, pw = (int(v) for v in np.asarray(w["pool"]).ravel())
    x = maxpool2d(x, ph, pw)
    x = conv2d(x, np.asarray(w["c2_w"]), np.asarray(w["c2_b"]))
    gain = float(np.asarray(w["gain"]).ravel()[0])
    return sigmoid(gain * x)[0]


# ------------------------------------------------- the OCR det CNN

OCRCNN_VERSION = "ocr-cnn-v1"  # the combined det_*/rec_* artifact

# DET_CNN + a leading 3x3 max-pool: same density/run filters, but the
# input is solidified first so sparse glyph ink reads as line mass
OCR_DET_CNN = dict(DET_CNN, pre=np.array([3.0, 3.0]))


# ----------------------------------------------------- the rec CNN

REC_GAIN = 200.0    # logit = gain * (correlation - thresh)
REC_THRESH = 0.95   # one flipped pixel costs 2/35 ~ 0.057 > 0.05


def build_rec_weights(charset: list[str] | None = None) -> dict:
    """Recognition model tensors from the font bitmaps.

    ``charset`` must be a CTC charset (index 0 = blank); glyph classes
    are taken from it in order. Characters the font cannot render
    (punctuation outside the font alphabet) get an all-paper template
    NaN-masked out of the matching (they can never fire); space gets
    the all-paper template (it fires exactly where a full conv window
    is blank — inside word gaps).

    Templates are +-1 (ink/paper) matched filters normalized by the
    window size, i.e. the correlation of a window with the ideal
    rendering — the filter a noiselessly-trained single-layer conv
    recognizer converges to."""
    from . import font
    from .ctchead import CTC_CHARSET
    chars = charset if charset is not None else CTC_CHARSET
    n = len(chars)
    t = np.zeros((n, font.GLYPH_H, font.GLYPH_W), dtype=np.float64)
    live = np.zeros(n, dtype=np.float64)
    for i, ch in enumerate(chars):
        if i == 0:      # blank: never matched, decoded as index 0
            continue
        if ch == " ":
            t[i] = -1.0  # all paper
            live[i] = 1.0
        elif ch in font._RAW:
            t[i] = 2.0 * font.glyph(ch).astype(np.float64) - 1.0
            live[i] = 1.0
    t /= float(font.GLYPH_H * font.GLYPH_W)
    return {"templates": t, "live": live,
            "gain": np.array([REC_GAIN]),
            "thresh": np.array([REC_THRESH])}


REC_CNN = build_rec_weights()


def rec_forward(crop: np.ndarray, weights: dict | None = None):
    """Recognition forward pass: a single-text-line ink crop
    (H, W) in [0, 1] → (path, probs) per-column CTC inputs.

    conv (one filter per class, +-1 matched templates, 'valid' over a
    paper-padded crop) → max over y (the CRNN height-collapse pool) →
    logits = gain · (corr − thresh) with a constant-0 blank logit →
    per-column argmax path + sigmoid probabilities. Feed the result to
    ``core.ctchead.ctc_decode``: characters fire only at their exact
    alignment column (one step each), word gaps ≥ the window width
    fire the space class, everything else is blank — the structural
    invariants in ``core.font`` make this decode unambiguous.

    The crop may carry any vertical placement of the line (the y-max
    absorbs it) but must contain ONE text line — like the reference's
    recognizer, which consumes single-line crops by det-stage design.
    """
    w = weights if weights is not None else REC_CNN
    t = np.asarray(w["templates"], dtype=np.float64)
    live = np.asarray(w["live"], dtype=np.float64)
    gain = float(np.asarray(w["gain"]).ravel()[0])
    thresh = float(np.asarray(w["thresh"]).ravel()[0])
    n, kh, kw = t.shape
    x = 2.0 * np.asarray(crop, dtype=np.float64) - 1.0  # +-1 ink code
    h, wd = x.shape
    ph, pw = kh, kw  # generous paper padding: full window each side
    xp = np.full((h + 2 * ph, wd + 2 * pw), -1.0)
    xp[ph:ph + h, pw:pw + wd] = x
    hh, ww = xp.shape
    oy, ox = hh - kh + 1, ww - kw + 1
    s = xp.strides
    win = np.lib.stride_tricks.as_strided(
        xp, shape=(kh, kw, oy, ox),
        strides=(s[0], s[1], s[0], s[1]), writeable=False)
    corr = np.einsum("nkl,klyx->nyx", t, win, optimize=True)
    # collapse height in two steps (the CRNN height pool, made
    # explicit): locate the line's vertical alignment from the best
    # CHARACTER match (space is all-paper and would "match" the blank
    # padding rows at every y), then read every class along that row
    space_like = np.abs(t + 1.0 / (kh * kw)).sum(axis=(1, 2)) < 1e-9
    char_rows = (live > 0.0) & ~space_like
    char_rows[0] = False
    if char_rows.any() and corr[char_rows].size:
        y_star = int(corr[char_rows].max(axis=(0, 2)).argmax())
    else:
        y_star = corr.shape[1] // 2
    corr = corr[:, y_star, :]
    logits = gain * (corr - thresh)
    logits[live == 0.0, :] = -np.inf             # dead classes
    logits[0, :] = 0.0                           # blank baseline
    path = logits.argmax(axis=0)
    probs = sigmoid(logits.max(axis=0))
    return path, probs


def rec_text(crop: np.ndarray, weights: dict | None = None):
    """Crop → (text, confidence): ``rec_forward`` + CTC greedy decode
    + edge-space strip (the crop's own margins decode as spaces; the
    reference strips via its X1 text_strip stage)."""
    from .ctchead import CTC_CHARSET, ctc_decode
    path, probs = rec_forward(crop, weights)
    text, conf = ctc_decode(path.tolist(), probs.tolist(), CTC_CHARSET)
    return text.strip(), conf


# ------------------------------------------------ ruling detection

RULING_MIN_LEN = 15  # shortest structuring element that no glyph's
#                      ink run (<= 5 px wide / 7 px tall) survives


def detect_rulings(ink: np.ndarray, min_len: int = RULING_MIN_LEN,
                   thresh: float = 0.5):
    """Ruling-line detection on an ink map: morphological opening with
    a 1 x min_len (and min_len x 1) structuring element isolates
    horizontal (vertical) strokes at least ``min_len`` long — glyph
    ink cannot survive (every font run is < min_len) — then each
    connected run becomes one segment.

    Returns (h_segs, v_segs, mask): segments as (x0, y, x1, y) /
    (x, y0, x, y1) in IMAGE coordinates (y down, end-inclusive pixel
    centers), and the boolean union mask of ruling ink (for masking
    rulings out of the text-detection input). Re-derives the role of
    the reference's cv2 line extraction in its lattice source
    (erode/dilate with MORPH_RECT kernels) in pure numpy.
    """
    b = (np.asarray(ink, dtype=np.float64) >= thresh).astype(np.float64)
    hmap = morph_open(b[None], 1, min_len)[0] >= 0.5
    vmap = morph_open(b[None], min_len, 1)[0] >= 0.5
    h_segs = []
    for y, x0, x1 in _runs_rows(hmap):
        h_segs.append((float(x0), float(y), float(x1), float(y)))
    v_segs = []
    for x, y0, y1 in _runs_rows(vmap.T):
        v_segs.append((float(x), float(y0), float(x), float(y1)))
    return h_segs, v_segs, hmap | vmap


def _runs_rows(m: np.ndarray):
    """Yield (row, start, end_inclusive) for each maximal True run in
    each row of a 2-D boolean array — vectorized edge detection."""
    pad = np.zeros((m.shape[0], 1), dtype=bool)
    d = np.diff(np.concatenate([pad, m, pad], axis=1).astype(np.int8),
                axis=1)
    starts = np.argwhere(d == 1)
    ends = np.argwhere(d == -1)
    for (r, s), (_, e) in zip(starts, ends):
        yield int(r), int(s), int(e) - 1


def merge_axis_segments(segs, axis: str, gap_tol: int = 2):
    """Collapse per-row runs of one thick ruling stroke into a single
    centerline segment: group h-runs (v-runs) whose rows (cols) are
    adjacent and whose extents overlap, emit the longest extent at the
    mean coordinate rounded to the pixel grid."""
    if not segs:
        return []
    out = []
    if axis == "h":
        segs = sorted(segs, key=lambda s: (s[1], s[0]))
        cur = [segs[0]]
        for s in segs[1:]:
            last = cur[-1]
            if (abs(s[1] - last[1]) <= gap_tol
                    and s[0] <= last[2] + gap_tol
                    and s[2] >= last[0] - gap_tol):
                cur.append(s)
            else:
                out.append(_h_merge(cur))
                cur = [s]
        out.append(_h_merge(cur))
    else:
        flipped = [(y0, x, y1, x) for (x, y0, _x, y1) in segs]
        merged = merge_axis_segments(flipped, "h", gap_tol)
        out = [(x, y0, x, y1) for (y0, x, y1, _x) in merged]
    return out


def _h_merge(group):
    x0 = min(s[0] for s in group)
    x1 = max(s[2] for s in group)
    y = round(sum(s[1] for s in group) / len(group))
    return (float(x0), float(y), float(x1), float(y))


# -------------------------------------------- page raster (fixture)


def render_lines(lines: list[dict], height: int, width: int
                 ) -> np.ndarray:
    """Rasterize planted text lines into a scan-like ink image: each
    line dict has integer pixel bounds x0/y0/x1/y1 (exclusive ends)
    and ``gaps`` — x-offsets of 1-px-wide blank columns inside the
    line (word separators the CNN's dilation must bridge). uint8,
    255 = paper, 0 = ink (scanner convention)."""
    img = np.full((height, width), 255, dtype=np.uint8)
    for ln in lines:
        img[ln["y0"]:ln["y1"], ln["x0"]:ln["x1"]] = 0
        for g in ln.get("gaps", ()):  # carve word gaps (3px wide)
            img[ln["y0"]:ln["y1"], g:g + 3] = 255
    return img


def ink_from_scan(scan: np.ndarray) -> np.ndarray:
    """Scanner image (uint8, 255=paper) → ink map in [0,1], 1=ink."""
    return 1.0 - scan.astype(np.float64) / 255.0
