"""Pure-stdlib media codecs: PNG / BMP / PNM images, WAV audio.

The reference decodes embedded media with PIL / cv2 / ffmpeg
(``src/pdftable/utils/image_utils.py``, ``model/ocr_pdf`` raster
inputs); none of those libraries exist in this sandbox, so until this
module the S4 decode step was a documented deterministic stub. This
module makes the decode REAL for every format a pure-Python + numpy
implementation can cover:

  * PNG  — full zlib inflate (stdlib) + per-row unfiltering (all five
           filter types: none/sub/up/average/paeth) in numpy; color
           types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
           6 (RGBA) at bit depth 8; multi-IDAT; CRC-checked.
           Interlaced (Adam7) and non-8-bit depths are rejected with a
           clear error. The encoder writes any of the five filters
           (``filter_mode='cycle'`` exercises all of them), so the
           decode path is testable against encode-side ground truth.
  * BMP  — BITMAPINFOHEADER, uncompressed (BI_RGB) 8/24/32-bit,
           bottom-up and top-down row order.
  * PNM  — binary P5 (gray) / P6 (RGB), maxval 255.
  * WAV  — PCM via the stdlib ``wave`` module → int16 sample matrix.

JPEG / WebP / video remain out of scope (DCT + Huffman entropy coding
is a codec, not plumbing); ``sniff`` still identifies them so callers
can fall back to the documented stub path explicitly.

Also here, because they operate on the decoded pixels: ``to_gray``
(BT.601 integer luma), ``resize_box`` (deterministic box-binned mean
downsample — the thumbnail semantics), and ``image_feature`` (the
4x4 luma-grid embedding the multimodal stage emits).

Everything is deterministic and engine-independent: integer
arithmetic or IEEE doubles with a fixed operation order.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# ---------------------------------------------------------------- sniff


def sniff(data: bytes) -> str | None:
    """Identify a payload by magic bytes. Returns one of
    png|bmp|pgm|ppm|wav|gif|jpeg|webp, or None for unknown."""
    if data.startswith(PNG_MAGIC):
        return "png"
    if data.startswith(b"BM") and len(data) >= 26:
        return "bmp"
    if data.startswith(b"P5"):
        return "pgm"
    if data.startswith(b"P6"):
        return "ppm"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    return None


# ----------------------------------------------------------------- PNG

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type → samples/px


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized over a row (int16 inputs)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def _unfilter(raw: np.ndarray, height: int, stride: int,
              bpp: int) -> np.ndarray:
    """Undo PNG per-row filtering. ``raw`` is the inflated byte stream
    of height rows, each 1 filter byte + ``stride`` data bytes.

    Reconstruction is the 2-D recurrence Recon(y,x) = Filt(y,x) +
    pred(left, up, upper-left); a naive scan is O(pixels) PYTHON
    iterations for the Sub/Average/Paeth rows (seconds per megapixel —
    the original per-pixel loop made a single 880 KB scan page the
    entire media_meta budget). Every dependency of pixel-group (y, g)
    is (y, g-1), (y-1, g) or (y-1, g-1), so anti-diagonals d = y + g
    form a valid schedule: one vectorized numpy step per diagonal,
    O(height + width) steps total, all five filter types selected per
    row by mask inside the step."""
    rows = raw.reshape(height, stride + 1)
    ft = rows[:, 0].astype(np.int64)
    bad = np.nonzero(ft > 4)[0]
    if bad.size:
        y = int(bad[0])
        raise ValueError(
            f"png: unknown filter type {int(ft[y])} row {y}")
    cur = rows[:, 1:]
    if not ft.any():              # all-None fast path: bytes pass through
        return np.ascontiguousarray(cur)
    if not np.isin(ft, (1, 3, 4)).any():
        # only None/Up rows: no left-neighbor dependency, one
        # vectorized op per row
        out = np.zeros((height, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int16)
        for y in range(height):
            line = cur[y].astype(np.int16)
            if ft[y] == 2:
                line = (line + prev) & 0xFF
            out[y] = line.astype(np.uint8)
            prev = line
        return out
    n_groups = stride // bpp      # stride == width * channels exactly
    curg = cur.reshape(height, n_groups, bpp).astype(np.int16)
    # padded reconstruction plane: out[0, :, :] is the virtual row
    # above the image, out[:, 0, :] the virtual column left of it —
    # both zero, exactly the spec's out-of-image predictor values
    out = np.zeros((height + 1, n_groups + 1, bpp), dtype=np.int16)
    for d in range(height + n_groups):
        y0 = max(0, d - n_groups + 1)
        y1 = min(height - 1, d)
        if y0 > y1:
            continue
        ys = np.arange(y0, y1 + 1)
        gs = d - ys
        left = out[ys + 1, gs]
        up = out[ys, gs + 1]
        ul = out[ys, gs]
        t = ft[ys][:, None]
        pred = np.where(
            t == 1, left,
            np.where(t == 2, up,
                     np.where(t == 3, (left + up) >> 1,
                              np.where(t == 4, _paeth(left, up, ul),
                                       0))))
        out[ys + 1, gs + 1] = (curg[ys, gs] + pred) & 0xFF
    return out[1:, 1:].reshape(height, stride).astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array of shape (h, w) for grayscale or
    (h, w, c) for multi-channel. CRC-verified; bit depth 8 only;
    palette images are expanded to RGB."""
    if not data.startswith(PNG_MAGIC):
        raise ValueError("png: bad signature")
    pos, ihdr, idat, plte = len(PNG_MAGIC), None, [], None
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("png: truncated chunk")
        crc = struct.unpack(">I", data[pos + 8 + length:
                                       pos + 12 + length])[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("png: missing IHDR or IDAT")
    width, height, depth, ctype_n, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"png: unsupported bit depth {depth} (8 only)")
    if comp != 0 or filt != 0:
        raise ValueError("png: unsupported compression/filter method")
    if interlace != 0:
        raise ValueError("png: Adam7 interlace unsupported")
    if ctype_n not in _PNG_CHANNELS:
        raise ValueError(f"png: unknown color type {ctype_n}")
    ch = _PNG_CHANNELS[ctype_n]
    stride = width * ch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if raw.size != height * (stride + 1):
        raise ValueError("png: inflated size mismatch")
    px = _unfilter(raw, height, stride, ch)
    if ctype_n == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        return plte[px.reshape(height, width)]
    if ch == 1:
        return px.reshape(height, width)
    return px.reshape(height, width, ch)


def _filter_row(cur: np.ndarray, prev: np.ndarray, bpp: int,
                ftype: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one row (uint8 in, uint8 out)."""
    c16, p16 = cur.astype(np.int16), prev.astype(np.int16)
    left = np.zeros_like(c16)
    left[bpp:] = c16[:-bpp]
    upleft = np.zeros_like(p16)
    upleft[bpp:] = p16[:-bpp]
    if ftype == 0:
        out = c16
    elif ftype == 1:
        out = c16 - left
    elif ftype == 2:
        out = c16 - p16
    elif ftype == 3:
        out = c16 - ((left + p16) >> 1)
    elif ftype == 4:
        out = c16 - _paeth(left, p16, upleft)
    else:
        raise ValueError(f"png: bad filter {ftype}")
    return (out & 0xFF).astype(np.uint8)


def png_encode(arr: np.ndarray, filter_mode: int | str = 0,
               level: int = 6) -> bytes:
    """uint8 array (h,w) / (h,w,3) / (h,w,4) → PNG bytes.

    ``filter_mode``: a fixed filter type 0-4, or ``'cycle'`` to rotate
    through all five row filters (row y uses filter y % 5) so decoder
    tests exercise every unfilter branch. Output is deterministic for
    a given (array, filter_mode, level)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        ctype, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        ctype, ch = 2, 3
    elif arr.ndim == 3 and arr.shape[2] == 4:
        ctype, ch = 6, 4
    else:
        raise ValueError(f"png: unsupported array shape {arr.shape}")
    height, width = arr.shape[0], arr.shape[1]
    flat = arr.reshape(height, width * ch)
    body = bytearray()
    prev = np.zeros(width * ch, dtype=np.uint8)
    for y in range(height):
        ftype = (y % 5) if filter_mode == "cycle" else int(filter_mode)
        body.append(ftype)
        body += _filter_row(flat[y], prev, ch, ftype).tobytes()
        prev = flat[y]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)
                              & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(body), level))
            + chunk(b"IEND", b""))


# ----------------------------------------------------------------- BMP


def bmp_decode(data: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER, BI_RGB, 8/24/32-bit) → uint8 (h,w) or
    (h,w,3|4) in RGB order. Handles bottom-up and top-down rows."""
    if data[:2] != b"BM":
        raise ValueError("bmp: bad signature")
    off = struct.unpack("<I", data[10:14])[0]
    hsize = struct.unpack("<I", data[14:18])[0]
    if hsize < 40:
        raise ValueError(f"bmp: header size {hsize} unsupported")
    width, height = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    comp = struct.unpack("<I", data[30:34])[0]
    if planes != 1 or comp != 0:
        raise ValueError("bmp: only uncompressed BI_RGB supported")
    topdown = height < 0
    height = abs(height)
    if bpp == 8:
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal = np.frombuffer(
            data[14 + hsize:14 + hsize + 4 * n_colors],
            dtype=np.uint8).reshape(-1, 4)[:, [2, 1, 0]]  # BGRx → RGB
        stride = (width + 3) & ~3
        rows = np.frombuffer(data[off:off + stride * height],
                             dtype=np.uint8).reshape(height, stride)
        idx = rows[:, :width]
        img = pal[idx]
        gray_pal = (pal[:, 0] == pal[:, 1]).all() and \
            (pal[:, 1] == pal[:, 2]).all()
        if gray_pal:
            img = pal[idx][:, :, 0]
    elif bpp in (24, 32):
        nch = bpp // 8
        stride = (width * nch + 3) & ~3
        rows = np.frombuffer(data[off:off + stride * height],
                             dtype=np.uint8).reshape(height, stride)
        px = rows[:, :width * nch].reshape(height, width, nch)
        img = px[:, :, [2, 1, 0]] if nch == 3 \
            else px[:, :, [2, 1, 0, 3]]
    else:
        raise ValueError(f"bmp: {bpp}-bit unsupported")
    return img if topdown else img[::-1].copy()


def bmp_encode(arr: np.ndarray) -> bytes:
    """uint8 (h,w,3) RGB → 24-bit bottom-up BI_RGB BMP bytes."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("bmp_encode: (h,w,3) RGB only")
    height, width = arr.shape[:2]
    stride = (width * 3 + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width * 3] = arr[::-1, :, [2, 1, 0]].reshape(
        height, width * 3)
    pix = rows.tobytes()
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                            0, len(pix), 2835, 2835, 0, 0))
    return header + pix


# ----------------------------------------------------------------- PNM


def pnm_decode(data: bytes) -> np.ndarray:
    """Binary P5 (gray) / P6 (RGB), maxval 255 → uint8 array."""
    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("pnm: P5/P6 binary only")
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"pnm: maxval {maxval} unsupported")
    ch = 1 if data[:2] == b"P5" else 3
    px = np.frombuffer(data[pos:pos + width * height * ch],
                       dtype=np.uint8)
    if px.size != width * height * ch:
        raise ValueError("pnm: truncated pixel data")
    return px.reshape(height, width) if ch == 1 \
        else px.reshape(height, width, 3)


def pnm_encode(arr: np.ndarray) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        tag = b"P5"
    elif arr.ndim == 3 and arr.shape[2] == 3:
        tag = b"P6"
    else:
        raise ValueError("pnm_encode: (h,w) or (h,w,3) only")
    h, w = arr.shape[:2]
    return tag + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


# ----------------------------------------------------------------- WAV


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples shaped (n_frames, n_channels),
    sample_rate). 16-bit PCM only (the stdlib ``wave`` contract)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"wav: {w.getsampwidth() * 8}-bit unsupported (16 only)")
        frames = w.readframes(w.getnframes())
        arr = np.frombuffer(frames, dtype="<i2").reshape(
            -1, w.getnchannels())
        return arr, w.getframerate()


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 (n,) or (n, ch) samples → WAV bytes."""
    arr = np.ascontiguousarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(arr.shape[1])
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(arr.tobytes())
    return buf.getvalue()


# ------------------------------------------------------- image helpers


def decode_image(data: bytes) -> tuple[np.ndarray, str]:
    """Dispatch on magic bytes → (pixel array, format). Raises
    ValueError for formats without a decoder here (jpeg/webp/gif) —
    callers fall back to the documented stub path."""
    fmt = sniff(data)
    if fmt == "png":
        return png_decode(data), fmt
    if fmt == "bmp":
        return bmp_decode(data), fmt
    if fmt in ("pgm", "ppm"):
        return pnm_decode(data), fmt
    raise ValueError(f"no pure-python decoder for format {fmt!r}")


def to_gray(arr: np.ndarray) -> np.ndarray:
    """BT.601 integer luma: (299 R + 587 G + 114 B) / 1000, exact and
    engine-independent. Alpha is ignored; gray passes through."""
    if arr.ndim == 2:
        return arr
    rgb = arr[:, :, :3].astype(np.int32)
    y = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1]
         + 114 * rgb[:, :, 2]) // 1000
    return y.astype(np.uint8)


def resize_box(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic box-binned mean downsample (thumbnail semantics):
    source pixel i maps to output bin floor(i * out / in); each output
    pixel is the integer mean (floor) of its bin. For upscale axes it
    degrades to nearest-neighbor replication. uint8 in, uint8 out."""
    h, w = arr.shape[:2]
    out_w, out_h = max(1, int(out_w)), max(1, int(out_h))
    flat = arr.reshape(h, w, -1).astype(np.int64)
    if out_h < h:
        edges = np.searchsorted(np.arange(h) * out_h // h,
                                np.arange(out_h), side="left")
        sums = np.add.reduceat(flat, edges, axis=0)
        cnts = np.diff(np.append(edges, h))
        flat = sums // cnts[:, None, None]
    else:
        flat = flat[np.arange(out_h) * h // out_h]
    if out_w < w:
        edges = np.searchsorted(np.arange(w) * out_w // w,
                                np.arange(out_w), side="left")
        sums = np.add.reduceat(flat, edges, axis=1)
        cnts = np.diff(np.append(edges, w))
        flat = sums // cnts[None, :, None]
    else:
        flat = flat[:, np.arange(out_w) * w // out_w]
    out = flat.astype(np.uint8)
    return out.reshape(out_h, out_w) if arr.ndim == 2 \
        else out.reshape(out_h, out_w, arr.shape[2])


def image_feature(arr: np.ndarray, dim: int = 16) -> list[float]:
    """Unit-norm float32 feature: the luma image box-binned to a
    4x4 grid of means, flattened. Deterministic (integer bin means,
    one float32 normalize)."""
    grid = int(round(dim ** 0.5))
    if grid * grid != dim:
        raise ValueError("image_feature: dim must be a square")
    g = resize_box(to_gray(arr), grid, grid).astype(np.float32).ravel()
    norm = float(np.linalg.norm(g)) or 1.0
    return (g / norm).tolist()
