"""Fixed 5x7 bitmap font: the glyph alphabet shared by the scan-page
FIXTURE RENDERER and the recognition CNN's matched-filter templates.

The reference's recognizer is a trained CRNN/SVTR
(``model/ocr_rec/``); its conv filters were learned from rendered
text. This sandbox has no trained weights, so the font plays both
roles deterministically: the fixture generator rasterizes planted
strings with these glyphs, and ``core.nn.build_rec_weights`` turns
the same bitmaps into correlation filters (template = the ideal
learned filter for a noise-free font). The ARCHITECTURE consuming
them (conv -> column logits -> CTC greedy decode) is the real
recognizer's; the tensors are the swap point for a trained
checkpoint, exactly like ``core.nn.DET_CNN``.

Letterforms are the classic HD44780-style 5x7 matrix shapes (public
domain folklore forms); lowercase renders as small caps. Three
structural invariants keep the matched-filter decode unambiguous
(pinned by ``tests/test_font.py``):

  * every glyph has ink in column 0 and column 4, so any conv window
    straddling a 2-px inter-character gap sees a blank column where
    every template demands edge ink;
  * no glyph has two adjacent all-blank interior columns, so no
    window spanning [tail of g1][2-px gap][head of g2] can
    accidentally equal a third template;
  * all glyphs are pairwise distinct (hamming >= 2 of 35), so at an
    exact-match column only the true character clears the 0.95
    correlation threshold (one flipped pixel costs 2/35 ~ 0.057).

Coordinates: glyph arrays are (7, 5) uint8, 1 = ink. Text renders
left-to-right with ``CHAR_GAP`` blank columns between characters and
``WORD_GAP`` blank columns for a space (wide enough that a fully
blank 5-px window exists inside it -- the space template's firing
condition -- but inter-character gaps never produce one).
"""

from __future__ import annotations

import numpy as np

GLYPH_H, GLYPH_W = 7, 5
CHAR_GAP = 2   # blank columns between characters of a word
WORD_GAP = 8   # blank columns rendered for a space

_RAW = {
    "0": ("0XXX0", "X000X", "X00XX", "X0X0X", "XX00X", "X000X", "0XXX0"),
    "1": ("00X00", "0XX00", "00X00", "00X00", "00X00", "00X00", "XXXXX"),
    "2": ("0XXX0", "X000X", "0000X", "000X0", "00X00", "0X000", "XXXXX"),
    "3": ("XXXXX", "000X0", "00X00", "000X0", "X000X", "X000X", "0XXX0"),
    "4": ("000X0", "00XX0", "0X0X0", "X00X0", "XXXXX", "000X0", "000X0"),
    "5": ("XXXXX", "X0000", "XXXX0", "0000X", "0000X", "X000X", "0XXX0"),
    "6": ("00XX0", "0X000", "X0000", "XXXX0", "X000X", "X000X", "0XXX0"),
    "7": ("XXXXX", "0000X", "000X0", "00X00", "0X000", "X0000", "X0000"),
    "8": ("0XXX0", "X000X", "X000X", "0XXX0", "X000X", "X000X", "0XXX0"),
    "9": ("0XXX0", "X000X", "X000X", "0XXXX", "0000X", "000X0", "0XX00"),
    "a": ("0XXX0", "X000X", "X000X", "XXXXX", "X000X", "X000X", "X000X"),
    "b": ("XXXX0", "X000X", "X000X", "XXXX0", "X000X", "X000X", "XXXX0"),
    "c": ("0XXX0", "X000X", "X0000", "X0000", "X0000", "X000X", "0XXX0"),
    "d": ("XXXX0", "X000X", "X000X", "X000X", "X000X", "X000X", "XXXX0"),
    "e": ("XXXXX", "X0000", "X0000", "XXXX0", "X0000", "X0000", "XXXXX"),
    "f": ("XXXXX", "X0000", "X0000", "XXXX0", "X0000", "X0000", "X0000"),
    "g": ("0XXX0", "X000X", "X0000", "X0XXX", "X000X", "X000X", "0XXXX"),
    "h": ("X000X", "X000X", "X000X", "XXXXX", "X000X", "X000X", "X000X"),
    "i": ("XXXXX", "00X00", "00X00", "00X00", "00X00", "00X00", "XXXXX"),
    "j": ("00XXX", "000X0", "000X0", "000X0", "000X0", "X00X0", "0XX00"),
    "k": ("X000X", "X00X0", "X0X00", "XX000", "X0X00", "X00X0", "X000X"),
    "l": ("X0000", "X0000", "X0000", "X0000", "X0000", "X0000", "XXXXX"),
    "m": ("X000X", "XX0XX", "X0X0X", "X0X0X", "X000X", "X000X", "X000X"),
    "n": ("X000X", "XX00X", "X0X0X", "X00XX", "X000X", "X000X", "X000X"),
    "o": ("0XXX0", "X000X", "X000X", "X000X", "X000X", "X000X", "0XXX0"),
    "p": ("XXXX0", "X000X", "X000X", "XXXX0", "X0000", "X0000", "X0000"),
    "q": ("0XXX0", "X000X", "X000X", "X000X", "X0X0X", "X00X0", "0XX0X"),
    "r": ("XXXX0", "X000X", "X000X", "XXXX0", "X0X00", "X00X0", "X000X"),
    "s": ("0XXXX", "X0000", "X0000", "0XXX0", "0000X", "0000X", "XXXX0"),
    "t": ("XXXXX", "00X00", "00X00", "00X00", "00X00", "00X00", "00X00"),
    "u": ("X000X", "X000X", "X000X", "X000X", "X000X", "X000X", "0XXX0"),
    "v": ("X000X", "X000X", "X000X", "X000X", "X000X", "0X0X0", "00X00"),
    "w": ("X000X", "X000X", "X000X", "X0X0X", "X0X0X", "X0X0X", "0X0X0"),
    "x": ("X000X", "X000X", "0X0X0", "00X00", "0X0X0", "X000X", "X000X"),
    "y": ("X000X", "X000X", "0X0X0", "00X00", "00X00", "00X00", "00X00"),
    "z": ("XXXXX", "0000X", "000X0", "00X00", "0X000", "X0000", "XXXXX"),
}

FONT_CHARS = "".join(sorted(_RAW))  # the renderable alphabet (no space)


def glyph(ch: str) -> np.ndarray:
    """(7, 5) uint8 bitmap for one character, 1 = ink."""
    rows = _RAW[ch]
    return np.array([[1 if c == "X" else 0 for c in row]
                     for row in rows], dtype=np.uint8)


def text_width(text: str) -> int:
    """Rendered pixel width of ``text`` (no outer margins)."""
    w = 0
    for i, ch in enumerate(text):
        if ch == " ":
            w += WORD_GAP - (CHAR_GAP if i else 0)
            continue
        if i and text[i - 1] != " ":
            w += CHAR_GAP
        w += GLYPH_W
    return w


def render_text(text: str) -> np.ndarray:
    """Rasterize ``text`` to a (7, width) uint8 ink array (1 = ink).

    Spaces render as ``WORD_GAP`` blank columns (replacing the
    inter-character gap on their left); unknown characters raise —
    the fixture generators only plant the renderable alphabet."""
    cols: list[np.ndarray] = []
    gap = np.zeros((GLYPH_H, CHAR_GAP), dtype=np.uint8)
    for i, ch in enumerate(text):
        if ch == " ":
            pad = WORD_GAP - (CHAR_GAP if i else 0)
            cols.append(np.zeros((GLYPH_H, pad), dtype=np.uint8))
            continue
        if i and text[i - 1] != " ":
            cols.append(gap)
        cols.append(glyph(ch))
    if not cols:
        return np.zeros((GLYPH_H, 0), dtype=np.uint8)
    return np.concatenate(cols, axis=1)


def stamp(page: np.ndarray, ink: np.ndarray, y: int, x: int) -> None:
    """Stamp an ink array onto a scanner-convention page (255 = paper,
    0 = ink) at top-left (y, x), in place."""
    h, w = ink.shape
    region = page[y:y + h, x:x + w]
    region[ink.astype(bool)] = 0
