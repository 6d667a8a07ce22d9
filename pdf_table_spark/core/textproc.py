"""Scalar text post-processing (reference §2.8).

Parity targets: ``text_strip`` (``pdf_utils.py:850-868``),
``ocr_post_process`` (``table_common.py:1328-1351``): a lone O/o
becomes 0; numeric strings with multiple dots get all but the last dot
rewritten to thousands commas (``1.234.56`` → ``1,234.56``);
``flag_font_size`` (X3, ``pdf_utils.py:871-921``): minority-height char
runs wrapped in ``<s></s>`` (sub/superscripts).
"""

from __future__ import annotations

import re
from itertools import groupby

_OCR_ZERO_RE = re.compile(r"^[Oo]$")
_NUMBERISH_RE = re.compile(r"^[\d.,%\-+]+$")


def text_strip(text: str, strip: str = "") -> str:
    if not strip:
        return text
    return re.sub(
        f"[{''.join(map(re.escape, strip))}]", "", text, flags=re.UNICODE)


def flag_font_size(text: str, char_heights, strip: str = "") -> str:
    """X3: wrap runs of minimum-height chars in ``<s></s>`` when the
    line mixes more than one char height (the reference's super/
    subscript heuristic over LTChar heights, rounded to 6dp). A run is
    flagged only when it contains non-blank text."""
    if not text or not char_heights or len(char_heights) != len(text):
        return text_strip(text, strip)
    d = [(ch, round(float(h), 6)) for ch, h in zip(text, char_heights)]
    sizes = {h for _, h in d}
    if len(sizes) <= 1:
        return text_strip(text, strip)
    min_size = min(sizes)
    parts = []
    for key, chars in groupby(d, key=lambda t: t[1]):
        run = "".join(ch for ch, _ in chars)
        if key == min_size:
            if run.strip():
                parts.append(f"<s>{run}</s>")
        else:
            if run.strip():
                parts.append(run)
    return text_strip("".join(parts), strip)


def ocr_post_process(text: str) -> str:
    clean = text.replace(" ", "")
    if len(clean) == 1 and _OCR_ZERO_RE.match(clean):
        return "0"
    if text.count(".") > 1 and _NUMBERISH_RE.match(clean) \
            and any(ch.isdigit() for ch in clean):
        last = text.rfind(".")
        return text[:last].replace(".", ",") + text[last:]
    return text
