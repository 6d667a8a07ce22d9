"""Paragraph sessionization over prose text lines.

Parity targets: line typing from page mode-margins
(``OcrCell.parse_line_type``, reference ``table_entity.py:413-448``,
start_diff_error=10 ``:282``), mode-margin estimation
(``modify_ocr_block_line_type``, ``pdf_utils.py:1439-1483``), and the
run-merge between PARAGRAPH_STARTs (``merge_ocr_text_paragraph``,
``pdf_utils.py:1486-1561``: texts concatenated with "" and newlines
dropped). This is the W1 sessionization window: SQL analogue
``sum(is_start) over (partition by doc order by y desc, x)`` then
collect per session.
"""

from __future__ import annotations

from collections import Counter
from math import isfinite

START_DIFF_ERROR = 10.0

START, MIDDLE, END = "start", "middle", "end"


def page_margin_modes(text_lines):
    """Most-common rounded start-x, end-x, and font size (line height)
    across the page's prose lines — the A5 mode statistics.
    Ties break on the smaller value for determinism. A NaN or
    infinite coordinate (JSON payloads can carry them) has no rounded
    value, so it stays out of the statistics; its line still counts
    as text."""
    if not text_lines:
        return 0.0, 0.0, 10.0

    def rounded(vals):
        return [round(v) for v in vals
                if not isinstance(v, float) or isfinite(v)]

    def mode(vals, default):
        if not vals:
            return default
        cnt = Counter(vals)
        best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
        return float(best[0])

    start_x = mode(rounded(t["x0"] for t in text_lines), 0.0)
    end_x = mode(rounded(t["x1"] for t in text_lines), 0.0)
    font = mode([h for h in rounded(t["y1"] - t["y0"] for t in text_lines)
                 if h > 0], 10.0)
    return start_x, end_x, font


def classify_line(t, min_x, max_x, font_size):
    """PARAGRAPH_START / MIDDLE / END per the reference's rule set."""
    ads_start = abs(t["x0"] - min_x)
    ads_end = abs(t["x1"] - max_x)
    start_skip = ads_start / font_size if font_size else 0.0
    end_skip = ads_end / font_size if font_size else 0.0

    if ads_start >= START_DIFF_ERROR and start_skip >= 1:
        return START
    if ads_start < START_DIFF_ERROR < ads_end and end_skip >= 1:
        return END
    # anything else is a MIDDLE line (the reference's remaining rules
    # are subsumed: its second START rule requires a stricter version
    # of the first and can never be reached)
    return MIDDLE


def merge_paragraphs(text_lines):
    """Sessionize prose lines into paragraphs.

    Lines arrive in reading order (y desc, x asc). A new session opens
    at every PARAGRAPH_START (the first line always opens one). Each
    paragraph's text is the concatenation of its lines with newlines
    dropped; its bbox is the union.

    Returns list of dicts {text, x0, y0, x1, y1} in reading order.
    """
    if not text_lines:
        return []
    lines = sorted(
        text_lines, key=lambda t: (-(t["y0"] + t["y1"]) / 2.0, t["x0"]))
    min_x, max_x, font = page_margin_modes(lines)
    sessions: list[list] = [[lines[0]]]
    for t in lines[1:]:
        if classify_line(t, min_x, max_x, font) == START:
            sessions.append([t])
        else:
            sessions[-1].append(t)
    out = []
    for sess in sessions:
        text = "".join(s["text"] for s in sess).replace("\n", "")
        if not text:
            continue
        out.append({
            "text": text,
            "x0": min(s["x0"] for s in sess),
            "y0": min(s["y0"] for s in sess),
            "x1": max(s["x1"] for s in sess),
            "y1": max(s["y1"] for s in sess),
        })
    return out
