"""A9 per-table quality metrics — placement accuracy and whitespace.

Parity targets: ``compute_accuracy`` / ``compute_whitespace``
(reference ``utils/pdf_utils.py:1142-1193``) and the per-line placement
error of ``get_table_index`` (``pdf_utils.py:1104-1120``): the fraction
of a text box's area lying outside its assigned cell. The reference
attaches these to every extracted table
(``table_extractor_lattice.py:294-306``, ``table_extractor_stream.py:
392-435``); here they ride the table fragment as (accuracy, whitespace)
and surface in the ``table_quality`` oracle query.
"""

from __future__ import annotations


def placement_error(t: dict, row_iv: tuple, col_iv: tuple) -> float:
    """Placement error of text box ``t`` vs cell (row_iv, col_iv) —
    the EXACT reference formula (``pdf_utils.py:1104-1120``), quirks
    included: the y-side offsets trigger only when the box lies
    entirely above/below the row (t.y0 > row_top / t.y1 < row_bottom),
    while the x-side offsets trigger on any partial overflow.

    ``row_iv`` = (y_top, y_bottom) and ``col_iv`` = (x_left, x_right),
    matching the decoders' interval conventions (PDF coords, y up;
    t['y0'] is the box bottom, t['y1'] the top).
    """
    y_top, y_bot = row_iv
    x_l, x_r = col_iv
    x0, y0, x1, y1 = t["x0"], t["y0"], t["x1"], t["y1"]
    y0_off = abs(y0 - y_top) if y0 > y_top else 0.0
    y1_off = abs(y1 - y_bot) if y1 < y_bot else 0.0
    x0_off = abs(x0 - x_l) if x0 < x_l else 0.0
    x1_off = abs(x1 - x_r) if x1 > x_r else 0.0
    x_ext = abs(x0 - x1) or 1.0
    y_ext = abs(y0 - y1) or 1.0
    return ((x_ext * (y0_off + y1_off)) + (y_ext * (x0_off + x1_off))) \
        / (x_ext * y_ext)


def compute_accuracy(pos_errors: list[float]) -> float:
    """Weighted placement score out of 100 (reference weight scheme
    ``[[100, pos_errors]]``); 0.0 for a table with no placed text."""
    if not pos_errors:
        return 0.0
    w = 100.0 / len(pos_errors)
    return sum(w * (1.0 - e) for e in pos_errors)


def compute_whitespace(matrix: list[list[str]]) -> float:
    """% empty cells over the dense base-cell grid (spanned slots
    carry the anchor text, the reference's copy-text convention)."""
    if not matrix or not matrix[0]:
        return 0.0
    n_empty = sum(1 for row in matrix for cell in row
                  if cell.strip() == "")
    return 100.0 * n_empty / float(len(matrix) * len(matrix[0]))
