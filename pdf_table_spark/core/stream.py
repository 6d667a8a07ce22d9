"""Unruled ("stream"/whitespace) table detection — the full Nurminen
flavor.

Parity targets (semantics re-derived, not copied):
  * TextEdge/TextEdges with left/right/middle alignments, running-mean
    x updates, ``edge_tol`` vertical continuation, and the
    ≥TEXTEDGE_REQUIRED_ELEMENTS validity gate —
    reference ``table_core.py:30-164``
  * relevant-alignment selection by total intersections —
    ``table_core.py:140-164``
  * table-area construction: merge vertically-overlapping valid edges,
    extend by vertically-contained textlines, pad (10 left/right/
    bottom, 5·avg-line-height top) — ``table_core.py:166-237``
  * row grouping by y0 tolerance (``table_extractor_stream.py:103-137``)
    and continuous row intervals from row-mid midpoints (``:183-209``)
  * column count = mode of row lengths with the drop-1s fallback
    (``:349-363``), column intervals from mode-width rows merged with
    ``column_tol`` (``:139-181``), extension by inner/outer text
    (``:211-236``), continuous column intervals (``:238-258``)
  * whole-line text→cell placement (split_text=False default): row by
    y-center containment, column by max x-overlap ratio, with the
    placement-error metric — ``pdf_utils.py:1041-1139``

Integrated-pipeline policy: the reference's stream flavor is opt-in
per document and falls back to "whole page is one table" when no valid
textedges exist; inside this engine's unified per-page pipeline that
fallback would swallow prose pages, so areas that reconstruct to a
single column (the reference's own "mode 1 usually means no tables"
signal, ``table_extractor_stream.py:355-363``) are rejected and their
lines stay prose. ``whole_page_fallback=True`` restores the standalone
flavor's behavior.
"""

from __future__ import annotations

from .lattice import LogicalCell
from .quality import compute_accuracy, compute_whitespace, placement_error

TEXTEDGE_REQUIRED_ELEMENTS = 4   # table_core.py:17
TABLE_AREA_PADDING = 10.0        # table_core.py:19
EDGE_TOL = 50.0                  # stream flavor default edge_tol
ROW_TOL = 2.0                    # stream flavor default row_tol
COLUMN_TOL = 0.0                 # stream flavor default column_tol
ALIGNS = ("left", "right", "middle")


class TextEdge:
    """A vertical alignment edge: x position (running mean), y extent,
    intersection count, validity."""

    __slots__ = ("x", "y0", "y1", "align", "intersections", "is_valid")

    def __init__(self, x, y0, y1, align):
        self.x = x
        self.y0 = y0
        self.y1 = y1
        self.align = align
        self.intersections = 0
        self.is_valid = False


class TextEdges:
    """left/right/middle edge sets over a page's textlines."""

    def __init__(self, edge_tol: float = EDGE_TOL):
        self.edge_tol = edge_tol
        self._edges: dict[str, list[TextEdge]] = {a: [] for a in ALIGNS}

    def generate(self, textlines):
        """Reading order; single-char lines are skipped (reference's
        'hacky' len>1 gate, table_core.py:135-138)."""
        for t in sorted(textlines, key=lambda t: (-t["y0"], t["x0"])):
            if len(t["text"].strip()) > 1:
                self._update(t)

    def _update(self, t: dict):
        """Join the line's left/right/middle x to the first edge within
        0.5 of it, or start a new edge there. A joined edge extends down
        to the line's y0 when the gap is within edge_tol, and its x
        becomes the running mean."""
        x0, x1, y0 = t["x0"], t["x1"], t["y0"]
        edge_tol = self.edge_tol
        # left, right, middle (ALIGNS order)
        for align, x in zip(ALIGNS, (x0, x1, x0 + (x1 - x0) / 2.0)):
            edges = self._edges[align]
            for te in edges:
                if abs(te.x - x) <= 0.5:
                    if abs(te.y0 - y0) <= edge_tol:
                        n = te.intersections
                        te.x = (n * te.x + x) / float(n + 1)
                        te.y0 = y0
                        te.intersections = n = n + 1
                        if n > TEXTEDGE_REQUIRED_ELEMENTS:
                            te.is_valid = True
                    break
            else:
                edges.append(TextEdge(x, y0, t["y1"], align))

    def get_relevant(self) -> list[TextEdge]:
        sums = {
            a: sum(te.intersections for te in self._edges[a] if te.is_valid)
            for a in ALIGNS}
        # max by sum with deterministic left>right>middle preference on
        # ties (dict order == ALIGNS order, like the reference's dict)
        best = max(ALIGNS, key=lambda a: sums[a])
        return self._edges[best]

    def get_table_areas(self, textlines, relevant) -> list[tuple]:
        """Merge overlapping valid edges into areas, extend by
        vertically-contained textlines, pad."""
        areas: list[list[float]] = []
        for te in sorted(relevant, key=lambda te: (-te.y0, te.x)):
            if not te.is_valid:
                continue
            found = None
            for area in areas:
                if te.y1 >= area[1] and te.y0 <= area[3]:
                    found = area
                    break
            if found is None:
                areas.append([te.x, te.y0, te.x, te.y1])
            else:
                found[1] = min(te.y0, found[1])
                found[2] = max(found[2], te.x)
                found[3] = max(found[3], te.y1)

        sum_h = 0.0
        for t in textlines:
            y0, y1 = t["y0"], t["y1"]
            sum_h += y1 - y0
            for area in areas:
                if y0 >= area[1] and y1 <= area[3]:
                    area[0] = min(t["x0"], area[0])
                    area[1] = min(y0, area[1])
                    area[2] = max(area[2], t["x1"])
                    area[3] = max(area[3], y1)
                    break
        avg_h = sum_h / float(len(textlines)) if textlines else 0.0
        return [
            (a[0] - TABLE_AREA_PADDING, a[1] - TABLE_AREA_PADDING,
             a[2] + TABLE_AREA_PADDING, a[3] + avg_h * 5.0)
            for a in areas]


def detect_table_areas(textlines, edge_tol: float = EDGE_TOL,
                       page_size: tuple | None = None,
                       whole_page_fallback: bool = False) -> list[tuple]:
    """Nurminen detection: padded candidate areas, top-down."""
    if not textlines:
        return []
    edges = TextEdges(edge_tol)
    edges.generate(textlines)
    areas = edges.get_table_areas(textlines, edges.get_relevant())
    if not areas and whole_page_fallback and page_size:
        areas = [(0.0, 0.0, page_size[0], page_size[1])]
    return sorted(areas, key=lambda a: -a[1])


def group_rows(text_lines, row_tol: float = ROW_TOL):
    """Group text lines into rows by y0 within row_tol, anchored on the
    row's first line, reading order (reference _group_rows)."""
    rows: list[list] = []
    cur: list = []
    row_y = None
    for t in sorted(text_lines, key=lambda t: (-t["y0"], t["x0"])):
        if not t["text"].strip():
            continue
        if row_y is None or abs(row_y - t["y0"]) > row_tol:
            if cur:
                rows.append(sorted(cur, key=lambda t: t["x0"]))
            cur = []
            row_y = t["y0"]
        cur.append(t)
    if cur:
        rows.append(sorted(cur, key=lambda t: t["x0"]))
    return rows


def join_rows(rows_grouped, y_max: float, y_min: float):
    """Continuous (top, bottom) row intervals from midpoints between
    consecutive row mid-y's (reference _join_rows)."""
    mids = [sum((t["y0"] + t["y1"]) / 2.0 for t in r) / len(r)
            for r in rows_grouped]
    bounds = [y_max]
    bounds += [(mids[i] + mids[i - 1]) / 2.0 for i in range(1, len(mids))]
    bounds.append(y_min)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def merge_columns(intervals, column_tol: float = COLUMN_TOL):
    """Merge overlapping/near (x0, x1) intervals (reference
    _merge_columns, non-negative tol branch)."""
    merged: list[tuple] = []
    for higher in intervals:
        if not merged:
            merged.append(higher)
            continue
        lower = merged[-1]
        if higher[0] <= lower[1] or abs(higher[0] - lower[1]) <= column_tol:
            merged[-1] = (min(lower[0], higher[0]), max(lower[1], higher[1]))
        else:
            merged.append(higher)
    return merged


def add_columns(cols, leftover_lines, row_tol: float = ROW_TOL):
    """Extend column intervals with text the mode-width rows missed
    (reference _add_columns)."""
    if leftover_lines:
        rows = group_rows(leftover_lines, row_tol)
        elements = [len(r) for r in rows]
        new = sorted((t["x0"], t["x1"])
                     for r in rows if len(r) == max(elements) for t in r)
        cols = cols + merge_columns(new)
    return cols


def join_columns(cols, x_min: float, x_max: float):
    """Continuous (left, right) column intervals (reference
    _join_columns)."""
    cols = sorted(cols)
    bounds = [x_min]
    bounds += [(cols[i][0] + cols[i - 1][1]) / 2.0
               for i in range(1, len(cols))]
    bounds.append(x_max)
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def infer_ncols(rows_grouped) -> int:
    """Mode of row lengths; all-1s rows fall back to the mode of the
    non-1 lengths (reference's 'skewed list' branch); 0 = no table."""
    elements = [len(r) for r in rows_grouped]
    if not elements:
        return 0
    ncols = max(set(elements), key=elements.count)
    if ncols == 1:
        non1 = [e for e in elements if e != 1]
        ncols = max(set(non1), key=non1.count) if non1 else 1
    return ncols


def build_area_table(textlines, row_tol: float = ROW_TOL,
                     column_tol: float = COLUMN_TOL):
    """Reconstruct one table from the textlines inside a detected area.

    Returns (cells, bbox, accuracy, whitespace) or None when the area
    does not reconstruct to a >=2-column, >=2-row grid (integrated-mode
    gate; see module docstring). ``textlines`` are the lines whose
    center lies in the area — all are consumed by the caller on
    success.
    """
    if not textlines:
        return None
    rows_grouped = group_rows(textlines, row_tol)
    if len(rows_grouped) < 2:
        return None
    ncols = infer_ncols(rows_grouped)
    if ncols < 2:
        return None

    x_min = min(t["x0"] for t in textlines)
    x_max = max(t["x1"] for t in textlines)
    y_min = min(t["y0"] for t in textlines)
    y_max = max(t["y1"] for t in textlines)

    rows = join_rows(rows_grouped, y_max, y_min)
    col_ivs = merge_columns(
        sorted((t["x0"], t["x1"])
               for r in rows_grouped if len(r) == ncols for t in r),
        column_tol)
    # text the mode-width rows missed: strictly between columns, or
    # outside the first/last column
    inner = []
    for i in range(1, len(col_ivs)):
        left, right = col_ivs[i - 1][1], col_ivs[i][0]
        inner.extend(t for t in textlines
                     if t["x0"] > left and t["x1"] < right)
    inner.extend(t for t in textlines
                 if t["x0"] > col_ivs[-1][1] or t["x1"] < col_ivs[0][0])
    col_ivs = add_columns(col_ivs, inner, row_tol)
    cols = join_columns(col_ivs, x_min, x_max)

    # full grid (set_all_edges): every base cell is its own cell
    grid: dict[tuple, LogicalCell] = {}
    for r in range(len(rows)):
        for c in range(len(cols)):
            grid[(r, c)] = LogicalCell(
                row=r, col=c, row_span=1, col_span=1,
                x0=cols[c][0], y0=rows[r][1], x1=cols[c][1], y1=rows[r][0])

    # whole-line placement (split_text=False): row by y-center
    # containment (nearest on boundary), column by max overlap ratio
    pos_errors = []
    for t in sorted(textlines, key=lambda t: (-t["y0"], t["x0"])):
        yc = (t["y0"] + t["y1"]) / 2.0
        r_idx = None
        for r, (top, bot) in enumerate(rows):
            if bot < yc < top:
                r_idx = r
                break
        if r_idx is None:
            r_idx = min(
                range(len(rows)),
                key=lambda r: max(rows[r][1] - yc, yc - rows[r][0], 0.0))
        tx0, tx1 = t["x0"], t["x1"]
        best_c, best_ov = 0, -1.0
        for c, (cx0, cx1) in enumerate(cols):
            if cx0 <= tx1 and cx1 >= tx0:
                # (min(cx1, tx1) - max(cx0, tx0)) / abs(cx1 - cx0)
                ov = ((tx1 if tx1 < cx1 else cx1)
                      - (tx0 if tx0 > cx0 else cx0)) / abs(cx1 - cx0)
                if ov > best_ov:
                    best_ov, best_c = ov, c
        pos_errors.append(placement_error(t, rows[r_idx], cols[best_c]))
        txt = t["text"].strip("\n").strip()
        if txt:
            grid[(r_idx, best_c)].texts.append(txt)

    cells = [grid[(r, c)] for r in range(len(rows))
             for c in range(len(cols))]
    accuracy = compute_accuracy(pos_errors)
    matrix = [[grid[(r, c)].text for c in range(len(cols))]
              for r in range(len(rows))]
    whitespace = compute_whitespace(matrix)
    bbox = (x_min, y_min, x_max, y_max)
    return cells, bbox, accuracy, whitespace


def extract_stream_tables(text_lines, edge_tol: float = EDGE_TOL,
                          row_tol: float = ROW_TOL,
                          column_tol: float = COLUMN_TOL):
    """Full stream pipeline over a page's (remainder) textlines.

    Returns (tables, consumed_ids): tables as (cells, bbox, accuracy,
    whitespace) tuples top-down, consumed_ids indexing ``text_lines``.
    """
    areas = detect_table_areas(text_lines, edge_tol)
    tables, consumed = [], set()
    for area in areas:
        inside = [
            (i, t) for i, t in enumerate(text_lines)
            if i not in consumed
            and area[0] <= (t["x0"] + t["x1"]) / 2.0 <= area[2]
            and area[1] <= (t["y0"] + t["y1"]) / 2.0 <= area[3]]
        built = build_area_table([t for _, t in inside], row_tol,
                                 column_tol)
        if built is None:
            continue
        consumed.update(i for i, _ in inside)
        tables.append(built)
    return tables, consumed
