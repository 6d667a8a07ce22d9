"""Ruled ("lattice") table reconstruction from vector ruling lines.

Re-expresses the deterministic decoder family of the reference:
  * table region discovery from ruling segments — semantics of
    LineCellPdf (``table_cell_extract_from_pdf.py:41-484``) / lattice
    contour+joint detection (``table_extractor_lattice.py:186-231``)
  * axis inference via merge_close_lines —
    ``table_extractor_lattice.py:233-258``
  * grid edge marking / border / span flags — ``table_core.py:544-718``
    (set_edges / set_border / set_span)
  * logical-cell merge sweeps — ``table_extractor_pdf.py:769-905``
  * text→cell placement — ``pdf_utils.py:1041-1139`` (get_table_index)
    + spanning-cell shift ``table_extractor_lattice.py:321-364``

This is a clean-room re-derivation on a different data model (vector
spans, not raster images): no OpenCV, no contours — joints come from
exact segment intersections.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import geometry as G
from .export_render import grid_matrix
from .quality import (compute_accuracy, compute_whitespace,
                      placement_error)

MIN_JOINTS = 4  # a table needs at least a 2x2 joint grid (contour gate F8)


@dataclass(slots=True)
class LogicalCell:
    row: int
    col: int
    row_span: int
    col_span: int
    x0: float
    y0: float
    x1: float
    y1: float
    texts: list = field(default_factory=list)

    @property
    def text(self) -> str:
        return "\n".join(self.texts)


@dataclass
class RuledTable:
    bbox: tuple  # (x0, y0, x1, y1) PDF coords
    n_rows: int
    n_cols: int
    rows: list  # row y-intervals top-down: [(y_top, y_bottom), ...]
    cols: list  # col x-intervals left-right: [(x_left, x_right), ...]
    cells: list  # list[LogicalCell]
    cell_of: dict  # (base_r, base_c) -> LogicalCell
    accuracy: float = 0.0    # A9: placement score out of 100
    whitespace: float = 0.0  # A9: % empty base cells
    consumed_ids: list = field(default_factory=list)  # text_lines idxs
    released: list = field(default_factory=list)      # F1 outside pieces


def find_table_regions(horizontal, vertical, tol: float = G.JOINT_TOL):
    """Group ruling segments into table regions by joint connectivity.

    Returns list of (bbox, h_segs, v_segs, joints) sorted top-down then
    left-right (reading order, reference O3).

    The H×V joint test is one numpy broadcast (same comparisons as
    ``G.segment_intersection``, extended-by-tol tips); the hits come
    back as Python ints and everything after it is plain Python over
    the segment tuples, which beats numpy scalars on pages of ~20
    rulings and on dense grids alike (measured).
    """
    n_h = len(horizontal)
    segs = horizontal + vertical
    hs: list[int] = []
    vs: list[int] = []
    if horizontal and vertical:
        import numpy as np

        ha = np.asarray(horizontal, dtype=np.float64)  # (x0, y, x1, y)
        va = np.asarray(vertical, dtype=np.float64)    # (x, y0, x, y1)
        hx0, hy, hx1 = ha[:, 0:1], ha[:, 1:2], ha[:, 2:3]
        vx, vy0, vy1 = va[:, 0], va[:, 1], va[:, 3]
        hit = ((hx0 - tol <= vx) & (vx <= hx1 + tol)
               & (vy0 - tol <= hy) & (hy <= vy1 + tol))
        hi, vi = np.nonzero(hit)   # row-major, like the pairwise loop
        hs, vs = hi.tolist(), (vi + n_h).tolist()
    comp = G.connected_components(len(segs), zip(hs, vs))

    members: dict[int, list] = {}
    for k, c in enumerate(comp):
        m = members.get(c)
        if m is None:
            members[c] = [k]
        else:
            m.append(k)
    # each component's distinct joints; a grid point is hit by up to
    # four ruling pieces
    points: dict[int, dict] = {}
    for i, j in zip(hs, vs):
        p = (segs[j][0], segs[i][1])
        d = points.get(comp[i])
        if d is None:
            points[comp[i]] = {p: None}
        else:
            d[p] = None

    regions = []
    for c, ks in members.items():
        if c not in points:   # a lone segment, or rulings of one axis
            continue
        # dedup joints on rounded key (reference A8 joint normalization)
        # BEFORE the joint-count gate: double-drawn strokes would
        # otherwise double-count joints and let degenerate 1-row
        # "tables" through, swallowing page prose
        seen, joints = set(), []
        for x, y in sorted(points[c]):
            k = (round(x), round(y))
            if k not in seen:
                seen.add(k)
                joints.append((x, y))
        if len(joints) < MIN_JOINTS:
            continue
        h = [segs[k] for k in ks if k < n_h]
        v = [segs[k] for k in ks if k >= n_h]
        xs = [s[0] for s in h] + [s[2] for s in h] + [s[0] for s in v]
        ys = [s[1] for s in v] + [s[3] for s in v] + [s[1] for s in h]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        regions.append((bbox, sorted(h), sorted(v), joints))
    # reading order: top of page first (PDF y grows up), then left
    regions.sort(key=lambda r: (-r[0][3], r[0][0]))
    return regions


def merge_stacked_regions(regions, diff: float = 10.0):
    """U4 table-bbox merge (reference ``table_bbox_merge``,
    ``table_extractor_pdf.py:1627-1679``): consecutive regions in
    reading order whose facing borders coincide at both corners
    (current bottom-left ≈ next top-left AND bottom-right ≈ top-right,
    ±diff) are one table split by a detection artifact — stitch them:
    union segments, dedup joints within diff, extend the bbox."""
    if len(regions) < 2:
        return regions
    out = []
    cur = regions[0]
    for nxt in regions[1:]:
        (bb, h, v, j) = cur
        (bb2, h2, v2, j2) = nxt
        if (abs(bb[0] - bb2[0]) <= diff and abs(bb[2] - bb2[2]) <= diff
                and abs(bb[1] - bb2[3]) <= diff):
            nbb = (min(bb[0], bb2[0]), bb2[1],
                   max(bb[2], bb2[2]), bb[3])
            joints = list(j)
            for p in j2:
                if not any(abs(p[0] - q[0]) <= diff
                           and abs(p[1] - q[1]) <= diff for q in joints):
                    joints.append(p)
            cur = (nbb, sorted(h + h2), sorted(v + v2), joints)
        else:
            out.append(cur)
            cur = nxt
    out.append(cur)
    return out


LAST_MERGE_THRESHOLD = 10.0  # A1 thin edge-axis drop (LineCell parity)


def build_grid(bbox, joints, line_tol: float = G.LINE_TOL):
    """Infer row/col axes from joint coordinates.

    cols ascending, rows *descending* (top-down), each collapsed with
    merge_close_lines, then paired into consecutive intervals —
    semantics of ``_generate_columns_and_rows`` with the LineCell
    decoders' thin first/last axis drop (A1 ``last_merge_threold``,
    threshold 10, ``table_cell_extract_algo.py:402-403``): a hairline
    edge column/row (< 10pt and < 20% of the average gap) is noise from
    double-drawn borders and is removed from the axis.
    """
    cols_pts = sorted([x for x, _ in joints] + [bbox[0], bbox[2]])
    rows_pts = sorted([y for _, y in joints] + [bbox[1], bbox[3]], reverse=True)
    cols_m = G.merge_close_lines(cols_pts, line_tol,
                                 last_merge_threshold=LAST_MERGE_THRESHOLD)
    rows_m = G.merge_close_lines(rows_pts, line_tol,
                                 last_merge_threshold=LAST_MERGE_THRESHOLD)
    cols = [(cols_m[i], cols_m[i + 1]) for i in range(len(cols_m) - 1)]
    rows = [(rows_m[i], rows_m[i + 1]) for i in range(len(rows_m) - 1)]
    return cols, rows


def _first_close(axis, values, tol):
    """``{v: index of the first axis value c with abs(v - c) <= tol,
    or None}`` for each distinct ``v``: a grid's ruling pieces share a
    handful of coordinates (per table ~17 vertical pieces on ~4
    distinct x), so each is looked up once."""
    return {v: next((k for k, c in enumerate(axis) if abs(v - c) <= tol),
                    None)
            for v in set(values)}


def mark_edges(cols, rows, v_segs, h_segs, joint_tol: float = G.JOINT_TOL):
    """Edge booleans per base cell: (left, right, top, bottom) arrays.

    Same decision procedure as Table.set_edges + set_border
    (``table_core.py:544-680``): a vertical segment at column boundary
    ``i`` marks left edges of column i (and right edges of column i-1)
    for the rows its y-extent covers; symmetric for horizontal.
    """
    nr, nc = len(rows), len(cols)
    left = [[False] * nc for _ in range(nr)]
    right = [[False] * nc for _ in range(nr)]
    top = [[False] * nc for _ in range(nr)]
    bottom = [[False] * nc for _ in range(nr)]
    tol = joint_tol
    col_at = _first_close(
        [c[0] for c in cols],
        [s[0] for s in v_segs] + [s[0] for s in h_segs]
        + [s[2] for s in h_segs], tol)
    row_at = _first_close(
        [r[0] for r in rows],
        [s[1] for s in h_segs] + [s[1] for s in v_segs]
        + [s[3] for s in v_segs], tol)
    x_last, y_last = cols[-1][1], rows[-1][1]

    # row r has y-interval (top=rows[r][0], bottom=rows[r][1])
    for x, y0, _, y1 in v_segs:
        J = row_at[y1]
        if J is None:
            continue
        K = row_at[y0]
        covered = range(J, nr if K is None else K)
        ci = col_at[x]
        if ci is not None:
            for r in covered:
                left[r][ci] = True
            if ci > 0:
                for r in covered:
                    right[r][ci - 1] = True
        elif abs(x - x_last) <= tol:
            for r in covered:
                right[r][nc - 1] = True

    for x0, y, x1, _ in h_segs:
        J = col_at[x0]
        if J is None:
            continue
        K = col_at[x1]
        covered = range(J, nc if K is None else K)
        ri = row_at[y]
        if ri is not None:
            row = top[ri]
            for c in covered:
                row[c] = True
            if ri > 0:
                row = bottom[ri - 1]
                for c in covered:
                    row[c] = True
        elif abs(y - y_last) <= tol:
            row = bottom[nr - 1]
            for c in covered:
                row[c] = True

    # set_border
    for r in range(nr):
        left[r][0] = True
        right[r][nc - 1] = True
    top[0] = [True] * nc
    bottom[nr - 1] = [True] * nc
    return left, right, top, bottom


def merge_logical_cells(cols, rows, left, right, top, bottom):
    """Region-grow base cells into logical cells across missing rulings.

    Equivalent outcome to the reference's horizontal + vertical merge
    sweeps (merge_column_cell / merge_row_cell,
    ``table_extractor_pdf.py:769-905``) followed by row/col-span
    assignment (modify_cell_info ``:708-743``): a logical cell is the
    maximal rectangle of base cells with no interior ruling.
    Deterministic scan order: top-down, left-right.
    """
    nr, nc = len(rows), len(cols)
    taken = [[False] * nc for _ in range(nr)]
    # open[r][c]: no ruling between base cells (r, c) and (r, c + 1)
    open_ = [[not rr[c] and not ll[c + 1] for c in range(nc - 1)]
             for rr, ll in zip(right, left)]
    cells: list[LogicalCell] = []
    cell_of: dict[tuple, LogicalCell] = {}
    for r in range(nr):
        taken_r, open_r = taken[r], open_[r]
        for c in range(nc):
            if taken_r[c]:
                continue
            # grow right while no ruling between column c2 and c2+1
            c2 = c
            while c2 + 1 < nc and open_r[c2] and not taken_r[c2 + 1]:
                c2 += 1
            # grow down while every column in [c, c2] lacks a bottom
            # ruling AND the absorbed row has no interior vertical
            # ruling inside [c, c2] (otherwise a visible vertical line
            # would end up inside the merged cell)
            r2 = r
            while r2 + 1 < nr:
                bot, nxt, tk = bottom[r2], top[r2 + 1], taken[r2 + 1]
                for cc in range(c, c2 + 1):
                    if bot[cc] or nxt[cc] or tk[cc]:
                        break
                else:
                    if all(open_[r2 + 1][c:c2]):
                        r2 += 1
                        continue
                break
            # row, col, row_span, col_span, x0, y0, x1, y1
            cell = LogicalCell(r, c, r2 - r + 1, c2 - c + 1,
                               cols[c][0], rows[r2][1], cols[c2][1], rows[r][0])
            cells.append(cell)
            if r2 == r and c2 == c:   # the scan never looks back
                cell_of[(r, c)] = cell
                continue
            for rr in range(r, r2 + 1):
                tk = taken[rr]
                for cc in range(c, c2 + 1):
                    tk[cc] = True
                    cell_of[(rr, cc)] = cell
    return cells, cell_of


def split_line_at_x(t, x_lo, x_hi):
    """F1 boundary split (reference ``text_in_bbox``'s straddling-box
    branch, ``pdf_utils.py:757-783``): chars whose extent lies within
    [x_lo, x_hi] form the inside piece, the rest the outside piece.
    Char geometry is the uniform-width derivation shared with
    ``split_text_at_cuts``. Returns (inside, outside); either may be
    None when empty."""
    text = t["text"]
    if not text:
        return None, t
    w = (t["x1"] - t["x0"]) / len(text)
    ins, outs = [], []
    for i, ch in enumerate(text):
        cx0 = t["x0"] + i * w
        if x_lo <= cx0 and cx0 + w <= x_hi:
            ins.append((i, ch))
        else:
            outs.append((i, ch))

    def piece(idx_chars):
        if not idx_chars:
            return None
        i0 = idx_chars[0][0]
        i1 = idx_chars[-1][0]
        return {**t, "x0": t["x0"] + i0 * w,
                "x1": t["x0"] + (i1 + 1) * w,
                "text": "".join(ch for _, ch in idx_chars)}

    return piece(ins), piece(outs)


def split_text_at_cuts(t, cuts):
    """X4 char-level re-bucketing (reference ``split_textline``,
    ``pdf_utils.py:923-1038``): split a text line at column-cut
    x-coordinates. Char geometry is derived deterministically from the
    line extent (uniform width = (x1-x0)/len); each char goes to the
    segment containing its center. Returns piece dicts with clipped
    x-extents; empty pieces are dropped."""
    text = t["text"]
    if not text or not cuts:
        return [t]
    w = (t["x1"] - t["x0"]) / len(text)
    bounds = [t["x0"]] + sorted(cuts) + [t["x1"]]
    pieces = []
    for b0, b1 in zip(bounds, bounds[1:]):
        chars = "".join(
            ch for i, ch in enumerate(text)
            if b0 <= t["x0"] + (i + 0.5) * w < b1)
        if chars.strip():
            pieces.append({**t, "x0": b0, "x1": b1, "text": chars})
    return pieces or [t]


def place_text(table: RuledTable, text_lines,
               cut_tol: float = G.LINE_TOL):
    """Assign text lines to logical cells — get_table_index semantics:
    row by y-center containment, column by max x-overlap ratio; the
    spanning-cell mapping collapses the base index to its logical cell.

    A line whose x-extent crosses a *logical* cell boundary (a column
    cut where the two neighboring base cells belong to different
    logical cells — never inside a merged cell) is first char-split at
    those cuts (X4). Reading order inside a cell: sort by (-y0, x0),
    join with newline.

    Returns the list of per-piece placement errors (A9 input; the
    reference's get_table_index error, computed against the assigned
    LOGICAL cell's extent so merged cells don't penalize their own
    spanned area).
    """
    pos_errors: list[float] = []
    rows, cols, cell_of = table.rows, table.cols, table.cell_of
    # per row: the column cuts between two different logical cells —
    # never inside a merged cell
    row_cuts = [[cols[c][0] for c in range(1, len(cols))
                 if cell_of[(r, c - 1)] is not cell_of[(r, c)]]
                for r in range(len(rows))]
    for t0 in sorted(text_lines, key=lambda t: (-t["y0"], t["x0"])):
        yc = (t0["y0"] + t0["y1"]) / 2.0
        r_idx = -1
        for r, (ytop, ybot) in enumerate(rows):
            if ybot < yc < ytop:
                r_idx = r
                break
        if r_idx == -1:
            # J1 argmin fallback: a line whose center sits exactly on a
            # row boundary (or was shifted off-axis by merge averaging)
            # must land in the NEAREST row — dropping it here would lose
            # the text entirely, since the caller already consumed it
            # out of the page remainder
            best_d, best_r = None, 0
            for r, (ytop, ybot) in enumerate(rows):
                d = max(ybot - yc, yc - ytop, 0.0)
                if best_d is None or d < best_d:
                    best_d, best_r = d, r
            r_idx = best_r
        lo, hi = t0["x0"] + cut_tol, t0["x1"] - cut_tol
        cuts = [cx for cx in row_cuts[r_idx] if lo < cx < hi]
        for t in split_text_at_cuts(t0, cuts) if cuts else (t0,):
            tx0, tx1 = t["x0"], t["x1"]
            best_c, best_ov = -1, -1.0
            for c, (cx0, cx1) in enumerate(cols):
                if cx0 <= tx1 and cx1 >= tx0:
                    # abs(min(cx1, tx1) - max(cx0, tx0)) / abs(cx1 - cx0)
                    ov = abs((tx1 if tx1 < cx1 else cx1)
                             - (tx0 if tx0 > cx0 else cx0)) / abs(cx1 - cx0)
                    if ov > best_ov:
                        best_ov, best_c = ov, c
            if best_c == -1:
                continue
            cell = cell_of[(r_idx, best_c)]
            pos_errors.append(placement_error(
                t, (cell.y1, cell.y0), (cell.x0, cell.x1)))
            txt = t["text"].strip("\n").strip()
            if txt:
                cell.texts.append(txt)
    return pos_errors


def extract_ruled_tables(rects, text_lines, line_tol: float = G.LINE_TOL,
                         joint_tol: float = G.JOINT_TOL):
    """Full ruled pipeline for one page: rects → segments → regions →
    grid → logical cells → text placement. Returns (tables,
    consumed_text_ids) where consumed ids index into ``text_lines``.
    """
    horizontal, vertical = G.rects_to_segments(rects)
    regions = merge_stacked_regions(
        find_table_regions(horizontal, vertical, joint_tol))
    tables: list[RuledTable] = []
    consumed: set[int] = set()
    for bbox, h_segs, v_segs, joints in regions:
        cols, rows = build_grid(bbox, joints, line_tol)
        if len(cols) < 1 or len(rows) < 1 or (len(cols) == 1 and len(rows) == 1):
            continue  # single-cell-table filter (F7)
        left, right, top, bottom = mark_edges(cols, rows, v_segs, h_segs, joint_tol)
        cells, cell_of = merge_logical_cells(cols, rows, left, right, top, bottom)
        table = RuledTable(bbox=bbox, n_rows=len(rows), n_cols=len(cols),
                           rows=rows, cols=cols, cells=cells, cell_of=cell_of)
        # F1 text_in_bbox: y-center in the band, then (a) x-center in →
        # whole line, (b) starts inside but overruns the right border →
        # char-split, inside piece placed, outside piece released back
        # to the page remainder (reference pdf_utils.py:726-801, diff=2)
        diff = 2.0
        x_lo, y_lo = bbox[0] - diff, bbox[1] - diff
        x_hi, y_hi = bbox[2] + diff, bbox[3] + diff
        in_table = []
        for i, t in enumerate(text_lines):
            if i in consumed:
                continue
            yc = (t["y0"] + t["y1"]) / 2.0
            if not (y_lo <= yc <= y_hi):
                continue
            xc = (t["x0"] + t["x1"]) / 2.0
            if x_lo <= xc <= x_hi:
                in_table.append((i, t))
            elif x_lo <= t["x0"] <= x_hi:
                inside, outside = split_line_at_x(t, x_lo, x_hi)
                if inside is not None and inside["text"].strip():
                    in_table.append((i, inside))
                    if outside is not None and outside["text"].strip():
                        table.released.append(outside)
        pos_errors = place_text(table, [t for _, t in in_table])
        # A9 quality metrics ride the table (reference attaches them at
        # table_extractor_lattice.py:294-306)
        table.accuracy = compute_accuracy(pos_errors)
        table.whitespace = compute_whitespace(grid_matrix(cells))
        table.consumed_ids = [i for i, _ in in_table]
        consumed.update(table.consumed_ids)
        tables.append(table)
    return tables, consumed
