"""Geometry primitives for page decoding.

Behavioral parity targets (semantics only, re-derived — not a port):
  * merge_close_lines  — reference ``utils/pdf_utils.py:804-847``
  * segments_in_bbox   — reference ``utils/pdf_utils.py:634-723``
  * text_in_bbox       — reference ``utils/pdf_utils.py:726-801`` (the
    pure-containment part; char-splitting handled by fixture design)
  * IoU / L1 distance  — reference ``table_common.py:435-517``

All coordinates are PDF-space (origin bottom-left, y grows up).
A *segment* is ``(x0, y0, x1, y1)`` with x0<=x1, y0<=y1.
"""

from __future__ import annotations

import bisect
import math

# Tolerances mirroring the reference defaults
# (table_extractor_lattice.py:92-111, table_extractor_stream.py:65-77).
LINE_TOL = 2.0
JOINT_TOL = 2.0
ROW_TOL = 2.0


def merge_close_lines(values, line_tol: float = LINE_TOL,
                      last_merge_threshold: float = -1.0) -> list[float]:
    """Sequential moving-mean 1-D clustering of *sorted* coordinates.

    Order-dependent by design: the running mean of the open cluster is
    compared (|mean - x| <= line_tol) against each next value; this must
    run as a sweep inside one batch, never as a commutative aggregate.

    ``last_merge_threshold`` > 0 enables the A1 thin edge-axis drop
    (reference ``pdf_utils.py:830-846``, used by the LineCell decoders
    with threshold 10-20): when >2 axis points survive and the first or
    last gap is both below the threshold and below 20% of range/len —
    the reference's own approximation of the average gap (it divides by
    the point count, not the gap count, and evaluates both edge checks
    against the pre-drop average) — that hairline edge coordinate is
    dropped.
    """
    out: list[float] = []
    for v in values:
        if out and math.isclose(out[-1], v, abs_tol=line_tol):
            out[-1] = (out[-1] + v) / 2.0
        else:
            out.append(float(v))
    total = len(out)
    if total > 2 and last_merge_threshold > 0:
        avg_width = abs(max(out) - min(out)) / total
        first_w = abs(out[1] - out[0])
        if first_w < last_merge_threshold and first_w < avg_width * 0.2:
            out = out[1:]
        last_w = abs(out[-1] - out[-2])
        if last_w < last_merge_threshold and last_w < avg_width * 0.2:
            out = out[:-1]
    return out


def dedup_overlapping_boxes(text_lines) -> list:
    """U3 — discard duplicate text boxes (reference ``text_in_bbox``'s
    dedup branch, ``pdf_utils.py:788-799``): when two boxes intersect
    and the intersection covers >80% of box A's area while box B is at
    least as wide, A is the duplicate and is dropped. Stable order of
    survivors (input order).

    ``inter > 0.8 * area_A`` forces both axis overlaps above 0.8 of A's
    extent, which puts A's centre inside B's box. So the full predicate
    runs only on the boxes containing A's centre, found by a sweep over
    the boxes sorted by bottom edge with a running max of their tops
    (on a page of text lines, usually none but A itself). The boxes
    are visited in input order and a dropped box is no witness, so
    identical twins keep exactly one member, like the reference's
    rest-set iteration.
    """
    n = len(text_lines)
    if n < 2:
        return list(text_lines)
    boxes = [(float(t["x0"]), float(t["y0"]), float(t["x1"]), float(t["y1"]))
             for t in text_lines]
    # a box with a NaN bottom contains no point; leave it out of the sort
    order = sorted((b[1], k) for k, b in enumerate(boxes) if b[1] == b[1])
    bottoms = [y0 for y0, _ in order]
    reach, top = [], -math.inf   # reach[p]: max top over order[:p + 1]
    for _, k in order:
        if boxes[k][3] > top:
            top = boxes[k][3]
        reach.append(top)

    drop: set[int] = set()
    for i, (ax0, ay0, ax1, ay1) in enumerate(boxes):
        w = ax1 - ax0
        area = w * (ay1 - ay0)
        if not area > 0:
            continue
        cx, cy = ax0 + w * 0.5, ay0 + (ay1 - ay0) * 0.5
        p = bisect.bisect_right(bottoms, cy) - 1
        while p >= 0 and reach[p] >= cy:
            j = order[p][1]
            p -= 1
            bx0, by0, bx1, by1 = boxes[j]
            if by1 >= cy and bx0 <= cx <= bx1 and j != i and j not in drop:
                iw = min(ax1, bx1) - max(ax0, bx0)
                ih = min(ay1, by1) - max(ay0, by0)
                if bx1 - bx0 >= w and (iw if iw > 0 else 0.0) \
                        * (ih if ih > 0 else 0.0) > 0.8 * area:
                    drop.add(i)
                    break
    return [t for i, t in enumerate(text_lines) if i not in drop]


def rects_to_segments(rects, thickness_tol: float = LINE_TOL):
    """Classify thin rects (vector ruling lines) into horizontal /
    vertical center-line segments. Fat rects (real boxes) contribute
    their four border lines.

    Returns (horizontal, vertical): lists of (x0, y, x1, y) resp.
    (x, y0, x, y1), each sorted for determinism.
    """
    horizontal: list[tuple[float, float, float, float]] = []
    vertical: list[tuple[float, float, float, float]] = []
    for r in rects:
        x0, y0, x1, y1 = float(r["x0"]), float(r["y0"]), float(r["x1"]), float(r["y1"])
        if x1 < x0:
            x0, x1 = x1, x0
        if y1 < y0:
            y0, y1 = y1, y0
        w, h = x1 - x0, y1 - y0
        if h <= thickness_tol and w > h:      # thin and wide
            yc = (y0 + y1) / 2.0
            horizontal.append((x0, yc, x1, yc))
        elif w <= thickness_tol and h > w:    # thin and tall
            xc = (x0 + x1) / 2.0
            vertical.append((xc, y0, xc, y1))
        else:  # a filled box: its outline is four ruling lines
            horizontal.append((x0, y0, x1, y0))
            horizontal.append((x0, y1, x1, y1))
            vertical.append((x0, y0, x0, y1))
            vertical.append((x1, y0, x1, y1))
    horizontal.sort()
    vertical.sort()
    return horizontal, vertical


def segment_intersection(h, v, tol: float = JOINT_TOL):
    """Joint of a horizontal and a vertical segment, or None.

    Extends both segments by `tol` at the tips so T- and L-joints at
    table borders register (reference extends bboxes by ±2px).
    """
    hx0, hy, hx1, _ = h
    vx, vy0, _, vy1 = v
    if hx0 - tol <= vx <= hx1 + tol and vy0 - tol <= hy <= vy1 + tol:
        return (vx, hy)
    return None


def segments_in_bbox(bbox, horizontal, vertical, tol: float = JOINT_TOL):
    """Ruling segments lying inside ``bbox`` (±tol), reference F2."""
    x0, y0, x1, y1 = bbox
    h = [s for s in horizontal
         if s[0] >= x0 - tol and s[2] <= x1 + tol and y0 - tol <= s[1] <= y1 + tol]
    v = [s for s in vertical
         if s[1] >= y0 - tol and s[3] <= y1 + tol and x0 - tol <= s[0] <= x1 + tol]
    return h, v


def box_contains(outer, inner, diff: float = 2.0) -> bool:
    """inner box lies within outer (±diff) — reference
    ``box_in_other_box`` (``table_common.py:138-160``), used by the
    false-table suppression checks (F6/J4)."""
    return (inner[0] >= outer[0] - diff and inner[2] <= outer[2] + diff
            and outer[1] - diff <= inner[1] <= inner[3] <= outer[3] + diff)


def iou(a, b) -> float:
    """Intersection-over-union of two (x0,y0,x1,y1) boxes."""
    ix0, iy0 = max(a[0], b[0]), max(a[1], b[1])
    ix1, iy1 = min(a[2], b[2]), min(a[3], b[3])
    iw, ih = max(0.0, ix1 - ix0), max(0.0, iy1 - iy0)
    inter = iw * ih
    if inter <= 0:
        return 0.0
    area_a = (a[2] - a[0]) * (a[3] - a[1])
    area_b = (b[2] - b[0]) * (b[3] - b[1])
    union = area_a + area_b - inter
    return inter / union if union > 0 else 0.0


def l1_center_distance(a, b) -> float:
    """L1 distance between box centers (reference matcher.py:20-55)."""
    ax, ay = (a[0] + a[2]) / 2.0, (a[1] + a[3]) / 2.0
    bx, by = (b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0
    return abs(ax - bx) + abs(ay - by)


def merge_intervals(intervals, gap: float = 0.0):
    """Union of 1-D intervals; merge when overlapping or within ``gap``.

    Interval-union sweep used by column merge (A3) and table-bbox merge
    (U4, reference diff=10).
    """
    if not intervals:
        return []
    ivs = sorted((float(a), float(b)) for a, b in intervals)
    out = [list(ivs[0])]
    for a, b in ivs[1:]:
        if a <= out[-1][1] + gap:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(iv) for iv in out]


def connected_components(n: int, edges) -> list[int]:
    """Union-find: component id per node (used to group ruling segments
    into table regions). Deterministic: component id = smallest member.
    The finds are inlined (path halving): a dense grid page unions
    hundreds of thousands of joint edges.
    """
    parent = list(range(n))
    for a, b in edges:
        while parent[a] != a:
            parent[a] = a = parent[parent[a]]
        while parent[b] != b:
            parent[b] = b = parent[parent[b]]
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    out = []
    for i in range(n):
        r = parent[i]
        while parent[r] != r:
            r = parent[r]
        out.append(r)
    return out
