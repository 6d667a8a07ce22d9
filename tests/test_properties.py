"""Property-based tests (hypothesis) over the pure extraction core —
invariants that must hold for ANY input, not just the fixture corpus.
"""

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from pdf_table_spark.core.geometry import merge_close_lines
from pdf_table_spark.core.html import (
    canonicalize_table_html, cells_to_html, parse_table_html)
from pdf_table_spark.core.lattice import LogicalCell
from pdf_table_spark.core.page import extract_document
from pdf_table_spark.fixtures.generator import gen_doc

coords = st.floats(min_value=0.0, max_value=1000.0,
                   allow_nan=False, allow_infinity=False)


@given(st.lists(coords, min_size=1, max_size=60),
       st.floats(min_value=0.5, max_value=10.0))
def test_merge_close_lines_separation_and_bounds(values, tol):
    """Cluster means are strictly ascending with gaps > tol, stay inside
    the input range, and never outnumber the inputs."""
    out = merge_close_lines(sorted(values), tol)
    assert 1 <= len(out) <= len(values)
    assert min(values) <= out[0] and out[-1] <= max(values)
    for a, b in zip(out, out[1:]):
        assert b - a > tol


cell_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"),
                           max_codepoint=0x24F),
    max_size=8)


@st.composite
def grids(draw):
    """A valid logical-cell grid: random merges over an n x m lattice,
    greedy row-major — same construction invariant as
    merge_logical_cells output."""
    nr = draw(st.integers(1, 5))
    nc = draw(st.integers(1, 5))
    taken = [[False] * nc for _ in range(nr)]
    cells = []
    for r in range(nr):
        for c in range(nc):
            if taken[r][c]:
                continue
            max_cs = 1
            while c + max_cs < nc and not taken[r][c + max_cs]:
                max_cs += 1
            cs = draw(st.integers(1, max_cs))
            max_rs = 1
            while r + max_rs < nr and all(
                    not taken[r + max_rs][cc] for cc in range(c, c + cs)):
                max_rs += 1
            rs = draw(st.integers(1, max_rs))
            for rr in range(r, r + rs):
                for cc in range(c, c + cs):
                    taken[rr][cc] = True
            cells.append(LogicalCell(
                row=r, col=c, row_span=rs, col_span=cs,
                x0=0, y0=0, x1=0, y1=0,
                texts=[draw(cell_text)]))
    return cells


@given(grids())
@settings(max_examples=60)
def test_html_canonicalization_idempotent(cells):
    """canonicalize ∘ canonicalize == canonicalize for any grid."""
    html = cells_to_html(cells, table_width=None)
    once = canonicalize_table_html(html)
    assert canonicalize_table_html(once) == once


@given(grids())
@settings(max_examples=60)
def test_html_parse_preserves_grid_occupancy(cells):
    """Parsing serialized HTML recovers a grid covering the identical
    (row, col) slots with the identical texts — except grids hit by the
    documented all-rowspan-equal rewrite (the reference drops rowspans
    when every cell of a row shares one, deliberately lossy), which we
    exclude here."""
    rows = {}
    for c in cells:
        rows.setdefault(c.row, []).append(c.row_span)
    assume(not any(
        spans and all(s == spans[0] and s > 1 for s in spans)
        for spans in rows.values()))
    parsed = parse_table_html(cells_to_html(cells, table_width=None))

    def occupancy(cs):
        occ = {}
        for c in cs:
            for rr in range(c.row, c.row + c.row_span):
                for cc in range(c.col, c.col + c.col_span):
                    occ[(rr, cc)] = c.text
        return occ

    assert occupancy(parsed) == occupancy(cells)


@given(st.integers(min_value=0, max_value=5000))
@settings(max_examples=30, deadline=None)
def test_extraction_deterministic_any_doc(doc_idx):
    """Extraction is a pure function of the document for any generator
    draw (families, rotations, straddles, skew docs included)."""
    _, spans, _ = gen_doc(doc_idx)
    a = extract_document(spans)
    b = extract_document(list(reversed(spans)))  # input order immaterial
    assert a == b
    offs = [o["offset"] for o in a]
    assert offs == list(range(len(offs)))        # dense 0-based offsets


@given(st.lists(
    st.tuples(st.floats(0, 500), st.floats(0, 500),
              st.floats(1, 90), st.floats(4, 14)),
    min_size=0, max_size=12))
@settings(deadline=None, max_examples=60)
def test_dedup_overlapping_boxes_idempotent_and_subset(boxes):
    """U3 properties: output ⊆ input, idempotent, order-stable."""
    from pdf_table_spark.core.geometry import dedup_overlapping_boxes
    lines = [{"x0": x, "y0": y, "x1": x + w, "y1": y + h,
              "text": f"t{i}"} for i, (x, y, w, h) in enumerate(boxes)]
    once = dedup_overlapping_boxes(lines)
    ids = [t["text"] for t in once]
    assert ids == [t["text"] for t in lines if t["text"] in set(ids)]
    assert dedup_overlapping_boxes(once) == once


@given(st.lists(st.floats(0, 1000), min_size=0, max_size=30),
       st.floats(0.5, 5.0))
@settings(deadline=None, max_examples=60)
def test_merge_close_lines_output_sorted_and_spaced(vals, tol):
    """A1 properties on sorted input: output sorted; consecutive
    outputs farther apart than tol (no two clusters should have
    merged); every input within tol·n of some output."""
    from pdf_table_spark.core.geometry import merge_close_lines
    vals = sorted(vals)
    out = merge_close_lines(vals, tol)
    assert out == sorted(out)
    for a, b in zip(out, out[1:]):
        assert b - a > tol * 0.999


@given(st.text(max_size=300))
@settings(deadline=None, max_examples=80)
def test_extract_span_never_raises_on_garbage_page(payload):
    """Poison containment is total: ANY pdf_page/ocr_page payload either
    extracts or quarantines — never an exception, always 5-tuples."""
    from pdf_table_spark.core.page import extract_span
    for kind in ("pdf_page", "ocr_page", "html_table"):
        out = extract_span(kind, payload, "m")
        assert isinstance(out, list)
        assert all(len(f) == 5 for f in out)


@given(st.recursive(
    st.none() | st.booleans() | st.floats(allow_nan=False) |
    st.text(max_size=8),
    lambda ch: st.lists(ch, max_size=4) |
    st.dictionaries(st.sampled_from(
        ["width", "height", "text_lines", "rects", "images", "segs",
         "layout", "rotation", "x0", "y0", "x1", "y1", "text", "dir",
         "char_heights", "det_cells", "tables", "tokens",
         "cell_bboxes", "flipped"]), ch, max_size=6),
    max_leaves=20))
@settings(deadline=None, max_examples=60)
def test_extract_span_never_raises_on_structured_garbage(obj):
    import json as _json

    from pdf_table_spark.core.page import extract_span
    payload = _json.dumps(obj)
    for kind in ("pdf_page", "ocr_page"):
        out = extract_span(kind, payload, "m")
        assert isinstance(out, list)
        assert all(len(f) == 5 for f in out)


# ---- corpus filter gates: invariants for ANY text ----

doc_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF,
                           blacklist_characters="\\"),
    max_size=200)


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_corpus_clean_total_provenance(spark, texts):
    """One output row per input doc; kept ⇔ stage=='kept'; clean_fp
    non-null ⇔ kept — for arbitrary text including newlines, quotes,
    regex metacharacters."""
    from pdf_table_spark.ops.textfilters import corpus_clean
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    rows = corpus_clean(docs).collect()
    assert len(rows) == len(texts)
    assert {r.doc_id for r in rows} == {str(i) for i in range(len(texts))}
    for r in rows:
        assert r.kept == (r.stage == "kept")
        assert (r.clean_fp is not None) == r.kept
        assert r.stage in ("dup", "gopher", "c4", "kept")


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_repetition_fraction_bounds(spark, texts):
    """Line fractions ∈ [0,1]; gram fractions ≥ 0 (dup-5-gram may
    exceed 1 by construction, top-2-gram may not exceed ~1)."""
    from pdf_table_spark.ops.textfilters import repetition_signals
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    for r in repetition_signals(docs).collect():
        assert 0.0 <= r.dup_line_frac <= 1.0
        assert 0.0 <= r.dup_line_char_frac <= 1.0
        assert r.top_2gram_char_frac >= 0.0
        assert r.dup_5gram_char_frac >= 0.0


@settings(max_examples=5, deadline=None)
@given(texts=st.lists(doc_text, min_size=1, max_size=25))
def test_pii_redaction_leaves_no_matches(spark, texts):
    """After redaction no PII pattern matches remain, and redacting a
    redacted text is a no-op (the scrub is idempotent)."""
    import re as _re
    from pdf_table_spark.ops.textfilters import PII_PATTERNS, pii_redact
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    out = {r.doc_id: r.redacted for r in pii_redact(docs).collect()}
    twice = {r.doc_id: r.redacted for r in pii_redact(
        spark.createDataFrame(sorted(out.items()),
                              "doc_id string, text string")).collect()}
    for d, red in out.items():
        assert not _re.search(PII_PATTERNS["email"], red)
        assert not _re.search(PII_PATTERNS["ip"], red)
        assert twice[d] == red


html_chunk = st.one_of(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=40),
    st.sampled_from([
        "<p>", "</p>", "<nav>", "</nav>", "<table>", "</table>",
        "<tr><td>", "</td></tr>", "<a href='/x'>", "</a>", "<img src='y'>",
        "<script>", "</script>", "<div", ">", "<!--", "-->", "&amp;",
        "&#x27;", "<table><tr>", "<td colspan='2'>", "</tbody>",
    ]))


@settings(max_examples=50, deadline=None)
@given(st.lists(html_chunk, max_size=30).map("".join))
def test_html_page_extraction_never_raises(page):
    """Arbitrary (broken) markup: the main-content extractor must
    return well-formed fragments, never raise — at 10^12 docs every
    malformed page exists."""
    from pdf_table_spark.core.htmlpage import extract_html_page
    for kind, text, ref, acc, ws in extract_html_page(page):
        assert kind in ("paragraph", "table_html", "image", "error")
        assert isinstance(text, str) and isinstance(ref, str)
        if kind == "table_html":
            assert text.startswith('<table border="1">')


# ---- ExactSubstr dedup: brute-force parity on adversarial corpora ----

_es_token = st.sampled_from(["a", "b", "c"])
_es_doc = st.lists(_es_token, max_size=12)


@settings(max_examples=5, deadline=None)
@given(docs=st.lists(_es_doc, min_size=1, max_size=10))
def test_exact_substring_dedup_matches_brute_force(spark, docs):
    """Lee et al. ExactSubstr vs a driver-side brute-force oracle on
    tiny-vocab corpora (3 tokens, n=3) chosen to maximize duplicated
    windows — intra-doc repeats, cross-doc chains, overlapping cut
    regions, sub-window docs. Pins: the canonical occurrence is the
    min (doc_id, start) over EACH duplicated window independently,
    overlapping cuts merge via the index-set distinct, and token
    accounting is conserved (n_tokens - n_removed == kept tokens)."""
    from pdf_table_spark.ops.dedup import exact_substring_dedup

    n = 3
    ids = [f"d{i:02d}" for i in range(len(docs))]
    rows = [(d, " ".join(toks)) for d, toks in zip(ids, docs)]

    # brute-force oracle: window key = the joined token string
    occ = {}
    for d, toks in zip(ids, docs):
        for s in range(len(toks) - n + 1):
            occ.setdefault(tuple(toks[s:s + n]), []).append((d, s))
    cut = {d: set() for d in ids}
    for places in occ.values():
        if len(places) > 1:
            canon = min(places)
            for d, s in places:
                if (d, s) != canon:
                    cut[d].update(range(s, s + n))
    want = {}
    for d, toks in zip(ids, docs):
        kept = [t for i, t in enumerate(toks) if i not in cut[d]]
        want[d] = (len(toks), len(cut[d]), " ".join(kept))

    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in exact_substring_dedup(
               spark.createDataFrame(rows, "doc_id string, text string"),
               n=n).collect()}
    assert got == want
    for n_tok, n_rm, clean in got.values():
        assert n_tok - n_rm == (len(clean.split()) if clean else 0)


# ---- pdf_page hot-loop primitives against brute-force definitions ----

_half = st.integers(0, 40).map(lambda v: v / 2)     # exact ties likely
_extent = st.integers(0, 12).map(lambda v: v / 2)   # 0 → zero-area box


@st.composite
def _text_boxes(draw):
    """Boxes on a half-unit grid plus derived twins, nested boxes and
    boxes shifted just inside / outside the 80% overlap threshold."""
    base = draw(st.lists(st.tuples(_half, _half, _extent, _extent),
                         max_size=10))
    boxes = list(base)
    for x, y, w, h in base:
        kind = draw(st.sampled_from(
            ["none", "twin", "nested", "shift_in", "shift_out", "wider"]))
        if kind == "twin":
            boxes.append((x, y, w, h))
        elif kind == "nested":
            boxes.append((x + w / 4, y + h / 4, w / 2, h / 2))
        elif kind == "shift_in":
            boxes.append((x + w / 10, y, w, h))
        elif kind == "shift_out":
            boxes.append((x + w / 4, y, w, h))
        elif kind == "wider":
            boxes.append((x - 1, y, w + 2, h))
    boxes = draw(st.permutations(boxes))
    return [{"x0": x, "y0": y, "x1": x + w, "y1": y + h, "text": f"t{i}"}
            for i, (x, y, w, h) in enumerate(boxes)]


def _dedup_brute(lines):
    """U3 by definition: box i is dropped when some not-yet-dropped box
    j != i (scanned in input order) covers more than 80% of i's area
    and is at least as wide."""
    b = [(t["x0"], t["y0"], t["x1"], t["y1"]) for t in lines]
    drop = set()
    for i, (ax0, ay0, ax1, ay1) in enumerate(b):
        area = (ax1 - ax0) * (ay1 - ay0)
        for j, (bx0, by0, bx1, by1) in enumerate(b):
            if j == i or j in drop or not area > 0:
                continue
            inter = (max(0.0, min(ax1, bx1) - max(ax0, bx0))
                     * max(0.0, min(ay1, by1) - max(ay0, by0)))
            if inter > 0.8 * area and bx1 - bx0 >= ax1 - ax0:
                drop.add(i)
                break
    return [t for i, t in enumerate(lines) if i not in drop]


@given(_text_boxes())
@settings(deadline=None, max_examples=300)
def test_dedup_overlapping_boxes_matches_definition(lines):
    from pdf_table_spark.core.geometry import dedup_overlapping_boxes
    assert dedup_overlapping_boxes(lines) == _dedup_brute(lines)


_h_seg = st.tuples(_half, _half, _extent).map(
    lambda s: (s[0], s[1], s[0] + 2 * s[2], s[1]))
_v_seg = st.tuples(_half, _half, _extent).map(
    lambda s: (s[0], s[1], s[0], s[1] + 2 * s[2]))


def _regions_brute(horizontal, vertical, tol=2.0):
    """Table regions by definition: pairwise ``segment_intersection``
    joints, union-find over the joined segments, per component the
    sorted joints deduped on rounded keys, at least 4 of them."""
    from pdf_table_spark.core.geometry import segment_intersection
    from pdf_table_spark.core.lattice import MIN_JOINTS
    segs = list(horizontal) + list(vertical)
    parent = list(range(len(segs)))

    def find(a):
        while parent[a] != a:
            a = parent[a]
        return a

    hits = []
    for i, h in enumerate(horizontal):
        for j, v in enumerate(vertical):
            pt = segment_intersection(h, v, tol)
            if pt is not None:
                a, b = find(i), find(len(horizontal) + j)
                parent[max(a, b)] = min(a, b)
                hits.append((i, pt))
    regions = []
    for root in sorted({find(k) for k in range(len(segs))}):
        ks = [k for k in range(len(segs)) if find(k) == root]
        h = [segs[k] for k in ks if k < len(horizontal)]
        v = [segs[k] for k in ks if k >= len(horizontal)]
        seen, joints = set(), []
        for x, y in sorted(pt for i, pt in hits if find(i) == root):
            if (round(x), round(y)) not in seen:
                seen.add((round(x), round(y)))
                joints.append((x, y))
        if not h or not v or len(joints) < MIN_JOINTS:
            continue
        xs = [s[0] for s in h] + [s[2] for s in h] + [s[0] for s in v]
        ys = [s[1] for s in v] + [s[3] for s in v] + [s[1] for s in h]
        regions.append(((min(xs), min(ys), max(xs), max(ys)),
                        sorted(h), sorted(v), joints))
    regions.sort(key=lambda r: (-r[0][3], r[0][0]))
    return regions


@given(st.lists(_h_seg, max_size=10), st.lists(_v_seg, max_size=10))
@settings(deadline=None, max_examples=300)
def test_find_table_regions_matches_pairwise_union_find(horizontal,
                                                         vertical):
    from pdf_table_spark.core.lattice import find_table_regions
    assert find_table_regions(horizontal, vertical) == \
        _regions_brute(horizontal, vertical)


def _mark_edges_brute(cols, rows, v_segs, h_segs, tol):
    """Table.set_edges + set_border by definition: each axis lookup is
    the first axis value within ``abs(v - c) <= tol``."""
    nr, nc = len(rows), len(cols)
    edges = [[[False] * nc for _ in range(nr)] for _ in range(4)]
    left, right, top, bottom = edges

    def first_close(axis, v):
        return next((k for k, c in enumerate(axis) if abs(v - c) <= tol),
                    None)

    col_axis, row_axis = [c[0] for c in cols], [r[0] for r in rows]
    for x, y0, _, y1 in v_segs:
        J, K = first_close(row_axis, y1), first_close(row_axis, y0)
        if J is None:
            continue
        ci = first_close(col_axis, x)
        for r in range(J, nr if K is None else K):
            if ci is not None:
                left[r][ci] = True
                if ci > 0:
                    right[r][ci - 1] = True
            elif abs(x - cols[-1][1]) <= tol:
                right[r][nc - 1] = True
    for x0, y, x1, _ in h_segs:
        J, K = first_close(col_axis, x0), first_close(col_axis, x1)
        if J is None:
            continue
        ri = first_close(row_axis, y)
        for c in range(J, nc if K is None else K):
            if ri is not None:
                top[ri][c] = True
                if ri > 0:
                    bottom[ri - 1][c] = True
            elif abs(y - rows[-1][1]) <= tol:
                bottom[nr - 1][c] = True
    for r in range(nr):
        left[r][0] = right[r][nc - 1] = True
    for c in range(nc):
        top[0][c] = bottom[nr - 1][c] = True
    return left, right, top, bottom


@st.composite
def _ruled_grid(draw, tol=2.0):
    """Column / row axes with gaps from 1 to 6 (two axis values may both
    lie within tol of a ruling), and rulings placed exactly tol, just
    inside or just outside tol, or anywhere, from an axis value."""
    def axis():
        steps = draw(st.lists(st.integers(2, 12), min_size=2, max_size=6))
        vals = [10.0]
        for s in steps:
            vals.append(vals[-1] + s / 2)
        return vals

    xs, ys = axis(), axis()[::-1]
    cols = list(zip(xs, xs[1:]))
    rows = list(zip(ys, ys[1:]))
    off = st.sampled_from([0.0, tol, -tol, tol + 0.25, -tol - 0.25,
                           tol - 0.25, 0.5])

    def near(vals):
        return draw(st.one_of(
            st.builds(lambda v, o: v + o, st.sampled_from(vals), off),
            st.integers(0, 120).map(lambda v: v / 2)))

    v_segs, h_segs = [], []
    for _ in range(draw(st.integers(0, 12))):
        x, a, b = near(xs), near(ys), near(ys)
        v_segs.append((x, min(a, b), x, max(a, b)))
    for _ in range(draw(st.integers(0, 12))):
        y, a, b = near(ys), near(xs), near(xs)
        h_segs.append((min(a, b), y, max(a, b), y))
    return cols, rows, v_segs, h_segs


@given(_ruled_grid())
@settings(deadline=None, max_examples=300)
def test_mark_edges_matches_first_close_definition(grid):
    from pdf_table_spark.core.lattice import mark_edges
    cols, rows, v_segs, h_segs = grid
    assert mark_edges(cols, rows, v_segs, h_segs, 2.0) == \
        _mark_edges_brute(cols, rows, v_segs, h_segs, 2.0)
