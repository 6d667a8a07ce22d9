"""Imaged-document (OCR-path) table dataflow — the reference's headline
capability, re-derived deterministically.

The neural stages (M3 text detection, M5 recognition, M6-M10 TSR) are
stand-ins in this sandbox: an ``ocr_page`` span carries their *output
contract* as JSON — detected text cells (det bbox + recognized text)
and per-table structure predictions (token stream + cell bboxes). The
deterministic dataflow downstream of the models is the real thing:

  * F4 OCR-box y-filter — ``matcher.py:185-195`` (_filter_ocr_result)
  * J2 det→cell top-1 match by (1-IoU, L1 corner distance) —
    ``matcher.py:79-100`` (TableMatch.match_result)
  * J3 TableMaster 3-tier match: center rule → IoU rule → distance
    rule → extra_match virtual cells —
    ``table_master_match.py:308-404`` and the composition in
    ``Matcher.match`` (``:752-850``)
  * X10 structure-token splice: merge span tokens, insert matched OCR
    text at each ``<td…>``, expand ``<eb>`` empty-cell tokens, bold the
    ``<thead>`` — ``table_master_match.py:472-556,559-584,664-736``
    (merge_span_token / insert_text_to_token / deal_eb_token / deal_bb)

Coordinates are IMAGE space (y grows down), matching the OCR models'
output space; bboxes are (x0, y0, x1, y1) with y0 the top edge. All
IoUs are axis-aligned rectangle IoUs — the reference computes them via
convex polygons (``cal_iou``), which reduces to the same value for the
rectangles that both sides of this matching always are.

``ocr_page`` payload schema::

    {"width": W, "height": H,
     "det_cells": [{"x0","y0","x1","y1","text"}, ...],
     "tables": [
        # token-stream contract (SLANet / TableMaster family):
        {"tokens": [...structure tokens...],
         "cell_bboxes": [[x0,y0,x1,y1], ...],
         "use_master": true|false,          # model-type dispatch:
                                            # true (default) = 3-tier
                                            # match + X10 master splice;
                                            # false = J2 argmin + plain
                                            # get_pred_html splice
         "region": [x0,y0,x1,y1]},          # optional layout-crop bbox
        # polygon + logical-axis contract (LORE / CenterNet / LGPMA):
        {"polygons": [[x1,y1,...,x4,y4], ...],
         "logi": [[left,right,top,bottom] floats, ...],
         "region": [x0,y0,x1,y1]},
        ...]}

``cell_bboxes[i]`` pairs with the i-th ``<td``-starting token after
span-token merging; ``<eb*>`` empty-cell tokens carry no bbox (the
reference's zero-bbox convention after ``remove_empty_bboxes``).
The polygon/logi contract decodes via ``core.logicell``.
"""

from __future__ import annotations

import re

from .page import load_page

ROW_GROUP_TOL = 3.0  # sort_bbox's same-row y threshold (":186-193")


# ---------------------------------------------------------------- geometry

from .geometry import iou as rect_iou  # axis-aligned IoU, one source


def corner_distance(a, b) -> float:
    """J2 distance: L1 of both corners plus the nearer corner's L1
    (reference ``matcher.py:20-26``)."""
    d_tl = abs(b[0] - a[0]) + abs(b[1] - a[1])
    d_br = abs(b[2] - a[2]) + abs(b[3] - a[3])
    return d_tl + d_br + min(d_tl, d_br)


def _center(b):
    return ((b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0)


# ---------------------------------------------------------------- F4

def _f4_keep(pred_bboxes):
    """The F4 predicate: keep a det cell unless it lies entirely above
    the predicted table's top edge."""
    if not pred_bboxes:
        return lambda c: True
    y_top = min(b[1] for b in pred_bboxes)
    return lambda c: max(c["y0"], c["y1"]) >= y_top


def filter_ocr_cells(pred_bboxes, det_cells):
    """Drop det cells lying entirely above the predicted table's top
    edge (F4, ``matcher.py:185-195``)."""
    keep = _f4_keep(pred_bboxes)
    return [c for c in det_cells if keep(c)]


# ---------------------------------------------------------------- J2

def match_result(dt_boxes, pred_bboxes) -> dict:
    """Top-1 match of each det box to a predicted cell by
    (1-IoU, corner distance); returns {cell_idx: [det_idx, ...]} in det
    order (J2, ``matcher.py:79-100``)."""
    matched: dict[int, list[int]] = {}
    for i, gt in enumerate(dt_boxes):
        scored = [(1.0 - rect_iou(gt, pb), corner_distance(gt, pb), j)
                  for j, pb in enumerate(pred_bboxes)]
        if not scored:
            continue
        best = min(scored, key=lambda s: (s[0], s[1]))[2]
        matched.setdefault(best, []).append(i)
    return matched


# ---------------------------------------------------------------- J3

def center_rule(det_boxes, master_boxes):
    """Tier 1: det center inside a master box (all such pairs)."""
    pairs = []
    for i, d in enumerate(det_boxes):
        cx, cy = _center(d)
        for j, m in enumerate(master_boxes):
            if m[0] <= cx <= m[2] and m[1] <= cy <= m[3]:
                pairs.append((i, j))
    return pairs


def iou_rule(det_boxes, det_indexes, master_boxes):
    """Tier 2: remaining dets matched to the max-IoU master (>0)."""
    pairs = []
    for i, d in zip(det_indexes, det_boxes):
        best_j, best_iou = None, 0.0
        for j, m in enumerate(master_boxes):
            v = rect_iou(d, m)
            if v > best_iou:
                best_iou, best_j = v, j
        if best_j is not None:
            pairs.append((i, best_j))
    return pairs


def distance_rule(det_indexes, det_boxes, master_indexes, master_boxes):
    """Tier 3: every unmatched master grabs the nearest unmatched det
    by center distance (a det may serve several masters)."""
    pairs = []
    for j, m in zip(master_indexes, master_boxes):
        mc = _center(m)
        best_i, best_d = None, None
        for i, d in zip(det_indexes, det_boxes):
            dc = _center(d)
            dist = ((dc[0] - mc[0]) ** 2 + (dc[1] - mc[1]) ** 2) ** 0.5
            if best_d is None or dist < best_d:
                best_d, best_i = dist, i
        if best_i is not None:
            pairs.append((best_i, j))
    return pairs


def sort_unmatched_rows(det_boxes, det_indexes):
    """Group leftover dets into rows by y-center proximity (threshold
    ROW_GROUP_TOL against the row's first member), x-sort within a row,
    rows sorted by first-member y — reference ``sort_bbox``."""
    groups: list[list[int]] = []
    boxes: list[list] = []
    for i, d in zip(det_indexes, det_boxes):
        cy = _center(d)[1]
        for g, bg in zip(groups, boxes):
            if abs(cy - _center(bg[0])[1]) < ROW_GROUP_TOL:
                g.append(i)
                bg.append(d)
                break
        else:
            groups.append([i])
            boxes.append([d])
    order = sorted(range(len(groups)),
                   key=lambda k: _center(boxes[k][0])[1])
    sorted_groups = []
    for k in order:
        xs = sorted(zip(groups[k], boxes[k]),
                    key=lambda ib: ib[1][0])
        sorted_groups.append([i for i, _ in xs])
    return sorted_groups


def match_3tier(det_boxes, master_boxes):
    """Full J3 composition (``Matcher.match``): returns (match_list,
    extra_row_groups) where match_list is [(det_idx, master_idx), ...]
    including virtual masters len(master_boxes).. for the extra rows.
    """
    match_list = list(center_rule(det_boxes, master_boxes))

    def unmatched_dets():
        hit = {i for i, _ in match_list}
        return [i for i in range(len(det_boxes)) if i not in hit]

    rest = unmatched_dets()
    if rest:
        match_list.extend(iou_rule(
            [det_boxes[i] for i in rest], rest, master_boxes))
    rest = unmatched_dets()
    hit_m = {j for _, j in match_list}
    rest_m = [j for j in range(len(master_boxes)) if j not in hit_m]
    if rest and rest_m:
        match_list.extend(distance_rule(
            rest, [det_boxes[i] for i in rest],
            rest_m, [master_boxes[j] for j in rest_m]))

    rest = unmatched_dets()
    extra_rows: list[list[int]] = []
    if rest:
        extra_rows = sort_unmatched_rows(
            [det_boxes[i] for i in rest], rest)
        j = len(master_boxes)
        for group in extra_rows:
            for i in group:
                match_list.append((i, j))
                j += 1
    return match_list, extra_rows


# ---------------------------------------------------------------- X10

def merge_span_tokens(tokens: list[str]) -> list[str]:
    """Collapse split span tokens '<td' ' colspan="2"' '>' '</td>' into
    one '<td colspan="2"></td>' token (reference merge_span_token)."""
    out = []
    p = 0
    toks = list(tokens)
    if not toks or toks[-1] != "</tbody>":
        toks.append("</tbody>")
    while p < len(toks) and toks[p] != "</tbody>":
        if toks[p] == "<td":
            if p + 1 < len(toks) and toks[p + 1].startswith(
                    (" colspan=", " rowspan=")):
                if p + 2 < len(toks) and toks[p + 2].startswith(
                        (" colspan=", " rowspan=")):
                    out.append("".join(toks[p:p + 5]))
                    p += 5
                else:
                    out.append("".join(toks[p:p + 4]))
                    p += 4
            else:
                out.append(toks[p])
                p += 1
        else:
            out.append(toks[p])
            p += 1
    out.append("</tbody>")
    return out


EB_EXPANSIONS = {
    "<eb></eb>": "<td></td>",
    "<eb1></eb1>": "<td> </td>",
    "<eb2></eb2>": "<td><b> </b></td>",
    "<eb3></eb3>": "<td>  </td>",
    "<eb4></eb4>": "<td><sup> </sup></td>",
    "<eb5></eb5>": "<td><b></b></td>",
    "<eb6></eb6>": "<td><i> </i></td>",
    "<eb7></eb7>": "<td><b><i></i></b></td>",
    "<eb8></eb8>": "<td><b><i> </i></b></td>",
    "<eb9></eb9>": "<td><i></i></td>",
    "<eb10></eb10>": "<td><b>     </b></td>",
}


def deal_eb_token(token: str) -> str:
    for k, v in EB_EXPANSIONS.items():
        token = token.replace(k, v)
    return token


def reduce_repeat_bold(texts: list[str], break_token: str) -> list[str]:
    """['<b>a</b>', '<b>b</b>'] → ['<b>a b</b>'] (only when EVERY piece
    is bolded)."""
    if texts and all(t.startswith("<b>") for t in texts):
        inner = [t.replace("<b>", "").replace("</b>", "") for t in texts]
        return ["<b>" + break_token.join(inner) + "</b>"]
    return texts


def match_texts(match_list, det_texts, break_token: str = " ") -> dict:
    """{master_idx: joined text} from the match pairs (get_match_dict +
    get_match_text_dict)."""
    by_master: dict[int, list[int]] = {}
    for i, j in match_list:
        by_master.setdefault(j, []).append(i)
    out = {}
    for j, idxs in by_master.items():
        texts = reduce_repeat_bold([det_texts[i] for i in idxs],
                                   break_token)
        out[j] = break_token.join(texts)
    return out


def extend_virtual_rows(tokens: list[str], extra_rows) -> list[str]:
    """Append virtual '<tr><td></td>…</tr>' rows for extra-matched det
    rows (Matcher._format). Faithful to the reference: a COMPLETE
    prediction (ending '</tbody>') is left untouched; a truncated one
    is closed and extended."""
    if not extra_rows:
        return list(tokens)
    virtual = []
    for group in extra_rows:
        virtual.append("<tr>")
        virtual.extend(["<td></td>"] * len(group))
        virtual.append("</tr>")
    toks = list(tokens)
    if toks and toks[-1] == "</tbody>":
        return toks  # complete predict — reference skips the extension
    if toks and toks[-1] == "<td></td>":
        return toks + ["</tr>"] + virtual + ["</tbody>"]
    return toks + virtual + ["</tbody>"]


def insert_text_to_tokens(tokens: list[str], text_by_master: dict) -> str:
    """Insert matched text into each '<td…>' token, expand <eb> tokens,
    join (insert_text_to_token)."""
    merged = merge_span_tokens(tokens)
    out = []
    count = 0
    for tok in merged:
        if tok.startswith("<td"):
            if count in text_by_master:
                tok = tok.replace("><", f">{text_by_master[count]}<")
            count += 1
        out.append(deal_eb_token(tok))
    return "".join(out)


_TAG_RES = {
    tag: re.compile(rf"<{tag}>(.*?)</{tag}>", re.DOTALL)
    for tag in ("thead", "tbody")}
_SPAN_TD_RE = re.compile(
    r'<td rowspan="\d+" colspan="\d+">|<td colspan="\d+" rowspan="\d+">'
    r'|<td rowspan="\d+">|<td colspan="\d+">')


_ISOLATE_RE = re.compile(
    r'<td></td> rowspan="\d+" colspan="\d+"></b></td>'
    r'|<td></td> colspan="\d+" rowspan="\d+"></b></td>'
    r'|<td></td> rowspan="\d+"></b></td>'
    r'|<td></td> colspan="\d+"></b></td>')
_SPAN_ATTR_RE = re.compile(
    r' rowspan="\d+" colspan="\d+"| colspan="\d+" rowspan="\d+"'
    r'| rowspan="\d+"| colspan="\d+"')
_ANY_TD_RE = re.compile(
    r'<td rowspan="\d+" colspan="\d+">(.+?)</td>'
    r'|<td colspan="\d+" rowspan="\d+">(.+?)</td>'
    r'|<td rowspan="\d+">(.+?)</td>'
    r'|<td colspan="\d+">(.+?)</td>'
    r'|<td>(.*?)</td>')


def deal_isolate_span(part: str) -> str:
    """Repair a mis-predicted split span token — the model emitting
    '<td></td> rowspan="2"></b></td>' instead of
    '<td rowspan="2"></td>' (master_post_processor.py:15-53)."""
    for bad in _ISOLATE_RE.findall(part):
        attr = _SPAN_ATTR_RE.search(bad)
        if attr is not None:
            part = part.replace(bad, f"<td{attr.group()}></td>")
    return part


def deal_duplicate_bb(part: str) -> str:
    """Collapse multiple <b></b> pairs inside one cell to a single
    wrapping pair (master_post_processor.py:56-88; its '<td>'-only
    re-wrap leaves a stripped SPAN cell unbolded — a reference quirk
    kept as-is)."""
    for m in _ANY_TD_RE.finditer(part):
        td = m.group()
        if td.count("<b>") > 1 or td.count("</b>") > 1:
            fixed = (td.replace("<b>", "").replace("</b>", "")
                     .replace("<td>", "<td><b>")
                     .replace("</td>", "</b></td>"))
            part = part.replace(td, fixed)
    return part


def deal_bb(html: str, tag: str = "thead") -> str:
    """Bold every cell inside <tag>…</tag> (deal_bb — the splice path
    uses the thead default, the TableMaster/MTL postprocessor also
    runs the tbody arm); an empty bolded cell reverts to '<td></td>'
    (master_post_processor.py:156 — only the attribute-less literal,
    an empty SPAN cell keeps its '<b></b>', a pinned quirk), then the
    model-error repair passes run in reference order: duplicate-<b>
    collapse, isolate-span repair."""
    m = _TAG_RES[tag].search(html)
    if m is None:
        return html
    part = m.group()
    spans = _SPAN_TD_RE.findall(part)
    if not spans:
        new = (part.replace("<td>", "<td><b>")
               .replace("</td>", "</b></td>")
               .replace("<b><b>", "<b>").replace("</b></b>", "</b>"))
    else:
        new = part
        for sp in set(spans):
            new = new.replace(sp, sp[:-1] + "><b>")
        new = (new.replace("</td>", "</b></td>")
               .replace("<b><b>", "<b>").replace("</b></b>", "</b>")
               .replace("<td>", "<td><b>").replace("<b><b>", "<b>"))
    new = new.replace("<td><b></b></td>", "<td></td>")
    new = deal_duplicate_bb(new)
    new = deal_isolate_span(new)
    return html.replace(part, new)


# ---------------------------------------------------------------- J2 splice

def splice_plain(tokens, matched: dict, texts: list[str]) -> str:
    """The non-master splice (``TableMatch.get_pred_html``,
    ``matcher.py:102-140``): walk the raw token stream, insert each
    matched det's text before the ``</td>``-bearing token. Multi-det
    cells strip a leading space and any ``<b>``/``</b>`` wrappers per
    piece and join with single spaces; a first piece carrying ``<b>``
    bolds the whole cell. No ``<eb>`` expansion, no ``deal_bb`` — the
    reference's plain path does neither."""
    out = []
    td_index = 0
    for tag in tokens:
        if "</td>" in tag:
            if tag == "<td></td>":
                out.append("<td>")
            if td_index in matched:
                idxs = matched[td_index]
                b_with = ("<b>" in texts[idxs[0]] and len(idxs) > 1)
                if b_with:
                    out.append("<b>")
                for i, di in enumerate(idxs):
                    content = texts[di]
                    if len(idxs) > 1:
                        if not content:
                            continue
                        if content[0] == " ":
                            content = content[1:]
                        if "<b>" in content:
                            content = content[3:]
                        if "</b>" in content:
                            content = content[:-4]
                        if not content:
                            continue
                        if i != len(idxs) - 1 and content[-1] != " ":
                            content += " "
                    out.append(content)
                if b_with:
                    out.append("</b>")
            if tag == "<td></td>":
                out.append("</td>")
            else:
                out.append(tag)
            td_index += 1
        else:
            out.append(tag)
    return "".join(out)


def extract_table_plain(table: dict, det_cells: list[dict]):
    """One token-stream table through the NON-master route the
    reference selects for SLANet-type models
    (``ocr_table_to_html_task.py:100-167`` picks use_master per model;
    ``TableMatch.__call__``, ``matcher.py:62-77``): F4 filter → J2
    ``match_result`` argmin → plain ``get_pred_html`` splice. Returns
    (html, used_ids) like ``extract_table``; F4-dropped dets stay
    unconsumed and fall through to page prose."""
    boxes = [(c["x0"], c["y0"], c["x1"], c["y1"]) for c in det_cells]
    masters = [tuple(b) for b in table["cell_bboxes"]]
    keep = _f4_keep(masters)
    kept = [i for i, c in enumerate(det_cells) if keep(c)]  # F4
    matched = match_result([boxes[i] for i in kept], masters)
    matched = {j: [kept[i] for i in idxs] for j, idxs in matched.items()}
    texts = [c["text"] for c in det_cells]
    html = splice_plain(table["tokens"], matched, texts)
    used = {i for idxs in matched.values() for i in idxs}
    return "<table>" + html + "</table>", used


# ---------------------------------------------------------------- page

def extract_table(table: dict, det_cells: list[dict]):
    """One table: F4 filter → J3 match → X10 splice.

    Returns (html, used_ids): ``used_ids`` indexes ``det_cells`` and
    contains exactly the dets whose text actually landed in the spliced
    HTML — F4-dropped boxes and extra-matched boxes whose virtual rows
    were NOT rendered (complete predictions skip the extension, the
    reference's fake-extend behavior) stay unconsumed so their text
    survives as page prose instead of vanishing."""
    boxes = [(c["x0"], c["y0"], c["x1"], c["y1"]) for c in det_cells]
    masters = [tuple(b) for b in table["cell_bboxes"]]
    keep = _f4_keep(masters)
    kept = [i for i, c in enumerate(det_cells) if keep(c)]  # F4
    match_list, extra_rows = match_3tier(
        [boxes[i] for i in kept], masters)
    match_list = [(kept[i], j) for i, j in match_list]
    texts = [c["text"] for c in det_cells]
    tokens = extend_virtual_rows(table["tokens"], extra_rows)
    extended = len(tokens) > len(table["tokens"])
    html = insert_text_to_tokens(tokens, match_texts(match_list, texts))
    used = {i for i, j in match_list
            if j < len(masters) or extended}
    return "<table>" + deal_bb(html) + "</table>", used


def orientation_vote_flip(page: dict) -> dict:
    """M4 text-line orientation vote (``ocr_system_task.py:395-439``):
    each det cell may carry a ``flipped`` flag (the PULC textline-cls
    stand-in output); a strict majority of flipped lines means the page
    is upside down, so all geometry is rotated 180° (x → W-x, y → H-y)
    before matching. Minority flags are misreads and are ignored."""
    det_cells = page.get("det_cells") or []
    n_flip = sum(1 for c in det_cells if c.get("flipped"))
    if not det_cells or n_flip * 2 <= len(det_cells):
        return page
    w, h = page["width"], page["height"]

    def flip_box(b):
        return {**b, "x0": w - b["x1"], "y0": h - b["y1"],
                "x1": w - b["x0"], "y1": h - b["y0"]}

    def flip_table(t):
        new = dict(t)
        if t.get("cell_bboxes"):
            new["cell_bboxes"] = [
                [w - b[2], h - b[3], w - b[0], h - b[1]]
                for b in t["cell_bboxes"]]
        if t.get("polygons"):
            new["polygons"] = [
                [w - p[0], h - p[1], w - p[2], h - p[3],
                 w - p[4], h - p[5], w - p[6], h - p[7]]
                for p in t["polygons"]]
        if t.get("lgpma"):
            new["lgpma"] = [
                [[w - b[2], h - b[3], w - b[0], h - b[1], b[4]]
                 for b in cls]
                for cls in t["lgpma"]]
        if t.get("region"):
            r = t["region"]
            new["region"] = [w - r[2], h - r[3], w - r[0], h - r[1]]
        return new

    return {
        **page,
        "det_cells": [flip_box(c) for c in det_cells],
        "tables": [flip_table(t) for t in page.get("tables") or []],
    }


def _to_page_coords(table: dict) -> dict:
    """M13 merge mode's coordinate splice (``convert_table_sep_to_merge``,
    reference ``table_common.py:1794-1839`` + the per-crop recognition
    loop ``ocr_system_task.py:184-201``): a structure decoder that ran
    on a LAYOUT CROP emits crop-local geometry; declaring
    ``"coords": "local"`` translates polygons / cell bboxes by the
    crop's ROUNDED top-left (the reference rounds before
    ``box_list_move_point``) so all tables merge into one page-space
    result. Requires ``region``; page-global tables pass through."""
    if table.get("coords") != "local":
        return table
    region = table.get("region")
    if not region:
        raise ValueError("coords='local' table without a region bbox")
    dx, dy = round(region[0]), round(region[1])
    new = dict(table, coords="page")
    if table.get("cell_bboxes"):
        new["cell_bboxes"] = [
            [b[0] + dx, b[1] + dy, b[2] + dx, b[3] + dy]
            for b in table["cell_bboxes"]]
    if table.get("polygons"):
        new["polygons"] = [
            [p[0] + dx, p[1] + dy, p[2] + dx, p[3] + dy,
             p[4] + dx, p[5] + dy, p[6] + dx, p[7] + dy]
            for p in table["polygons"]]
    if table.get("lgpma"):
        new["lgpma"] = [
            [[b[0] + dx, b[1] + dy, b[2] + dx, b[3] + dy, b[4]]
             for b in cls]
            for cls in table["lgpma"]]
    return new


def extract_ocr_page(payload: str):
    """Full OCR-path page extraction. Returns fragments in reading
    order (image coords: y down): list of (kind, text, media_ref,
    accuracy, whitespace) like ``extract_pdf_page``; the OCR path
    carries no A9 metrics (the reference attaches accuracy only in the
    digital flavors), so both are None."""
    page = load_page(payload)
    # crop-local geometry merges into page space FIRST (the reference
    # merges before any page-level geometry pass), so the 180° vote
    # below flips everything in one coordinate system
    page["tables"] = [_to_page_coords(t)
                      for t in page.get("tables") or []]
    page = orientation_vote_flip(page)
    det_cells = page.get("det_cells") or []
    tables = page.get("tables") or []

    frags = []
    used_all: set[int] = set()
    # cell bboxes + page-space extent per table, computed up front so
    # the band fallback below can see its NEIGHBORS (a table's band
    # must never reach into another table's rows)
    boxed = []
    for table in tables:
        is_lgpma = bool(table.get("lgpma"))
        is_logi = (not is_lgpma and bool(table.get("polygons"))
                   and bool(table.get("logi")))
        if is_lgpma:
            # M9: aligned-cell boxes (per class, scored); the band uses
            # the raw boxes — NMS happens inside the route
            bx = [b[:4] for cls in table["lgpma"] for b in cls]
        elif is_logi:
            from .logicell import _poly_rect
            bx = [_poly_rect(p) for p in table["polygons"]]
        else:
            bx = table.get("cell_bboxes")
        if not bx:
            boxed.append(None)
            continue
        ext = (min(b[0] for b in bx), min(b[1] for b in bx),
               max(b[2] for b in bx), max(b[3] for b in bx))
        boxed.append((table, is_lgpma, is_logi, bx, ext))
    extents = [e[4] for e in boxed if e is not None]
    for entry in boxed:
        if entry is None:
            continue
        table, is_lgpma, is_logi, bx, ext = entry
        tx0, ty0, tx1, ty1 = ext
        if table.get("region"):
            # the layout stage's table crop (the reference hands the
            # matcher exactly the dets of this cropped region,
            # ``ocr_system_task.py:184-201`` + ``get_text_in_table_bbox``
            # center-in-bbox ±2, ``table_common.py:1303-1325``) — always
            # preferred over the band heuristic below
            rx0, ry0, rx1, ry1 = table["region"]
            diff = 2.0
            mine = [i for i, c in enumerate(det_cells)
                    if i not in used_all
                    and rx0 - diff <= (c["x0"] + c["x1"]) / 2.0 <= rx1 + diff
                    and ry0 - diff <= (c["y0"] + c["y1"]) / 2.0 <= ry1 + diff]
        else:
            # no declared region: vertical band padded by one median
            # cell height both ways. Boxes overhanging the table top
            # (tier-2 IoU matches, F4 keeps them), dets in a tall row's
            # lower band (tier-3 distance matches), and extra rows just
            # below a truncated prediction (extra_match) all belong to
            # this table's matching region. HEURISTIC stand-in for the
            # crop; against a vertically-adjacent x-overlapping
            # neighbor the pad is clipped at the midpoint of the gap,
            # so stacked tables closer than one cell height never
            # steal each other's rows.
            heights = sorted(b[3] - b[1] for b in bx)
            pad = max(heights[len(heights) // 2], 2.0 * ROW_GROUP_TOL)
            pad_top = pad_bot = pad
            for ox0, oy0, ox1, oy1 in extents:
                if (ox0, oy0, ox1, oy1) == ext:
                    continue
                if max(tx0, ox0) >= min(tx1, ox1):
                    continue  # no x-overlap: side-by-side, no clip
                if oy1 <= ty0:          # neighbor strictly above
                    pad_top = min(pad_top, (ty0 - oy1) / 2.0)
                elif oy0 >= ty1:        # neighbor strictly below
                    pad_bot = min(pad_bot, (oy0 - ty1) / 2.0)
            mine = [i for i, c in enumerate(det_cells)
                    if i not in used_all
                    and tx0 <= (c["x0"] + c["x1"]) / 2.0 <= tx1
                    and ty0 - pad_top <= (c["y0"] + c["y1"]) / 2.0
                    <= ty1 + pad_bot]
        mine_cells = [det_cells[i] for i in mine]
        if is_lgpma:
            from .lgpma import extract_lgpma_table
            html, used_local = extract_lgpma_table(table, mine_cells)
            if html is None:
                continue
        elif is_logi:
            from .logicell import extract_logi_table
            html, used_local = extract_logi_table(table, mine_cells)
            if html is None:
                continue
        elif table.get("use_master", True):
            html, used_local = extract_table(table, mine_cells)
        else:
            html, used_local = extract_table_plain(table, mine_cells)
        # only dets whose text actually landed in the HTML are
        # consumed; F4-dropped or unrendered-extra dets fall through to
        # the page-text remainder below
        used_all.update(mine[i] for i in used_local)
        frags.append((ty0, tx0, "table_html", html, "", None, None))

    # remainder det cells → page text: row-grouped, x-sorted, one
    # paragraph per row (the OCR path's U1 + reading-order emit)
    rest = [i for i in range(len(det_cells)) if i not in used_all]
    rows = sort_unmatched_rows(
        [(det_cells[i]["x0"], det_cells[i]["y0"],
          det_cells[i]["x1"], det_cells[i]["y1"]) for i in rest], rest)
    for group in rows:
        y_top = min(det_cells[i]["y0"] for i in group)
        x_left = min(det_cells[i]["x0"] for i in group)
        text = " ".join(det_cells[i]["text"] for i in group)
        if text.strip():
            frags.append((y_top, x_left, "paragraph", text, "",
                          None, None))
    frags.sort(key=lambda f: (f[0], f[1]))  # image coords: y down
    return [(k, t, r, a, w) for _, _, k, t, r, a, w in frags]
