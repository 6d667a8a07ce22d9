"""SLANet structure-token decode — the deterministic half of the
reference's table-structure-recognition model (M7).

The reference's SLANet emits per-step structure-token probabilities
plus a per-step cell-box regression; the decode after the forward
pass is deterministic (``model/slanet/table_postprocess.py:172-290``
TableLabelDecode.decode): argmax per step, stop at the first
``</s>``/eos after step 0, skip the sos/eos specials, map indices
through the structure alphabet, and for every ``<td>``-family token
denormalize its bbox by the page shape (``_bbox_decode``: x·w, y·h).
This module re-derives that decode clean-room over the model seam's
payload contract: the fixture payload carries the per-step argmax
index path (what ``structure_probs.argmax(axis=2)`` produces) and
the normalized bbox rows; the decode below inverts them back to the
token stream + page-coordinate cell boxes.

The structure alphabet is the published PubTabNet structure
vocabulary (the 39-token list PaddleOCR/TableMaster/SLANet models
share; the reference bundles it at ``model/table/mtl_tabnet/data/
alphabet/pubtabnet/structure_alphabet.txt``), with the
``merge_no_span_structure`` handling (``<td>`` merged into
``<td></td>``) available exactly as in the reference.

Pure functions shared by the Spark Arrow stage, the fixture
generator's encoder, and tests.
"""

from __future__ import annotations

# the published PubTabNet structure vocabulary, in file order
STRUCTURE_ALPHABET = [
    "<thead>", "<tr>", "<td></td>", "</tr>", "</thead>",
    "<tbody>", "<eb></eb>", "</tbody>", "<td", ' colspan="5"',
    ">", "</td>", ' colspan="2"', ' colspan="3"', "<eb2></eb2>",
    "<eb1></eb1>", ' rowspan="2"', ' colspan="4"', ' colspan="6"',
    ' rowspan="3"', ' colspan="9"', ' colspan="10"', ' colspan="7"',
    ' rowspan="4"', ' rowspan="5"', ' rowspan="9"', ' colspan="8"',
    ' rowspan="8"', ' rowspan="6"', ' rowspan="7"', ' rowspan="10"',
    "<eb3></eb3>", "<eb4></eb4>", "<eb5></eb5>", "<eb6></eb6>",
    "<eb7></eb7>", "<eb8></eb8>", "<eb9></eb9>", "<eb10></eb10>",
]

SOS, EOS = "sos", "eos"

# the td-family tokens that carry a bbox (table_postprocess.py:197)
TD_TOKENS = ("<td>", "<td", "<td></td>")


def slanet_dict(merge_no_span_structure: bool = False) -> list[str]:
    """The decode dictionary: [sos] + alphabet + [eos]
    (AttnLabelDecode.add_special_char). ``merge_no_span_structure``
    appends '<td></td>' if missing and removes bare '<td>' — the
    reference's SLANet-vs-TableMaster dict switch."""
    chars = list(STRUCTURE_ALPHABET)
    if merge_no_span_structure:
        if "<td></td>" not in chars:
            chars.append("<td></td>")
        if "<td>" in chars:
            chars.remove("<td>")
    return [SOS] + chars + [EOS]


def slanet_decode(ids, bboxes, shape,
                  merge_no_span_structure: bool = False):
    """Decode one structure-id path → (tokens, cell bboxes).

    ``ids``: per-step argmax indices into :func:`slanet_dict`'s
    dictionary. ``bboxes``: per-step normalized bbox rows (len 4 or
    8, aligned with ids). ``shape``: (h, w) for the denormalization.
    Reference semantics pinned: break at eos only when idx > 0; skip
    sos/eos; a bbox is taken for td-family tokens only, scaled
    x·w / y·h (TableLabelDecode._bbox_decode — no ratio divide, that
    is the TableMaster variant)."""
    chars = slanet_dict(merge_no_span_structure)
    end_idx = len(chars) - 1          # eos
    ignored = (0, end_idx)            # sos, eos
    h, w = float(shape[0]), float(shape[1])
    tokens, cells = [], []
    for step, raw in enumerate(ids):
        idx = int(raw)
        if step > 0 and idx == end_idx:
            break
        if idx in ignored:
            continue
        tok = chars[idx]
        if tok in TD_TOKENS:
            bb = list(bboxes[step])
            for j in range(0, len(bb), 2):
                bb[j] = bb[j] * w
                bb[j + 1] = bb[j + 1] * h
            cells.append(bb)
        tokens.append(tok)
    return tokens, cells


def slanet_encode(tokens, cells, shape,
                  merge_no_span_structure: bool = False):
    """Inverse used by the FIXTURE GENERATOR (not the engine):
    (tokens, page-coordinate cell bboxes) → (ids, normalized bbox
    rows) that slanet_decode must invert. Non-td steps carry a zero
    bbox row (the model regresses a box per step; only td steps'
    boxes are read)."""
    chars = slanet_dict(merge_no_span_structure)
    lut = {c: i for i, c in enumerate(chars)}
    h, w = float(shape[0]), float(shape[1])
    ids, rows = [], []
    it = iter(cells)
    width = len(cells[0]) if cells else 4
    for tok in tokens:
        ids.append(lut[tok])
        if tok in TD_TOKENS:
            bb = list(next(it))
            row = [bb[j] / w if j % 2 == 0 else bb[j] / h
                   for j in range(len(bb))]
            rows.append(row)
        else:
            rows.append([0.0] * width)
    ids.append(lut[EOS])
    rows.append([0.0] * width)
    return ids, rows


def format_slanet(tokens, cells) -> str:
    """Stable wire format (mirrored by the DuckDB oracle): the token
    stream joined, '|', the cell boxes as ';'-joined comma lists to
    1dp."""
    return ("".join(tokens) + "|"
            + ";".join(",".join(f"{v:.1f}" for v in bb)
                       for bb in cells))
