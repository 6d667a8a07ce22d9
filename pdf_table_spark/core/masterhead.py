"""TableMaster / MtlTabNet output decode — the deterministic half of
the reference's third TSR model family (M10).

The reference's MtlTabNet emits three heads per table crop: a
structure-token classification sequence, a per-step bbox regression,
and (MTL only) a per-cell character sequence. Everything after the
forward pass is deterministic and is re-derived clean-room here from
``model/table/mtl_tabnet/master_convertor.py`` +
``master_post_processor.py``:

- ``tensor2idx`` (master_convertor.py:236-267): per-step argmax path;
  PAD steps are skipped (``continue``), the first EOS ends the decode
  (``break`` — no step>0 guard, unlike SLANet), every other special
  (SOS, UKN) is KEPT and decodes to its literal token text.
- ``idx2str`` (master_convertor.py:431-446): tokens joined with ','.
- the string score is the plain mean of the kept per-step scores
  (``_get_strings_scores``), 0.0 for an empty decode.
- ``_get_pred_bbox_mask`` (master_convertor.py:585-618): walking the
  DECODED token string — td-family tokens ('<td></td>' or '<td') get
  1, everything else 0. Because the mask is computed over the decoded
  stream but multiplied positionally into the RAW per-step bbox rows
  (zero-padded to the row count), a PAD skipped mid-stream shifts the
  alignment — a genuine reference quirk this module reproduces
  bit-for-bit (pinned in tests; real checkpoints only emit PAD after
  EOS, where it is harmless).
- ``_filter_invalid_bbox`` + ``_decode_bboxes``
  (master_convertor.py:621-672): rows with any normalized coord
  outside [0,1] are zeroed, masked rows are zeroed, survivors are
  denormalized x,w·pad_w / y,h·pad_h then divided by the per-axis
  scale factor, and the row list is truncated to the decoded token
  count (``_adjsut_bboxes_len``).
- ``MasterPostProcessor.__call__`` (master_post_processor.py:369-402):
  rows whose coordinate sum ≤ 1 are dropped (this kills the zeroed
  rows), the surviving (cx, cy, w, h) rows become int32-truncated
  (x0, y0, x1, y1), and the html is assembled by
  ``text_to_list`` → ``insert_text_to_token`` → ``deal_bb('thead')``
  → ``deal_bb('tbody')``.
- ``text_to_list`` (master_post_processor.py:278-291): virtual close
  tokens for truncated predictions — a trailing bare '<td></td>' gets
  '</tr>','</tbody>'; a missing '</tbody>' is appended; a missing
  penultimate '</tr>' is spliced in.
- ``insert_text_to_token`` (master_post_processor.py:247-276): after
  span-token merging, the i-th '<td'-prefixed token takes the i-th
  cell string via the '><' splice; a td WITHOUT a cell string is
  dropped from the html entirely (the reference's ``continue`` skips
  the append) — reproduced exactly.
- the MTL cell branch (``tensor2idx_cell`` / ``idx2str_cell``,
  master_convertor.py:447-466): same skip-PAD / break-EOS walk over
  the cell character dictionary, joined with ''. The dictionary
  itself is model DATA (the reference loads it from
  ``data/alphabet/pubtabnet/textline_recognition_alphabet.txt``), so
  it arrives through the model seam (payload/artifact), never
  hardcoded here.

Dictionary layout (``update_dict``, master_convertor.py:170-196, with
the reference's shipped config ``with_unknown=True,
start_end_same=False``): alphabet + [<UKN>, <SOS>, <EOS>, <PAD>] —
for the 39-token PubTabNet structure alphabet that puts UKN=39,
SOS=40, EOS=41, PAD=42 (dict length 43).

Pure functions shared by the Spark Arrow stage, the fixture
generator's encoder, and tests.
"""

from __future__ import annotations

from .slanethead import STRUCTURE_ALPHABET

UKN, MSOS, MEOS, MPAD = "<UKN>", "<SOS>", "<EOS>", "<PAD>"

# td-family tokens that carry a bbox (_get_pred_bbox_mask)
MASTER_TD = ("<td></td>", "<td")


def master_dict(alphabet=None) -> list[str]:
    """idx2char for with_unknown=True, start_end_same=False:
    alphabet + [UKN, SOS, EOS, PAD]."""
    chars = list(STRUCTURE_ALPHABET if alphabet is None else alphabet)
    return chars + [UKN, MSOS, MEOS, MPAD]


def master_decode_ids(ids, scores, chars=None):
    """``tensor2idx`` + ``idx2str`` + ``_get_strings_scores``:
    (comma-joined token string, mean score). PAD skipped, first EOS
    breaks, SOS/UKN kept as literal text."""
    chars = master_dict() if chars is None else chars
    end_idx, pad_idx = len(chars) - 2, len(chars) - 1
    toks, kept = [], []
    for idx, sc in zip(ids, scores):
        idx = int(idx)
        if idx == pad_idx:
            continue
        if idx == end_idx:
            break
        toks.append(chars[idx])
        kept.append(float(sc))
    score = sum(kept) / len(kept) if kept else 0.0
    return ",".join(toks), score


def pred_bbox_mask(token_str: str) -> list[int]:
    """``_get_pred_bbox_mask`` over the decoded string: EOS → 0 then
    stop, PAD/SOS → 0, td-family → 1, else 0."""
    mask = []
    for tok in token_str.split(","):
        if tok == MEOS:
            mask.append(0)
            break
        if tok in (MPAD, MSOS):
            mask.append(0)
            continue
        mask.append(1 if tok in MASTER_TD else 0)
    return mask


def decode_master_bboxes(bboxes, token_str, pad_shape, scale_factor):
    """``_filter_invalid_bbox`` + ``_decode_bboxes`` +
    ``_adjsut_bboxes_len``: normalized (cx, cy, w, h) rows → page
    coordinates, invalid/unmasked rows zeroed, truncated to the token
    count."""
    mask = pred_bbox_mask(token_str)
    ph, pw = float(pad_shape[0]), float(pad_shape[1])
    sy, sx = float(scale_factor[0]), float(scale_factor[1])
    out = []
    for i, row in enumerate(bboxes):
        m = mask[i] if i < len(mask) else 0
        valid = all(0.0 <= float(v) <= 1.0 for v in row)
        if not (m and valid):
            out.append([0.0, 0.0, 0.0, 0.0])
            continue
        cx, cy, w, h = (float(v) for v in row)
        out.append([cx * pw / sx, cy * ph / sy,
                    w * pw / sx, h * ph / sy])
    n_tok = len(token_str.split(","))
    return out[:n_tok]


def kept_master_boxes(page_rows):
    """``MasterPostProcessor.__call__``'s sum>1 row filter +
    ``box_transform``: (cx, cy, w, h) → int32-truncated
    (x0, y0, x1, y1)."""
    out = []
    for cx, cy, w, h in page_rows:
        if cx + cy + w + h <= 1.0:
            continue
        out.append((int(cx - w / 2.0), int(cy - h / 2.0),
                    int(cx + w / 2.0), int(cy + h / 2.0)))
    return out


def text_to_list(token_str: str) -> list[str]:
    """``text_to_list``: split on ',' and splice the virtual close
    tokens for truncated predictions."""
    lst = token_str.split(",")
    if lst[-1] == "<td></td>":
        lst.append("</tr>")
        lst.append("</tbody>")
    elif lst[-1] != "</tbody>":
        lst.append("</tbody>")
    if lst[-2] != "</tr>":
        lst.insert(-1, "</tr>")
    return lst


def decode_cell_ids(ids, cell_dict):
    """MTL cell branch: ``tensor2idx_cell`` + ``idx2str_cell`` over
    idx2char_cell = cell_dict + [UKN, SOS, EOS, PAD], joined with
    ''."""
    chars = master_dict(cell_dict)
    end_idx, pad_idx = len(chars) - 2, len(chars) - 1
    out = []
    for idx in ids:
        idx = int(idx)
        if idx == pad_idx:
            continue
        if idx == end_idx:
            break
        out.append(chars[idx])
    return "".join(out)


def insert_cells_to_tokens(tokens: list[str], cell_texts) -> str:
    """``insert_text_to_token``: positional '><' splice over the
    span-merged stream; a '<td' token beyond the cell list is DROPPED
    from the output (reference quirk), <eb> tokens expand after."""
    from .ocrmatch import deal_eb_token, merge_span_tokens
    merged = merge_span_tokens(tokens)
    out = []
    count = 0
    for tok in merged:
        if tok.startswith("<td"):
            if count > len(cell_texts) - 1:
                count += 1
                continue
            tok = tok.replace("><", f">{cell_texts[count]}<")
            count += 1
        out.append(deal_eb_token(tok))
    return "".join(out)


def master_html(token_str: str, cell_texts) -> str:
    """The full ``MasterPostProcessor`` html path: virtual close →
    splice+expand → bold thead → bold tbody (the MTL variant bolds
    both, master_post_processor.py:380-381)."""
    from .ocrmatch import deal_bb
    html = insert_cells_to_tokens(text_to_list(token_str), cell_texts)
    html = deal_bb(html, "thead")
    return deal_bb(html, "tbody")


def html_post_process(text: str) -> str:
    """``html_post_process`` (master_post_processor.py:321-323): the
    border-1 table wrap the reference ships in ``html_context``."""
    return ('<html><body><table border="1">' + text
            + "</table></body></html>")


def master_structure(token_str: str):
    """``MasterPostProcessor.get_table_structure`` +
    ``get_table_structure_list`` (master_post_processor.py:331-350):
    the TEXT-FREE structure views — virtual close, span merge, join,
    bold both sections, html wrap; and the raw merged token list
    wrapped in plain <html>/<body>/<table> markers. Returns
    (structure_str, structure_str_list)."""
    from .ocrmatch import deal_bb, merge_span_tokens
    merged = merge_span_tokens(text_to_list(token_str))
    pred_html = "".join(merged)
    pred_html = deal_bb(pred_html, "thead")
    pred_html = deal_bb(pred_html, "tbody")
    structure_str = html_post_process(pred_html)
    structure_list = (["<html>", "<body>", "<table>"] + merged
                      + ["</table>", "</body>", "</html>"])
    return structure_str, structure_list


def master_output(payload: dict):
    """Decode one planted MtlTabNet output contract → the wire rows.

    Returns (html_wire, box_wires): ``html_wire`` is
    'pred_html|%.4f' (structure score), ``box_wires`` one
    'x0,y0,x1,y1' per surviving cell box."""
    token_str, score = master_decode_ids(
        payload["ids"], payload["scores"])
    cell_dict = payload.get("cell_dict") or []
    cells = [decode_cell_ids(c["ids"], cell_dict)
             for c in payload.get("cells") or []]
    html = master_html(token_str, cells)
    rows = decode_master_bboxes(
        payload["bboxes"], token_str,
        payload["pad_shape"], payload["scale_factor"])
    boxes = kept_master_boxes(rows)
    return (f"{html}|{score:.4f}",
            [f"{x0},{y0},{x1},{y1}" for x0, y0, x1, y1 in boxes])


def master_encode(tokens, cell_texts, cell_dict):
    """Inverse used by the FIXTURE GENERATOR (not the engine):
    structure tokens → id path (+ EOS), cell texts → per-cell id
    paths over cell_dict. Multi-char dictionary entries are greedily
    longest-matched."""
    chars = master_dict()
    lut = {c: i for i, c in enumerate(chars)}
    ids = [lut[t] for t in tokens]
    ids.append(len(chars) - 2)            # EOS
    cdict = master_dict(cell_dict)
    entries = sorted(cell_dict, key=len, reverse=True)
    clut = {c: i for i, c in enumerate(cdict)}
    cell_ids = []
    for text in cell_texts:
        path, p = [], 0
        while p < len(text):
            for e in entries:
                if text.startswith(e, p):
                    path.append(clut[e])
                    p += len(e)
                    break
            else:
                raise ValueError(
                    f"cell text {text!r} not coverable by cell_dict")
        path.append(len(cdict) - 2)       # EOS
        cell_ids.append(path)
    return ids, cell_ids
