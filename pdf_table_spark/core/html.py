"""Table-HTML serialization and parsing.

Serializer parity target: ``cell_to_html`` (reference
``table_common.py:578-667``): ``<table border="1"><tbody>`` rows of
``<td colspan=".." rowspan=".." width="..%">``; newline → ``<br/>``;
the reference unconditionally disables the thead branch
(``table_common.py:591`` reassigns first_header=False), so everything
is ``<td>`` in ``<tbody>``; when *every* cell in a row carries the same
row_span>1 the rowspan attrs are dropped (the all-rowspan-equal fix).

Parser: PubTabNet-style structure-token streams (the reference's TSR
output contract, ``matcher.py:102-183``) → logical cell grid, so
``html_table`` input spans can be canonicalized through the same
serializer.
"""

from __future__ import annotations

import re
from operator import attrgetter

from .lattice import LogicalCell

_COL = attrgetter("col")


def cells_to_html(cells, table_width: float | None = None) -> str:
    """Serialize logical cells (row/col/row_span/col_span/text) to HTML.

    ``table_width`` > 0 adds ``width="NN%"`` per cell like the
    reference's add_width mode; None omits widths (db-html parity).
    """
    by_row: dict[int, list] = {}
    for c in cells:
        by_row.setdefault(c.row, []).append(c)
    n_rows = max((c.row + c.row_span for c in cells), default=0)
    with_width = bool(table_width and table_width > 0)
    # rows collapsed by the all-rowspan-equal fix: their covering spans
    # are erased, so the rows must stay omitted; every OTHER anchor-less
    # covered row needs an explicit empty <tr> or the rendered grid
    # shifts (browsers and parse_table_html agree on that)
    collapsed: set[int] = set()
    parts = ['<table border="1">', "<tbody>"]
    for row_idx in range(n_rows):
        cols = sorted(by_row.get(row_idx, ()), key=_COL)
        if not cols and row_idx in collapsed:
            continue
        spans = [c.row_span for c in cols if c.row_span > 1]
        fix_row_span_same = (
            len(spans) == len(cols) and len(cols) > 0
            and all(s == spans[0] for s in spans)
        )
        if fix_row_span_same:
            collapsed.update(range(row_idx + 1, row_idx + spans[0]))
        parts.append("<tr>")
        for c in cols:
            td = "<td"
            if c.col_span > 1:
                td += f' colspan="{int(c.col_span)}"'
            if c.row_span > 1 and not fix_row_span_same:
                td += f' rowspan="{int(c.row_span)}"'
            if with_width and c.x1 > c.x0:
                td += f' width="{round((c.x1 - c.x0) / table_width * 100)}%"'
            text = c.text
            if "&" in text or "<" in text or ">" in text or "\n" in text:
                text = (text.replace("&", "&amp;").replace("<", "&lt;")
                        .replace(">", "&gt;").replace("\n", "<br/>"))
            parts.append(f"{td}>{text}</td>")
        parts.append("</tr>")
    parts.append("</tbody>")
    parts.append("</table>")
    return "".join(parts)


_TD_RE = re.compile(
    r"<t[dh]\b([^>]*)>(.*?)</t[dh]>", re.DOTALL | re.IGNORECASE)
_TR_RE = re.compile(r"<tr\b[^>]*>(.*?)</tr>", re.DOTALL | re.IGNORECASE)
_ATTR_RE = re.compile(r'(colspan|rowspan)\s*=\s*"?(\d+)"?', re.IGNORECASE)


def parse_table_html(html: str) -> list[LogicalCell]:
    """Parse a ``<table>`` fragment into logical cells with a spanning
    occupancy grid (the inverse of the serializer; handles the
    reference alphabet's ``<td>``/``<td colspan="n">`` forms and
    ``<eb></eb>`` empty-cell tokens).
    """
    html = re.sub(r"<eb\d*>\s*</eb\d*>", "<td></td>", html)
    occupied: set[tuple[int, int]] = set()
    cells: list[LogicalCell] = []
    for r, tr in enumerate(_TR_RE.findall(html)):
        c = 0
        for attrs, body in _TD_RE.findall(tr):
            while (r, c) in occupied:
                c += 1
            colspan = rowspan = 1
            for name, val in _ATTR_RE.findall(attrs):
                if name.lower() == "colspan":
                    colspan = int(val)
                else:
                    rowspan = int(val)
            text = re.sub(r"<br\s*/?>", "\n", body)
            text = re.sub(r"<[^>]+>", "", text)  # strip <b>/<i> wrappers
            text = (text.replace("&lt;", "<").replace("&gt;", ">")
                    .replace("&amp;", "&"))
            cell = LogicalCell(row=r, col=c, row_span=rowspan,
                               col_span=colspan, x0=0, y0=0, x1=0, y1=0,
                               texts=[t for t in [text] if t != ""])
            cells.append(cell)
            for rr in range(r, r + rowspan):
                for cc in range(c, c + colspan):
                    occupied.add((rr, cc))
            c += colspan
    return cells


def canonicalize_table_html(html: str) -> str:
    """Parse + re-serialize: the canonical form every table span takes
    on output regardless of which decoder produced it."""
    return cells_to_html(parse_table_html(html), table_width=None)
