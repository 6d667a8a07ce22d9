"""Table-HTML → CSV / Markdown / JSON-rows rendering (pure python).

The single source of truth for the reference's export fan-out
(``TableList.export`` / ``Table.to_csv/to_markdown/to_json``,
``table_core.py:720-826``): the Spark stage (``ops.export``) and the
single-process golden builder (``fixtures.build``) both call
``render_table_html`` so the oracle parquet and the distributed output
are produced by literally the same function.
"""

from __future__ import annotations

import csv
import io
import json


def grid_matrix(cells):
    """LogicalCells → dense text matrix; spanned slots repeat the
    anchor text (reference copy-text semantics,
    ``table_extractor_lattice.py:366-397``)."""
    if not cells:
        return []
    nr = max(c.row + c.row_span for c in cells)
    nc = max(c.col + c.col_span for c in cells)
    m = [[""] * nc for _ in range(nr)]
    for c in cells:
        text = c.text
        for r in range(c.row, c.row + c.row_span):
            row = m[r]
            for cc in range(c.col, c.col + c.col_span):
                row[cc] = text
    return m


def _sqlite_dump(m) -> str:
    """The to_sqlite analogue as a deterministic SQL text dump (a
    columnar engine emits the DDL+DML; piping it into sqlite3 yields
    the reference's .db file). Column names c0..cN like a header-less
    pandas to_sql."""
    if not m:
        return ""
    nc = len(m[0])
    cols = ", ".join(f'"c{i}" TEXT' for i in range(nc))
    out = [f'CREATE TABLE "table" ({cols});']
    for row in m:
        vals = ", ".join("'" + c.replace("'", "''") + "'" for c in row)
        out.append(f'INSERT INTO "table" VALUES ({vals});')
    return "\n".join(out)


def _xml_escape(t: str) -> str:
    return (t.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _excel_xml(m) -> str:
    """The to_excel analogue as SpreadsheetML (the XML spreadsheet
    format every Excel reads) — deterministic text, no binary deps."""
    rows = []
    for row in m:
        cells = "".join(
            f'<Cell><Data ss:Type="String">{_xml_escape(c)}</Data></Cell>'
            for c in row)
        rows.append(f"<Row>{cells}</Row>")
    return ('<?xml version="1.0"?><Workbook xmlns="urn:schemas-'
            'microsoft-com:office:spreadsheet" xmlns:ss="urn:schemas-'
            'microsoft-com:office:spreadsheet"><Worksheet ss:Name='
            '"Sheet1"><Table>' + "".join(rows)
            + "</Table></Worksheet></Workbook>")


def render_table_html(html: str):
    """table HTML → (n_rows, n_cols, csv, markdown, json_rows,
    sqlite_sql, excel_xml, html_db) — the reference's full export
    fan-out (csv/markdown/json/sqlite/excel + the width-less 'db'
    HTML variant, ``table_core.py:720-826``,
    ``table_extractor_pdf.py:1122-1129``)."""
    from .html import canonicalize_table_html, parse_table_html
    m = grid_matrix(parse_table_html(html))
    nr, nc = len(m), (len(m[0]) if m else 0)
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(m)

    def md_cell(t: str) -> str:
        # pipes and newlines would corrupt the markdown grid
        return t.replace("|", "\\|").replace("\n", "<br/>")

    md_lines = []
    if m:
        md_lines.append("| " + " | ".join(map(md_cell, m[0])) + " |")
        md_lines.append("|" + "---|" * nc)
        for row in m[1:]:
            md_lines.append("| " + " | ".join(map(md_cell, row)) + " |")
    return (nr, nc, buf.getvalue(), "\n".join(md_lines),
            json.dumps(m, ensure_ascii=False),
            _sqlite_dump(m), _excel_xml(m),
            canonicalize_table_html(html))
