"""Table export formats over extraction output — the reference's
export fan-out (``TableList.export`` / ``Table.to_csv/to_markdown/
to_json``, ``table_core.py:720-826``) re-expressed as columnar
transforms: parse the emitted table HTML back to a cell grid
(``core.html.parse_table_html``) and render CSV / Markdown / JSON-rows
strings, one row per extracted table.

Runs as one Arrow row stage (``spark.stages.map_rows``) over the
(doc_id, offset, text) rows of ``kind='table_html'`` spans — the grid
walk is pure python on strings already shuffled once; no extra
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.export_render import render_table_html as _render
from ..spark.stages import map_rows

EXPORT_SCHEMA = ("doc_id string, offset int, n_rows int, n_cols int, "
                 "csv string, markdown string, json_rows string, "
                 "sqlite_sql string, excel_xml string, html_db string")


def _export_row(doc_id, offset, html):
    return [(doc_id, offset, *_render(html or ""))]


def export_tables(flat_out: DataFrame) -> DataFrame:
    """extraction output (doc_id, offset, kind, text, media_ref) →
    one row per table with csv/markdown/json renderings."""
    tables = flat_out.filter(F.col("kind") == "table_html") \
        .select("doc_id", "offset", "text")
    return map_rows(tables, _export_row, EXPORT_SCHEMA)
