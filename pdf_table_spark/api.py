"""Public API — the reference's user surface re-expressed for Spark.

A user of the reference calls ``read_pdf(filepath, pages='1,4-end',
flavor='lattice'|'stream'|'pdf')`` and gets a ``TableList`` with export
methods (``table_extractor.py:260-311``, ``pdf_handlers.py:86-147``,
``table_core.py:720-924``). The distributed analogues:

    read_documents(spark, path, pages, flavor)  → (doc_id, out_spans)
    extract_tables(spark, path, pages, flavor)  → one row per table:
        doc_id, offset, table_html, accuracy, whitespace + the export
        fan-out (csv, markdown, json_rows, sqlite_sql, excel_xml,
        html_db) — the TableList, as a DataFrame
    document_html(spark, path, …)               → merged per-doc HTML
        (the CLI's multi-page output, ``cli/main.py:154-226``)

``path`` is a parquet/Iceberg-style directory of
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` —
the corpus is pre-ingested (S1); ``pages`` is the reference's page
spec string; ``flavor`` selects the pdf_page table decoder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops.export import export_tables
from .ops.pages import select_pages
from .spark.pipeline import extract_documents, flatten_output

# intermediates persisted by extract_tables; long-lived drivers should
# release between corpora (same pattern as ops.dedup.release_caches)
_PERSISTED: list = []


def release_caches() -> int:
    """Unpersist every intermediate this module cached; returns the
    count released. Results of prior extract_tables calls remain valid
    (they recompute from source if re-used)."""
    n = len(_PERSISTED)
    for df in _PERSISTED:
        df.unpersist()
    _PERSISTED.clear()
    return n


def _load(spark: SparkSession, path: str, pages: str) -> DataFrame:
    docs = spark.read.parquet(path)
    if pages not in ("all", "", None):
        docs = select_pages(docs, pages)
    return docs


def read_documents(spark: SparkSession, path: str, pages: str = "all",
                   flavor: str = "auto") -> DataFrame:
    """read_pdf analogue: extract every document → (doc_id, out_spans)."""
    return extract_documents(_load(spark, path, pages), flavor=flavor)


def read_documents_flat(spark: SparkSession, path: str,
                        pages: str = "all",
                        flavor: str = "auto") -> DataFrame:
    """Flat row-per-output-span form (doc_id, offset, kind, text,
    media_ref, accuracy, whitespace)."""
    return flatten_output(read_documents(spark, path, pages, flavor))


def extract_tables(spark: SparkSession, path: str, pages: str = "all",
                   flavor: str = "auto") -> DataFrame:
    """TableList analogue: one row per extracted table with its HTML,
    A9 quality metrics, and the full export fan-out.

    The table subset is persisted before fanning out into the export
    stage + join: without it both join branches would re-run the whole
    extraction (Catalyst does not dedupe common subplans across a
    join), and the persisted set is only the table fragments — tiny
    relative to the corpus at any scale.

    Each call releases the previous call's cached intermediate, so a
    long-lived driver iterating many corpora holds at most ONE table
    subset in executor memory; earlier results stay valid (they
    recompute from source if re-used). ``release_caches()`` drops the
    last one too."""
    release_caches()
    flat = read_documents_flat(spark, path, pages, flavor)
    tables = flat.filter(F.col("kind") == "table_html").select(
        "doc_id", "offset", "kind", "text", "accuracy", "whitespace"
    ).persist()
    _PERSISTED.append(tables)
    exports = export_tables(tables)
    return (
        tables.select("doc_id", "offset",
                      F.col("text").alias("table_html"),
                      "accuracy", "whitespace")
        .join(exports, ["doc_id", "offset"])
    )


# the reference CLI's multi-page merge separator (cli/main.py:164-226:
# per-page HTML joined with f"{merge_sep}\n", merge_sep default below)
PAGE_SEP = "@@@@@@"


def doc_html_sql(arr: str, sep: str) -> str:
    """SQL merging the ordered span array column ``arr`` (structs with
    kind, text, media_ref, src_offset) into one HTML string: fragments
    of one source span (page) join with newlines, and ``sep`` (a SQL
    string-literal body) opens each span that starts a new source
    span. All JVM array expressions (make_pdf_output_html,
    ``cli/main.py:154-226``)."""
    return (
        f"array_join(transform({arr}, (s, i) -> concat("
        f"  if(i > 0 and s.src_offset != "
        f"     element_at({arr}, i).src_offset, '{sep}', ''),"
        "  case"
        "  when s.kind = 'paragraph'"
        "    then concat('<p>', s.text, '</p>')"
        "  when s.kind = 'table_html' then s.text"
        "  when s.kind = 'image'"
        "    then concat('<img src=\"', s.media_ref, '\"/>')"
        "  else '' end)), '\\n')")


def document_html(spark: SparkSession, path: str, pages: str = "all",
                  flavor: str = "auto",
                  merge_sep: str = PAGE_SEP) -> DataFrame:
    """Merged per-document HTML (the CLI's multi-page output):
    fragments of one source span (page) join with newlines; source
    spans join with ``merge_sep + '\\n'`` — the reference's '@@@@@@'
    page separator. Pass ``merge_sep=''`` for an unseparated merge."""
    out = read_documents(spark, path, pages, flavor)
    sep = (merge_sep + "\\n") if merge_sep else ""
    return out.select("doc_id",
                      F.expr(doc_html_sql("out_spans", sep)).alias("html"))


def document_text(spark: SparkSession, path: str, pages: str = "all",
                  flavor: str = "auto") -> DataFrame:
    """Merged per-document main-content PLAIN TEXT — the column a
    training-data pipeline feeds to the corpus ops (``ops.text``,
    ``ops.textfilters``, ``ops.dedup``): paragraph fragments joined
    with newlines, tables and media skipped. One narrow projection on
    top of extraction; a docs(doc_id, text) frame ready for
    ``corpus_clean`` / ``dedup_corpus`` / ``token_stats``."""
    out = read_documents(spark, path, pages, flavor)
    return out.select(
        "doc_id",
        F.expr(
            "array_join(transform("
            "  filter(out_spans, s -> s.kind = 'paragraph'),"
            "  s -> s.text), '\n')").alias("text"))
