"""Extraction queries over the interleaved span corpus (SURVEY.md §2)
and their DuckDB twins. Extraction twins read the committed golden
parquet, computed by the single-process reference implementation of
the same decoders — the span-sequence-equality gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import GOLDEN, SPANS, _extract_flat, _spans_df, sf001


def golden_flat_sql(golden_file):
    # one golden per pdf_page decoder flavor: 'auto', and the
    # read_pdf(flavor=...) surfaces 'lattice' (ruled decoder only) and
    # 'stream' (whitespace decoder only)
    return (f'select doc_id, "offset" as offset, kind, text, media_ref, '
            f"src_offset, accuracy, whitespace "
            f"from read_parquet('{sf001(golden_file)}')")


def table_quality(spark, sf_dir):
    # A9 quality metrics ride every table fragment. The dense
    # output offset is the fragment's rank in the doc's
    # (src_offset, frag_idx) order — identical to reassembly's
    # array_sort index — so it is computed by a window over the
    # fragment stream with the text column PROJECTED AWAY before
    # the exchange: the one shuffle here moves six narrow columns
    # instead of every output string, and no per-doc array is built.
    from pdf_table_spark.spark.pipeline import extract_fragments
    from pyspark.sql.window import Window
    frags = extract_fragments(_spans_df(spark, sf_dir)).select(
        "doc_id", "offset", "frag_idx", "kind",
        "accuracy", "whitespace")
    w = Window.partitionBy("doc_id").orderBy("offset", "frag_idx")
    return (
        frags
        .withColumn("dense",
                    (F.row_number().over(w) - 1).cast("int"))
        .filter(F.col("kind") == "table_html")
        .select("doc_id", F.col("dense").alias("offset"),
                "accuracy", "whitespace")
    )


# A9 per-table quality (placement accuracy out of 100, % empty base
# cells) — reference compute_accuracy/compute_whitespace,
# pdf_utils.py:1142-1193
TABLE_QUALITY_SQL = (
    f'select doc_id, "offset" as offset, accuracy, whitespace '
    f"from {GOLDEN} where kind = 'table_html'")

# Doc-subset extraction, one record per path. Each predicate is a span
# lambda body shared by both engines (Spark ``exists``, DuckDB
# ``list_filter``):
#  * ocr_page — imaged docs; det/rec/TSR stand-in outputs extract via
#    the J3 3-tier match + X10 token splice (core.ocrmatch)
#  * "logi" — the polygon + logical-axis TSR contract (LORE /
#    CenterNet / LGPMA family) via core.logicell
#  * "lgpma" — the LGPMA aligned-bbox contract (M9) via core.lgpma
#  * html_page — web docs via boilerplate strip + DOM heuristics
#    (core.htmlpage — the north rule's first clause)
OCR_PAGE = "s.kind = 'ocr_page'"
LOGI_PAGE = OCR_PAGE + """
                        and s.text like '%"logi"%'"""
LGPMA_PAGE = OCR_PAGE + """
                        and s.text like '%"lgpma"%'"""
HTML_PAGE = "s.kind = 'html_page'"
SUBSET_COLS = ("doc_id", "offset", "kind", "text")


def extract_subset(span_pred, cols, spark, sf_dir):
    # the predicate is per-DOCUMENT (an exists() over the input
    # spans), and the pipeline is per-document independent (explode →
    # per-span map → groupBy doc_id), so filtering the documents
    # BEFORE extraction yields bit-identical rows for the surviving
    # docs while skipping the Python decode of every other doc.
    from pdf_table_spark.spark.pipeline import (extract_documents,
                                                flatten_output)
    docs = _spans_df(spark, sf_dir).filter(
        F.expr(f"exists(spans, s -> {span_pred})"))
    return flatten_output(extract_documents(docs)).select(*cols)


def subset_sql(span_pred, cols):
    # the golden rows of the matching docs; columns past SUBSET_COLS
    # follow on their own lines
    extra = "".join(f",\n                   g.{c}" for c in cols[4:])
    return f"""
            select g.doc_id, g."offset" as offset, g.kind, g.text{extra}
            from {GOLDEN} g
            join (select doc_id from {SPANS}
                  where len(list_filter(spans,
                        s -> {span_pred})) > 0) d
              on g.doc_id = d.doc_id
        """


def _extract_frags(spark, sf_dir):
    # pre-reassembly fragment stream: same rows as _extract_flat
    # on every column except the dense offset — consumers that
    # aggregate per kind/doc skip the reassembly shuffle
    from pdf_table_spark.spark.pipeline import extract_fragments
    return extract_fragments(_spans_df(spark, sf_dir))


def extract_kind_stats(spark, sf_dir):
    # per-kind counts/char totals are dense-offset-free: computed
    # on the fragment stream (one shuffle instead of two)
    return (
        _extract_frags(spark, sf_dir)
        .groupBy("kind").agg(
            F.count("*").alias("n_spans"),
            F.sum(F.length("text")).alias("total_chars"))
    )


# casts: DuckDB sum(bigint) returns HUGEINT (int128); Spark
# returns BIGINT — cast so the compared value hashes match.
EXTRACT_KIND_STATS_SQL = (
    f"select kind, count(*) as n_spans, "
    f"cast(sum(length(text)) as bigint) as "
    f"total_chars from {GOLDEN} group by kind")


def span_inventory(spark, sf_dir):
    # input-side scan sanity: spans per kind (S2 explode semantics)
    return (
        _spans_df(spark, sf_dir)
        .select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(F.count("*").alias("n"),
             F.max(F.col("s.offset")).alias("max_offset"))
    )


SPAN_INVENTORY_SQL = f"""
            select s.kind as kind, count(*) as n, max(s.offset) as max_offset
            from (select unnest(spans) as s from {SPANS})
            group by s.kind
        """


def doc_metrics(spark, sf_dir):
    # A9/A10 metrics rollup over the pipeline output — every agg
    # is an order-independent count/sum per doc, so it runs on the
    # fragment stream (one shuffle instead of two)
    from pdf_table_spark.spark.metrics import doc_metrics
    return doc_metrics(_extract_frags(spark, sf_dir))


DOC_METRICS_SQL = f"""
            select doc_id, count(*) as n_spans,
                   cast(sum(case when kind = 'table_html' then 1 else 0 end)
                     as bigint) as n_tables,
                   cast(sum(case when kind = 'paragraph' then 1 else 0 end)
                     as bigint) as n_paragraphs,
                   cast(sum(length(text)) as bigint) as total_chars
            from {GOLDEN} group by doc_id
        """


def paragraph_rank(spark, sf_dir):
    # W-family window: rank paragraphs by length within a doc
    from pyspark.sql.window import Window
    flat = _extract_flat(spark, sf_dir).filter(
        F.col("kind") == "paragraph")
    w = Window.partitionBy("doc_id").orderBy(
        F.length("text").desc(), F.col("offset").asc())
    return flat.select(
        "doc_id", "offset", F.length("text").alias("n_chars"),
        F.row_number().over(w).cast("int").alias("para_rank"))


PARAGRAPH_RANK_SQL = f"""
            select doc_id, "offset" as offset, length(text) as n_chars,
                   cast(row_number() over (
                     partition by doc_id
                     order by length(text) desc, "offset" asc
                   ) as int) as para_rank
            from {GOLDEN} where kind = 'paragraph'
        """


def tables_per_doc(spark, sf_dir):
    # per-doc table counts + top-20 rank (TakeOrderedAndProject
    # bounds the ranked side; the window runs on 20 rows)
    from pyspark.sql.window import Window
    counts = (
        _extract_flat(spark, sf_dir)
        .filter(F.col("kind") == "table_html")
        .groupBy("doc_id").agg(F.count("*").alias("n_tables"))
    )
    top = (counts.orderBy(F.col("n_tables").desc(), "doc_id")
           .limit(20)
           .withColumn("top_rank", F.row_number().over(
               Window.orderBy(F.col("n_tables").desc(), "doc_id"))
               .cast("int"))
           .select("doc_id", "top_rank"))
    return counts.join(top, "doc_id", "left")


_TABLE_COUNTS = (
    f"select doc_id, count(*) as n_tables from {GOLDEN} "
    f"where kind = 'table_html' group by doc_id")
TABLES_PER_DOC_SQL = f"""
        with c as ({_TABLE_COUNTS}),
        t as (select doc_id, cast(row_number() over (
                order by n_tables desc, doc_id) as int) as top_rank
              from c order by n_tables desc, doc_id limit 20)
        select c.doc_id, c.n_tables, t.top_rank
        from c left join t using (doc_id)
    """


def doc_profile(spark, sf_dir):
    # S6 imaged-doc classifier (any-media-and-no-text predicate, pure
    # array aggregates) + S2 page-range keep counts (pages 2..end per
    # doc, flattened to counts so the compare is nesting-free)
    from pdf_table_spark.ops.pages import select_pages
    classified = _spans_df(spark, sf_dir).select(
        "doc_id",
        F.expr("exists(spans, s -> s.kind = 'image')").alias("has_media"),
        F.expr(
            "exists(spans, s -> s.kind in ('text', 'pdf_page'))"
        ).alias("has_text"),
        F.expr(
            "exists(spans, s -> s.kind = 'image') and "
            "not exists(spans, s -> s.kind in ('text', 'pdf_page'))"
        ).alias("is_imaged"),
    )
    kept = select_pages(_spans_df(spark, sf_dir), "2-end").select(
        "doc_id",
        F.expr("size(filter(spans, s -> s.kind = 'pdf_page'))")
        .alias("n_pages_kept"),
        F.size("spans").alias("n_spans_kept"))
    return classified.join(kept, "doc_id")


_IMAGED_DOC_CLASSIFIER = f"""
            select doc_id,
                   len(list_filter(spans, s -> s.kind = 'image')) > 0
                     as has_media,
                   len(list_filter(spans,
                       s -> s.kind in ('text', 'pdf_page'))) > 0 as has_text,
                   len(list_filter(spans, s -> s.kind = 'image')) > 0 and
                   len(list_filter(spans,
                       s -> s.kind in ('text', 'pdf_page'))) = 0 as is_imaged
            from {SPANS}
        """
_PAGE_SELECT = f"""
            with po as (
              select doc_id, spans,
                     list_transform(
                       list_filter(spans, p -> p.kind = 'pdf_page'),
                       p -> p."offset") as pg_offsets
              from {SPANS}
            ), kept as (
              select doc_id,
                     list_transform(
                       list_filter(
                         list_transform(spans, s -> {{'s': s,
                           'pg': len(list_filter(pg_offsets,
                                     o -> o <= s."offset"))}}),
                         x -> x.s.kind is distinct from 'pdf_page'
                              or x.pg >= 2),
                       x -> x.s) as spans
              from po
            )
            select doc_id,
                   len(list_filter(spans, s -> s.kind = 'pdf_page'))
                     as n_pages_kept,
                   len(spans) as n_spans_kept
            from kept
        """
DOC_PROFILE_SQL = f"""
        with i as ({_IMAGED_DOC_CLASSIFIER}),
             p as ({_PAGE_SELECT})
        select i.*, p.* exclude (doc_id)
        from i join p using (doc_id)
    """


def exports(spark, sf_dir):
    # S7 fan-out melted long (fmt, payload) + merged doc HTML: per
    # doc, spans in offset order rendered and concatenated, source
    # spans (pages) joined with the reference CLI's '@@@@@@' merge
    # separator (``api.doc_html_sql``).
    # Both arms consume the extraction output; without a persist
    # the full pipeline (scan → Arrow decode → reassembly) ran
    # TWICE per action. Persisted within the query (released by
    # dedup.release_caches()).
    from pdf_table_spark.api import PAGE_SEP, doc_html_sql
    from pdf_table_spark.ops.export import export_tables
    flat = _extract_flat(spark, sf_dir)
    ex = export_tables(flat)
    off_ty = dict(ex.dtypes)["offset"]
    melted = ex.select(
        "doc_id", "offset", F.expr(
            "stack(7, "
            "'shape', concat(cast(n_rows as string), 'x', "
            "cast(n_cols as string)), "
            "'csv', csv, 'markdown', markdown, "
            "'json_rows', json_rows, 'sqlite_sql', sqlite_sql, "
            "'excel_xml', excel_xml, 'html_db', html_db) "
            "as (fmt, payload)"))
    dh = (
        flat.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            "offset", "kind", "text", "media_ref",
            "src_offset"))).alias("a"))
        .select("doc_id", F.expr(
            doc_html_sql("a", PAGE_SEP + "\\n")).alias("html"))
        .select("doc_id", F.lit(-1).cast(off_ty).alias("offset"),
                F.lit("doc_html").alias("fmt"),
                F.col("html").alias("payload"))
    )
    return melted.unionByName(dh)


# table exports: checked against golden_exports.parquet, rendered
# by the same core.export_render function inside the
# single-process oracle (fixtures/build.py) — the extract_spans
# pattern applied to the S7 export fan-out.
_TABLE_EXPORTS = (
    f'select doc_id, "offset" as offset, n_rows, n_cols, '
    f"csv, markdown, json_rows, sqlite_sql, excel_xml, html_db "
    f"from read_parquet('{sf001('golden_exports.parquet')}')")
_DOC_HTML = f"""
            with g as (
              select doc_id, "offset", kind, text, media_ref,
                     lag(src_offset) over (partition by doc_id
                                           order by "offset") as prev,
                     src_offset
              from {GOLDEN}
            )
            select doc_id,
                   string_agg(
                     (case when prev is not null and prev <> src_offset
                           then '@@@@@@' || chr(10) else '' end) ||
                     case when kind = 'paragraph'
                            then '<p>' || text || '</p>'
                          when kind = 'table_html' then text
                          when kind = 'image'
                            then '<img src="' || media_ref || '"/>'
                          else '' end,
                     chr(10) order by "offset") as html
            from g group by doc_id
        """
EXPORTS_SQL = f"""
        with e as ({_TABLE_EXPORTS}), d as ({_DOC_HTML})
        select doc_id, "offset" as offset, 'shape' as fmt,
               cast(n_rows as varchar) || 'x' || cast(n_cols as varchar)
                 as payload from e
        union all select doc_id, "offset", 'csv', csv from e
        union all select doc_id, "offset", 'markdown', markdown from e
        union all select doc_id, "offset", 'json_rows', json_rows from e
        union all
        select doc_id, "offset", 'sqlite_sql', sqlite_sql from e
        union all select doc_id, "offset", 'excel_xml', excel_xml from e
        union all select doc_id, "offset", 'html_db', html_db from e
        union all select doc_id, -1, 'doc_html', html from d
    """
