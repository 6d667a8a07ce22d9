"""The query registry: one record per query — its name, its
Spark builder ``build(spark, sf_dir) -> DataFrame`` and its DuckDB
twin — in the one ordered sequence ``records()`` returns.

Builders and twins live side by side in the family modules
(``extraction``, ``corpus``, ``duplicates``, ``media``,
``relational``); ``common`` holds what they share. A twin is a SQL
string, or a function returning one when it needs lazily imported
model weights or composed helpers. The twins run against the sf0.01
views that ``scripts/check_correctness.py`` registers (``documents``,
``embeddings``, ``lineitem``, …) and the committed fixture parquet."""

from __future__ import annotations

from functools import partial
from typing import NamedTuple


class Query(NamedTuple):
    name: str
    build: object    # (spark, sf_dir) -> DataFrame
    oracle: object   # str, or () -> str


def records() -> tuple[Query, ...]:
    from . import corpus as c
    from . import duplicates as d
    from . import extraction as x
    from . import media as m
    from . import relational as r
    from .common import _extract_flat

    def flat(flavor, golden):
        return (partial(_extract_flat, flavor=flavor),
                partial(x.golden_flat_sql, golden))

    def subset(pred, cols=x.SUBSET_COLS):
        return (partial(x.extract_subset, pred, cols),
                partial(x.subset_sql, pred, cols))

    return (
        Query("extract_spans", *flat("auto", "golden_flat.parquet")),
        Query("extract_spans_lattice",
              *flat("lattice", "golden_flat_lattice.parquet")),
        Query("extract_spans_stream",
              *flat("stream", "golden_flat_stream.parquet")),
        Query("table_quality", x.table_quality, x.TABLE_QUALITY_SQL),
        Query("ocr_table_match", *subset(x.OCR_PAGE)),
        Query("ocr_table_logi", *subset(x.LOGI_PAGE)),
        Query("ocr_table_lgpma", *subset(x.LGPMA_PAGE)),
        Query("html_main_content",
              *subset(x.HTML_PAGE, x.SUBSET_COLS + ("media_ref",))),
        Query("extract_kind_stats", x.extract_kind_stats,
              x.EXTRACT_KIND_STATS_SQL),
        Query("span_inventory", x.span_inventory, x.SPAN_INVENTORY_SQL),
        Query("doc_text_stats", c.doc_text_stats, c.DOC_TEXT_STATS_SQL),
        Query("corpus_stats", c.corpus_stats, c.CORPUS_STATS_SQL),
        Query("lang_id", c.lang_id, c.LANG_ID_SQL),
        Query("fingerprint", c.fingerprint, c.FINGERPRINT_SQL),
        Query("exact_dedup", d.exact_dedup, d.EXACT_DEDUP_SQL),
        Query("gopher_quality", c.gopher_quality, c.GOPHER_QUALITY_SQL),
        Query("c4_filters", c.c4_filters, c.C4_FILTERS_SQL),
        Query("corpus_clean", c.corpus_clean, c.CORPUS_CLEAN_SQL),
        Query("span_dedup", c.span_dedup, c.SPAN_DEDUP_SQL),
        Query("decontaminate", c.decontaminate, c.DECONTAMINATE_SQL),
        Query("assemble", c.assemble, c.ASSEMBLE_SQL),
        Query("resample_mixture", c.resample_mixture,
              c.RESAMPLE_MIXTURE_SQL),
        Query("semdedup", d.semdedup, d.semdedup_sql),
        Query("data_selection", c.data_selection, c.DATA_SELECTION_SQL),
        Query("corpus_diff", c.corpus_diff, c.CORPUS_DIFF_SQL),
        Query("top_ngrams", c.top_ngrams, c.TOP_NGRAMS_SQL),
        Query("corpus_split", c.corpus_split, c.CORPUS_SPLIT_SQL),
        Query("stratified_sample", c.stratified_sample,
              c.STRATIFIED_SAMPLE_SQL),
        Query("pack_chunks", c.pack_chunks, c.PACK_CHUNKS_SQL),
        Query("prepare_corpus", c.prepare_corpus, c.prepare_corpus_sql),
        Query("ngram_jaccard", d.ngram_jaccard, d.NGRAM_JACCARD_SQL),
        Query("dedup_corpus", d.dedup_corpus, d.dedup_corpus_sql),
        Query("dedup_clusters", d.dedup_clusters, d.dedup_clusters_sql),
        Query("minhash_lsh", d.minhash_lsh, d.minhash_lsh_sql),
        Query("simhash", d.simhash, d.SIMHASH_SQL),
        Query("ann_topk", d.ann_topk, d.ann_topk_sql),
        Query("media_sampling", m.media_sampling, m.MEDIA_SAMPLING_SQL),
        Query("media_meta", m.media_meta, m.MEDIA_META_SQL),
        Query("embedding_neardup", d.embedding_neardup, d.neardup_sql),
        Query("doc_metrics", x.doc_metrics, x.DOC_METRICS_SQL),
        Query("paragraph_rank", x.paragraph_rank, x.PARAGRAPH_RANK_SQL),
        Query("tables_per_doc", x.tables_per_doc, x.TABLES_PER_DOC_SQL),
        Query("model_scores", m.model_scores, m.model_scores_sql),
        Query("doc_profile", x.doc_profile, x.DOC_PROFILE_SQL),
        Query("ocr_from_model", m.ocr_from_model, m.OCR_FROM_MODEL_SQL),
        Query("exports", x.exports, x.EXPORTS_SQL),
        Query("pricing_summary", r.pricing_summary, r.PRICING_SUMMARY_SQL),
        Query("top_revenue_orders", r.top_revenue_orders,
              r.TOP_REVENUE_ORDERS_SQL),
        Query("salted_priority_revenue", r.salted_priority_revenue,
              r.SALTED_PRIORITY_REVENUE_SQL),
        Query("event_sessions", r.event_sessions, r.EVENT_SESSIONS_SQL),
    )
