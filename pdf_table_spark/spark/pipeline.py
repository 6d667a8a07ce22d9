"""The distributed extraction pipeline.

Plan shape (and why it scales):

    scan documents(doc_id, spans)                 -- columnar parquet/Iceberg
      → explode(spans)                            -- narrow: 1 row per span;
                                                     a 500-page doc becomes
                                                     500 independent work units
      → [repartition(doc_id, offset)]             -- ADAPTIVE (r6): inserted
                                                     only when the scan yields
                                                     fewer partitions than the
                                                     session parallelism. At
                                                     scale the byte-balanced
                                                     file splits balance the
                                                     per-page map too, and
                                                     this shuffle is a full
                                                     pass of the corpus text
      → mapInArrow(extract)                       -- the only Python stage;
                                                     raw Arrow batches, numpy
                                                     inside; trivial kinds
                                                     (text/image) are a cheap
                                                     fast path within it
      → groupBy(doc_id).collect_list + array_sort -- shuffle #1: reassemble
                                                     ordered span sequences;
                                                     payloads here are small
                                                     output strings

One scan, one unconditional shuffle, one Python boundary. A kind-routing split
(trivial kinds as a JVM-side projection unioned around the Python
stage) was tried and reverted: Catalyst pushes each branch's kind
filter below the shared repartition, so the branches cannot share the
exchange and the INPUT IS SCANNED TWICE — at 100 TB a second full read
costs far more than ferrying the byte-light trivial spans (~10% of
bytes) across the Arrow boundary. AQE cannot fix UDF-compute skew
(SURVEY §4), hence the explicit pre-stage repartition.

Reference lifecycle being re-expressed: ``ocr_system_task.py:549-734``
(the per-page 9-stage pipeline) + the sequential batch driver
``ocr_system_task.py:736-791`` which this plan replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.corpus import SPAN_STRUCT  # noqa: F401 (re-export)
from .stages import run_extract_stage


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → one row per span (page-level work
    units). Narrow transformation — no shuffle."""
    return docs.select(
        "doc_id", F.explode_outer("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def reassemble(frags: DataFrame) -> DataFrame:
    """fragments(doc_id, offset, frag_idx, kind, text, media_ref) →
    (doc_id, out_spans) with dense output offsets; ``src_offset`` keeps
    each fragment's SOURCE span (page) provenance — the page boundary
    the reference's per-page output files carry implicitly.

    array_sort over struct(offset, frag_idx, ...) gives the total
    order; transform() re-indexes to dense offsets — all JVM-side.
    """
    return (
        frags.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            "offset", "frag_idx", "kind", "text", "media_ref",
            "accuracy", "whitespace"))).alias("a"))
        .select(
            "doc_id",
            F.expr(
                "transform("
                "  filter(a, x -> x.kind != '__empty__'),"
                "  (x, i) -> struct("
                "    x.kind as kind, x.text as text, "
                "    x.media_ref as media_ref, cast(i as int) as offset, "
                "    x.offset as src_offset, "
                "    x.accuracy as accuracy, x.whitespace as whitespace))"
            ).alias("out_spans"),
        )
    )


def _prepared_spans(docs: DataFrame) -> DataFrame:
    """explode + the adaptive pre-stage rebalance: the exchange is
    inserted only when the scan under-parallelizes the cluster (fewer
    splits than cores — width then = the session's shuffle
    parallelism). A scan already yielding >= cores byte-balanced
    splits keeps the map stage busy without paying a corpus-wide text
    shuffle: page decode cost tracks payload bytes, and the pre-stage
    shuffle is a full pass of the corpus text over the network —
    measured 2.1x the whole pipeline wall at sf0.1/local[32] for zero
    balance gain."""
    spark = docs.sparkSession
    sp = explode_spans(docs)
    if sp.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        sp = sp.repartition(n, "doc_id", "offset")
    return sp


def _fragments(docs: DataFrame, metrics, flavor: str) -> DataFrame:
    """The fragment stream of both entry points below: explode, the
    adaptive rebalance, then the Arrow extraction stage."""
    from ..core.page import FLAVORS
    if flavor not in FLAVORS:
        # validate on the DRIVER: inside the Arrow stage a bad flavor
        # would be swallowed by per-span poison containment, silently
        # quarantining the entire corpus as 'error' rows
        raise ValueError(f"unknown flavor {flavor!r}; one of {FLAVORS}")
    return run_extract_stage(_prepared_spans(docs), metrics, flavor)


def extract_documents(docs: DataFrame, metrics=None,
                      flavor: str = "auto") -> DataFrame:
    """Full pipeline: documents(doc_id, spans) → (doc_id, out_spans).

    ``metrics``: optional ``stages.ExtractionMetrics`` — executor-side
    span/fragment/error/wall counters, readable after any action.
    ``flavor``: pdf_page table decoder — 'auto' | 'lattice' | 'stream'
    (the reference's read_pdf flavor kwarg).
    """
    # Every doc survives reassembly: both routes emit a sentinel
    # fragment for fragment-less spans (and explode_outer emits a null
    # span for zero-span docs), so no join back to the doc_id universe
    # is needed — at 10^12 docs that join would be the bottleneck.
    return reassemble(_fragments(docs, metrics, flavor))


def extract_fragments(docs: DataFrame) -> DataFrame:
    """The pre-reassembly fragment stream, sentinels dropped:
    (doc_id, offset, frag_idx, kind, text, media_ref, accuracy,
    whitespace) where ``offset`` is the SOURCE span offset.

    The row multiset equals ``flatten_output(extract_documents(...))``
    on every column except the dense output offset (flatten's
    ``offset`` is the re-indexed rank; ``src_offset`` is this frame's
    ``offset``). Consumers that aggregate per kind or per doc without
    needing dense offsets (kind statistics, per-doc rollups) read
    this instead and skip the reassembly shuffle + per-doc array
    build entirely — at any scale that is one full pass of the output
    strings over the network saved."""
    return (_fragments(docs, None, "auto")
            .filter(F.col("kind") != "__empty__"))


def flatten_output(out: DataFrame) -> DataFrame:
    """(doc_id, out_spans) → flat rows for sinks / correctness compare.
    accuracy/whitespace are the A9 table-quality metrics (null on
    non-table fragments)."""
    return out.select(
        "doc_id", F.explode("out_spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.src_offset").alias("src_offset"),
        F.col("s.accuracy").alias("accuracy"),
        F.col("s.whitespace").alias("whitespace"),
    )
