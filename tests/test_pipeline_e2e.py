"""End-to-end: Spark pipeline output == single-process golden oracle.

This is the BASELINE per-row invariant — span-sequence equality
(kind, text, media_ref, order) per document — exercised through the
full distributed plan (explode → repartition → Arrow stage →
reassembly), including the F-G skew document path.
"""

import os

from pdf_table_spark.spark.pipeline import extract_documents, flatten_output

# kinds whose decode is heavy (page JSON / table HTML)
PYTHON_KINDS = ("pdf_page", "html_table")


def _golden(fixture_root, sf):
    import pyarrow.parquet as pq
    path = os.path.join(fixture_root, f"sf{sf}", "golden_flat.parquet")
    tbl = pq.read_table(path)
    rows = sorted(zip(*[tbl.column(c).to_pylist() for c in
                        ("doc_id", "offset", "kind", "text", "media_ref")]))
    return rows


def test_e2e_sf0001_matches_golden(spark, fixture_root):
    docs = spark.read.parquet(
        os.path.join(fixture_root, "sf0.001", "documents_spans.parquet"))
    out = flatten_output(extract_documents(docs))
    got = sorted(
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in out.collect())
    want = _golden(fixture_root, "0.001")
    assert len(got) == len(want)
    assert got == want


def test_e2e_no_rebalance_same_result(spark, fixture_root):
    """Partitioning must not affect results (order determinism): a
    wide input skips the adaptive pre-stage rebalance, a one-split
    input takes it."""
    docs = spark.read.parquet(
        os.path.join(fixture_root, "sf0.001", "documents_spans.parquet"))
    a = sorted(map(tuple, flatten_output(
        extract_documents(docs.repartition(16))).collect()))
    b = sorted(map(tuple, flatten_output(
        extract_documents(docs.coalesce(1))).collect()))
    assert a == b


def test_skew_doc_pages_spread_across_partitions(spark):
    """The F-G-style giant doc must not pin to one core: after the
    pre-stage repartition its pages land on many partitions."""
    from pyspark.sql import functions as F

    from pdf_table_spark.fixtures.generator import gen_doc
    from pdf_table_spark.spark.pipeline import explode_spans

    # force a skew doc (family F-G draws 200-500 pages)
    for i in range(3000):
        doc_id, spans, family = gen_doc(i)
        if family == "F-G":
            break
    assert family == "F-G" and len(spans) >= 200

    docs = spark.createDataFrame(
        [(doc_id, spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    sp = explode_spans(docs).filter(F.col("kind").isin(*PYTHON_KINDS))
    sp = sp.repartition(8, "doc_id", "offset")
    dist = (sp.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect())
    n_parts = len(dist)
    biggest = max(r["count"] for r in dist)
    total = sum(r["count"] for r in dist)
    assert n_parts == 8                    # all partitions participate
    assert biggest < total * 0.25          # no partition hogs the doc
