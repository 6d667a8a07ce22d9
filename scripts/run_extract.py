"""spark-submit entrypoint for the extraction job (north-rule contract).

Run the same job at two cluster sizes to evidence scaling efficiency:

    spark-submit --master local[8]  --py-files dist/pdf_table_spark.zip \
        scripts/run_extract.py --input fixtures/sf0.1/documents_spans.parquet \
        --output /tmp/out8 --repeat 4
    spark-submit --master local[32] --py-files dist/pdf_table_spark.zip \
        scripts/run_extract.py ... --output /tmp/out32 --repeat 4

Prints ONE JSON line: wall seconds of the extraction job (excluding
session/worker spin-up, which amortizes to zero on a 10^12-doc run),
docs/sec, pages/sec. ``--repeat N`` unions N doc_id-tagged copies of the
input — same pipeline, bigger corpus — so fixed planning overhead
doesn't pollute the throughput measurement at small SF.

``--checkpointed`` exercises the resumable per-bucket path instead
(pdf_table_spark.spark.checkpoint) and reports lineage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents_spans parquet (doc_id, spans)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None,
                    help="only when not launched via spark-submit --master")
    ap.add_argument("--repeat", type=int, default=1,
                    help="union N tagged copies of the input corpus")
    ap.add_argument("--pages", default=None,
                    help="page spec per doc: '1,3' | '2-end' | 'all'")
    ap.add_argument("--flavor", default="auto",
                    choices=("auto", "lattice", "stream"),
                    help="pdf_page table decoder (read_pdf flavor kwarg)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--checkpointed", action="store_true")
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args(argv)

    from pdf_table_spark.spark.checkpoint import run_checkpointed
    from pdf_table_spark.spark.pipeline import extract_documents, flatten_output
    from pdf_table_spark.spark.session import build_session

    spark = build_session("pdf_table_spark.extract", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    docs = spark.read.parquet(args.input)
    if args.pages:
        from pdf_table_spark.ops.pages import select_pages
        docs = select_pages(docs, args.pages)
    if args.repeat > 1:
        docs = docs.crossJoin(
            spark.range(args.repeat).select(
                F.col("id").cast("string").alias("rep"))
        ).select(
            F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "spans")

    n_docs = docs.count()
    n_pages = docs.selectExpr(
        "sum(size(filter(spans, s -> s.kind = 'pdf_page'))) as p"
    ).collect()[0]["p"] or 0

    # spawn every Python worker before the timed run (steady-state
    # throughput; worker fork cost amortizes to zero on a long job)
    warm = docs.limit(8 * cores).repartition(2 * cores)
    flatten_output(extract_documents(warm)) \
        .write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    if args.checkpointed:
        summary = run_checkpointed(
            spark, docs, args.output, n_buckets=args.buckets,
            transform=lambda d: flatten_output(
                extract_documents(d, flavor=args.flavor)))
        wall = time.perf_counter() - t0
        extra = {"buckets_done": len(summary["done"]),
                 "buckets_skipped": len(summary["skipped"])}
    else:
        out = flatten_output(extract_documents(docs, flavor=args.flavor))
        out.write.mode("overwrite").parquet(args.output)
        wall = time.perf_counter() - t0
        extra = {}

    print(json.dumps({
        "job": "extract",
        "cores": cores,
        "wall_sec": round(wall, 3),
        "n_docs": n_docs,
        "n_pages": int(n_pages),
        "docs_per_sec": round(n_docs / wall, 2),
        "pages_per_sec": round(n_pages / wall, 2),
        **extra,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
