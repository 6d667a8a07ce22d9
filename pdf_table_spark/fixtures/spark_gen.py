"""Spark-parallel corpus generation: spark.range(n) → mapInArrow over
the deterministic per-doc generator → many-file parquet corpus.

Lives in the package (not a script) so executors can import it — a
script-level stage function pickles by reference to a module workers
don't have on their path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..sources.corpus import CORPUS_SCHEMA


def _gen_batches_heavy(batches):
    import pyarrow as pa

    from .build import SPAN_TYPE
    from .generator import gen_doc

    for batch in batches:
        ids = batch.column(0).to_pylist()
        doc_ids, span_lists = [], []
        for i in ids:
            doc_id, spans, _fam = gen_doc(int(i), heavy=True)
            doc_ids.append(doc_id)
            span_lists.append(spans)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids, pa.string()),
             pa.array(span_lists, pa.list_(SPAN_TYPE))],
            names=["doc_id", "spans"])


def generate_corpus(spark: SparkSession, n_docs: int, out_dir: str,
                    n_files: int = 64) -> str:
    (spark.range(n_docs).repartition(n_files)
     .mapInArrow(_gen_batches_heavy, schema=CORPUS_SCHEMA)
     .write.mode("overwrite").parquet(out_dir))
    return out_dir


def ensure_corpus(n_docs: int = 12000,
                  out: str = "/tmp/pdf_table_scaling_corpus",
                  n_files: int = 64) -> str:
    """Generate (once) and cache the heavy scaling corpus."""
    out_dir = f"{out}_{n_docs}"
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    from ..spark.session import build_session
    spark = build_session("gen_scaling_corpus")
    spark.sparkContext.setLogLevel("ERROR")
    generate_corpus(spark, n_docs, out_dir, n_files)
    spark.stop()
    return out_dir
