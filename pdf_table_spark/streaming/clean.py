"""Streaming face of the corpus-clean gate (ops/textfilters.py).

At ingest time a 100 TB corpus *arrives*; the cleaning gates a batch
compaction would apply (exact dedup -> Gopher -> C4 -> PII, see
``ops.textfilters.corpus_clean``) map onto Structured Streaming as:

  * exact dedup   -> ``dropDuplicatesWithinWatermark`` on the md5
                     content key: state holds one 32-byte fingerprint
                     per distinct doc inside the watermark horizon and
                     expires automatically — bounded state, unlike a
                     global ``dropDuplicates``. Duplicates further
                     apart than the horizon are the batch compactor's
                     job (``ops.dedup.dedup_corpus``); this gate is the
                     near-line guard.
  * Gopher / C4 / PII -> unchanged narrow column expressions (shared
                     with the batch gate — same thresholds, same
                     semantics), stateless and append-mode safe.

Semantics difference vs the batch gate, by design: a streaming drop
cannot emit provenance rows for the duplicates it suppresses (the
engine drops them inside the stateful operator), so the output carries
stage provenance only for docs that survive dedup ('gopher' | 'c4' |
'kept'); within-horizon duplicates simply never appear.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops import grams
from ..ops.textfilters import _redact_col, _with_c4, _with_gopher

DOCS_SCHEMA = "doc_id string, text string, ingest_ts timestamp"


def clean_docs_stream(docs: DataFrame,
                      ts_col: str = "ingest_ts",
                      dedup_horizon: str = "1 hour",
                      min_words: int = 50,
                      max_words: int = 100_000,
                      min_sentences: int = 3,
                      min_stopword_hits: int = 2,
                      line_sep: str = "\\n",
                      benchmark: DataFrame | None = None,
                      ngram_n: int = 13) -> DataFrame:
    """Transform a streaming ``documents(doc_id, text, <ts_col>)``
    DataFrame into the cleaned stream: one row per first-seen doc with
    (doc_id, <ts_col>, stage, kept, clean_fp). Pure transformation —
    attach any source/sink; append output mode.

    ``benchmark`` (a STATIC DataFrame of eval docs) adds the GPT-3
    13-gram decontamination gate to the stream: the bench side reduces
    to a broadcast set of gram hashes once, and each micro-batch
    checks its docs against it statelessly (stream-static join —
    no streaming state beyond the dedup horizon).
    """
    deduped = (
        docs.select("doc_id", ts_col, "text",
                    F.md5("text").alias("fp"))
        .withWatermark(ts_col, dedup_horizon)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    staged = _with_gopher(
        deduped, min_words, max_words, 3.0, 10.0, 0.1, 0.9, 0.3, 0.8,
        min_stopword_hits, line_sep)
    staged = _with_c4(staged, 5, min_sentences, line_sep)
    if benchmark is not None:
        # a stream-side explode+groupBy would be a STATEFUL streaming
        # aggregation (wrong for append mode); instead the bench gram
        # set is collected once (eval suites are small next to a
        # corpus), broadcast, and probed per row: the JVM computes the
        # doc's gram-hash array, python does set membership only —
        # stateless, so the only streaming state stays the dedup
        # horizon.
        from pyspark.sql.functions import pandas_udf

        from ..ops.textfilters import _ngram_hash_rows
        bench_hashes = {r.g for r in _ngram_hash_rows(benchmark,
                                                      ngram_n)
                        .select("g").distinct().collect()}
        bc = docs.sparkSession.sparkContext.broadcast(bench_hashes)

        @pandas_udf("boolean")
        def _leaks(gs):
            s = bc.value
            return gs.apply(
                lambda arr: arr is not None
                and any(g in s for g in arr))

        # the token array is its own column: inlined into the window
        # lambda it would be re-split at every n-gram position
        ngrams = grams.windows("_tk", ngram_n,
                               fn=grams.hash_sql("md5", form="hex"))
        staged = (staged
                  .withColumn("_tk", F.expr(grams.tokens()))
                  .withColumn("contaminated",
                              _leaks(F.expr(f"array_distinct({ngrams})")))
                  .drop("_tk"))
    else:
        staged = staged.withColumn("contaminated", F.lit(False))
    stage = (
        F.when(~F.col("pass_gopher"), F.lit("gopher"))
        .when(~F.col("keep_c4"), F.lit("c4"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return staged.select(
        "doc_id", ts_col,
        stage.alias("stage"),
        (stage == "kept").alias("kept"),
        F.when(stage == "kept",
               F.md5(_redact_col(F.col("clean_text"))))
        .alias("clean_fp"),
    )


def clean_stream(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str,
                 dedup_horizon: str = "1 hour",
                 min_words: int = 50,
                 min_sentences: int = 3,
                 min_stopword_hits: int = 2,
                 benchmark: DataFrame | None = None) -> None:
    """File-source runner: discover new corpus parquet files, push them
    through the streaming gate, append survivors to ``output_dir``.
    Exactly-once per file via the source offset log in
    ``checkpoint_dir``; the dedup state also lives there, so a restart
    still suppresses duplicates of docs seen before the restart (as
    long as they are within the horizon)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    cleaned = clean_docs_stream(
        stream, dedup_horizon=dedup_horizon, min_words=min_words,
        min_sentences=min_sentences,
        min_stopword_hits=min_stopword_hits, benchmark=benchmark)
    q = (cleaned.writeStream.outputMode("append")
         .format("parquet").option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
