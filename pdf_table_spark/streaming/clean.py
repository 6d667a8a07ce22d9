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
from ..ops.textfilters import (C4_MIN_SENTENCES, GOPHER_MIN_STOPWORD_HITS,
                               GOPHER_MIN_WORDS, _redact_col, _with_c4,
                               _with_gopher)

DOCS_SCHEMA = "doc_id string, text string, ingest_ts timestamp"
BENCH_NGRAM = 13  # the GPT-3 decontamination gram length
DEDUP_HORIZON = "1 hour"  # how long a content key stays in dedup state


def clean_docs_stream(docs: DataFrame,
                      min_words: int = GOPHER_MIN_WORDS,
                      min_sentences: int = C4_MIN_SENTENCES,
                      min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
                      benchmark: DataFrame | None = None) -> DataFrame:
    """Transform a streaming ``documents(doc_id, text, ingest_ts)``
    DataFrame into the cleaned stream: one row per first-seen doc with
    (doc_id, ingest_ts, stage, kept, clean_fp). Pure transformation —
    attach any source/sink; append output mode.

    ``benchmark`` (a STATIC DataFrame of eval docs) adds the GPT-3
    13-gram decontamination gate to the stream: the bench side reduces
    to a broadcast set of gram hashes once, and each micro-batch
    checks its docs against it statelessly (stream-static join —
    no streaming state beyond the dedup horizon).
    """
    deduped = (
        docs.select("doc_id", "ingest_ts", "text",
                    F.md5("text").alias("fp"))
        .withWatermark("ingest_ts", DEDUP_HORIZON)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    staged = _with_c4(
        _with_gopher(deduped, min_words,
                     min_stopword_hits=min_stopword_hits),
        min_sentences=min_sentences)
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
                                                      BENCH_NGRAM)
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
        ngrams = grams.windows("_tk", BENCH_NGRAM,
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
        "doc_id", "ingest_ts",
        stage.alias("stage"),
        (stage == "kept").alias("kept"),
        F.when(stage == "kept",
               F.md5(_redact_col(F.col("clean_text"))))
        .alias("clean_fp"),
    )


def clean_stream(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str,
                 min_words: int = GOPHER_MIN_WORDS,
                 min_sentences: int = C4_MIN_SENTENCES,
                 min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
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
        stream, min_words=min_words, min_sentences=min_sentences,
        min_stopword_hits=min_stopword_hits, benchmark=benchmark)
    q = (cleaned.writeStream.outputMode("append")
         .format("parquet").option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
