"""Incremental (streaming) ingest of the interleaved documents table.

The reference has no streaming operators (SURVEY §2.10) — its batch
driver is a for-loop (``ocr_system_task.py:736-791``). At corpus scale,
though, documents *arrive*; this module is the Structured Streaming
face of the same batch pipeline:

    readStream (file source, parquet)        -- new corpus files are
                                                discovered per trigger;
                                                the source tracks
                                                processed files in the
                                                checkpoint log
      → foreachBatch(extract_documents)      -- the identical batch
                                                plan (kind routing,
                                                skew repartition,
                                                mapInArrow) per
                                                micro-batch
      → dynamic-overwrite parquet sink,      -- exactly-once per file:
        partitioned by batch_id                 a kill between the data
                                                write and the offset-log
                                                commit makes the replayed
                                                batch REWRITE its own
                                                batch_id partition instead
                                                of appending duplicates

``foreachBatch`` (not a continuous sink) is deliberate: the extraction
plan contains a multi-stage shuffle + Arrow stage that Structured
Streaming cannot express as an incremental stateful operator, and the
per-document transform is stateless across documents — each
micro-batch is an independent batch job, which is exactly the
checkpointed-batch semantics the north rule asks for, driven by the
streaming file source's offset log instead of our manifest files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.corpus import CORPUS_SCHEMA
from ..spark.pipeline import extract_documents, flatten_output


def extract_stream(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, max_files_per_trigger: int = 64):
    """Build the streaming query (not started). File-source → extract →
    parquet append."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        out = flatten_output(extract_documents(batch_df)) \
            .withColumn("batch_id", F.lit(batch_id))
        # idempotent replay: overwrite THIS batch's partition only
        (out.write.mode("overwrite").partitionBy("batch_id")
            .parquet(output_dir))

    return (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def run_incremental(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str) -> None:
    """Process everything currently available, then stop (the batch-
    catchup trigger). Safe to re-invoke as new files land: the
    checkpoint's file log makes each input file processed exactly
    once."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    q = extract_stream(spark, input_dir, output_dir, checkpoint_dir) \
        .trigger(availableNow=True).start()
    q.awaitTermination()
