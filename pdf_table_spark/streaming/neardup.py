"""Incremental near-duplicate gate: MinHash-LSH dedup of an arriving
stream against a PERSISTENT band index of everything ingested so far.

The batch near-dedup (``ops.dedup.dedup_corpus``) answers "which docs
in this corpus duplicate each other"; at ingest time the question is
"does this NEW doc duplicate anything already in the 100 TB corpus" —
and re-running the batch job per arrival would rescan the world. This
module keeps the corpus side as a band index on disk:

    index/bands/  (doc_id, band, bh)       partitioned by batch_id
    index/sigs/   (doc_id, s0..s63)        partitioned by batch_id

and processes each micro-batch via ``foreachBatch`` as a small batch
job (the LSH band join + signature verify cannot be expressed as a
streaming-native stateful operator, and unbounded engine state holding
the whole corpus index would defeat checkpoint recovery anyway —
the index IS the state, stored where 100 TB state belongs):

  1. signatures + band rows for the batch (shared code with the batch
     op: ``minhash_signatures`` / ``band_table``, xxhash64 keys).
  2. candidates = batch bands ⋈ index bands on (band, bh), buckets
     capped like the batch op. The index side is filtered to
     ``batch_id != current`` FIRST — partition-pruned, and the guard
     that makes a replayed batch not collide with its own half-written
     index rows.
  3. verify: estimated Jaccard = fraction of agreeing signature
     components ≥ ``sim_threshold`` (the standard streaming trade —
     the batch op verifies with exact shingle Jaccard, but shingles
     are too heavy to index; 64 components bound the estimator's
     std-err at ~1/8).
  4. within-batch dedup with the same verify, keep the smaller doc_id
     (mirrors the batch op's keep rule).
  5. survivors append to the output AND to the index, all partitioned
     by batch_id under dynamic partitionOverwriteMode: a kill between
     the writes and the offset-log commit makes the replayed batch
     REWRITE its own partitions instead of appending duplicates —
     exactly-once end to end, including the index.

Scale note: the per-batch (band, bh) join shuffles the index side at
this layout. The 100 TB upgrade is mechanical — store ``index/bands``
as a table bucketed by ``bh`` (``spark.bucketing``) so each batch
shuffles only its own band rows into the index's bucketing; the gate
logic is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import (N_PERM, _lsh_pairs_from_signatures, band_table,
                         minhash_signatures, release_checkpoint)

DOCS_SCHEMA = "doc_id string, text string"

_SIG_COLS = [f"s{i}" for i in range(N_PERM)]


def _sig_agreement(left_prefix: str = "x", right_prefix: str = "y"):
    """Estimated Jaccard between two signature rows: mean agreement
    over the 64 components."""
    agree = sum(
        F.when(F.col(f"{left_prefix}.{c}") == F.col(f"{right_prefix}.{c}"),
               1).otherwise(0)
        for c in _SIG_COLS)
    return agree / F.lit(float(N_PERM))


def neardup_gate_batch(batch_docs: DataFrame, batch_id: int,
                       output_dir: str, index_dir: str,
                       sim_threshold: float = 0.8,
                       max_bucket: int = 64) -> None:
    """Process ONE micro-batch of ``(doc_id, text)`` docs against the
    persistent index (see module docstring for the five steps).
    Idempotent per ``batch_id`` — safe under foreachBatch replay."""
    spark = batch_docs.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    bands_dir = os.path.join(index_dir, "bands")
    sigs_dir = os.path.join(index_dir, "sigs")

    sig = minhash_signatures(batch_docs).localCheckpoint()

    dup_ids = None
    if os.path.isdir(bands_dir):
        idx_bands = (spark.read.parquet(bands_dir)
                     .filter(F.col("batch_id") != batch_id))
        idx_sigs = (spark.read.parquet(sigs_dir)
                    .filter(F.col("batch_id") != batch_id))
        # bucket cap on the INDEX side: one boilerplate bucket of k
        # index docs would fan every colliding new doc into k verify
        # rows; capped buckets still catch dups through other bands
        ok = (idx_bands.groupBy("band", "bh")
              .agg(F.count("*").alias("n"))
              .filter(F.col("n") <= max_bucket)
              .select("band", "bh"))
        cand = (band_table(sig, band_hash="xxhash64").alias("n")
                .join(idx_bands.join(ok, ["band", "bh"]).alias("o"),
                      ["band", "bh"])
                .select(F.col("n.doc_id").alias("new_id"),
                        F.col("o.doc_id").alias("old_id"))
                .distinct())
        verified = (cand
                    .join(sig.alias("x"),
                          cand["new_id"] == F.col("x.doc_id"))
                    .join(idx_sigs.alias("y"),
                          cand["old_id"] == F.col("y.doc_id"))
                    .filter(_sig_agreement() >= sim_threshold))
        dup_ids = verified.select(F.col("new_id").alias("doc_id")) \
            .distinct()

    # within-batch near-dups: same verify, smaller doc_id survives
    # (the smaller side may itself fall to the index — then both drop,
    # matching "its canonical is already in the corpus")
    batch_pairs = _lsh_pairs_from_signatures(sig, None,
                                             band_hash="xxhash64")
    batch_dups = (batch_pairs
                  .join(sig.alias("x"),
                        F.col("doc_a") == F.col("x.doc_id"))
                  .join(sig.alias("y"),
                        F.col("doc_b") == F.col("y.doc_id"))
                  .filter(_sig_agreement() >= sim_threshold)
                  .select(F.col("doc_b").alias("doc_id"))
                  .distinct())
    dup_ids = (batch_dups if dup_ids is None
               else dup_ids.unionByName(batch_dups).distinct())

    survivors = (batch_docs.join(dup_ids, "doc_id", "left_anti")
                 .withColumn("batch_id", F.lit(batch_id))
                 .localCheckpoint())  # sever: three writes below reuse it

    (survivors.write.mode("overwrite").partitionBy("batch_id")
     .parquet(output_dir))
    keep = survivors.select("doc_id")
    (band_table(sig.join(keep, "doc_id"), band_hash="xxhash64")
     .withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite").partitionBy("batch_id").parquet(bands_dir))
    (sig.join(keep, "doc_id")
     .withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite").partitionBy("batch_id").parquet(sigs_dir))
    # the batch's two checkpoints back nothing once its writes are done
    release_checkpoint(sig)
    release_checkpoint(survivors)


def run_neardup_stream(spark: SparkSession, input_dir: str,
                       output_dir: str, index_dir: str,
                       checkpoint_dir: str,
                       sim_threshold: float = 0.8,
                       max_bucket: int = 64,
                       max_files_per_trigger: int = 64) -> None:
    """File-source runner: discover new corpus parquet files, gate each
    micro-batch against the index, append survivors + index rows.
    Exactly-once per file via the source offset log; a replayed batch
    overwrites its own batch_id partitions (data, bands, sigs)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir))
    q = (stream.writeStream
         .foreachBatch(lambda df, bid: neardup_gate_batch(
             df, bid, output_dir, index_dir,
             sim_threshold=sim_threshold, max_bucket=max_bucket))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
