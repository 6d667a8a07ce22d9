"""spark-submit entrypoint for the training-set ASSEMBLY program.

The job between a cleaned corpus and a training run:

    spark-submit --master local[32] --py-files dist/pdf_table_spark.zip \\
        scripts/run_assemble.py --input /data/documents.parquet \\
        --benchmark /data/eval_suite.parquet --output /data/assembled \\
        --mixture src1=2.0,src2=0.5 --shards 64

Reads ``documents(doc_id, text, source)``, runs
``ops.prepare.assemble_training_set`` (clean gates → cluster
near-dedup → n-gram decontamination → mixture → split), writes

  * ``<output>/provenance`` — (doc_id, stage, kept) per input doc,
    partitioned by stage;
  * ``<output>/assembled``  — (doc_id, source, copy, split) rows,
    written as ``--shards`` balanced shard directories per split via
    ``ops.sampling.write_shards`` when requested, else one partitioned
    parquet table;

and prints ONE JSON line with the stage distribution, split counts,
and wall seconds. Every assignment is deterministic from (doc_id,
seed) — rerunning overwrites byte-stable outputs.
"""

from __future__ import annotations

import argparse
import json
import time


def _parse_mixture(s: str | None) -> dict[str, float]:
    if not s:
        return {}
    out = {}
    for part in s.split(","):
        k, v = part.split("=")
        out[k.strip()] = float(v)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None,
                    help="parquet of eval docs (doc_id, text) to "
                         "decontaminate against")
    ap.add_argument("--mixture", default=None,
                    help="source=epochs pairs, e.g. 'web=2.0,code=0.5'")
    ap.add_argument("--shards", type=int, default=0,
                    help="write the assembled rows as this many "
                         "balanced shard dirs (0 = plain parquet)")
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--min-stopword-hits", type=int, default=2)
    ap.add_argument("--min-sentences", type=int, default=3)
    ap.add_argument("--neardup-threshold", type=float, default=0.8)
    ap.add_argument("--max-df", type=int, default=10_000)
    ap.add_argument("--max-bucket", type=int, default=10_000)
    ap.add_argument("--ngram-n", type=int, default=13)
    ap.add_argument("--select-target", default=None,
                    help="parquet of target docs(doc_id, text): adds "
                         "the DSIR selection stage — keep the "
                         "--select-k survivors most like this corpus")
    ap.add_argument("--select-k", type=int, default=None)
    ap.add_argument("--select-buckets", type=int, default=65536)
    ap.add_argument("--select-mode", default="gumbel",
                    choices=("gumbel", "topk"))
    ap.add_argument("--seed", default="assemble-v1")
    ap.add_argument("--staged", action="store_true",
                    help="materialize each stage to <output>/<stage> "
                         "and restart lineage between stages: bounds "
                         "peak shuffle/cache disk to one stage's "
                         "working set and resumes at the first stage "
                         "without a _SUCCESS marker (incompatible "
                         "with --shards)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_table_spark.ops import dedup
    from pdf_table_spark.ops.prepare import assemble_training_set
    from pdf_table_spark.ops.sampling import write_shards
    from pdf_table_spark.spark.session import build_session

    if args.staged and args.shards:
        ap.error("--staged writes the partitioned layout directly; "
                 "shard the materialized assembled table separately")

    spark = build_session("pdf_table_spark.assemble")
    docs = spark.read.parquet(args.input)
    bench = (spark.read.parquet(args.benchmark)
             if args.benchmark else None)

    kw = dict(
        benchmark=bench, mixture=_parse_mixture(args.mixture),
        min_words=args.min_words,
        min_stopword_hits=args.min_stopword_hits,
        min_sentences=args.min_sentences,
        neardup_threshold=args.neardup_threshold,
        max_df=args.max_df, max_bucket=args.max_bucket,
        ngram_n=args.ngram_n, seed=args.seed,
        select_target=(spark.read.parquet(args.select_target)
                       if args.select_target else None),
        select_k=args.select_k, select_buckets=args.select_buckets,
        select_mode=args.select_mode)

    t0 = time.perf_counter()
    shard_counts = None
    # staged: writes <output>/provenance (by stage) and
    # <output>/assembled (by split) itself, stage by stage
    out = assemble_training_set(
        docs, workdir=args.output if args.staged else None, **kw)
    if not args.staged:
        (out["provenance"].write.mode("overwrite")
         .partitionBy("stage").parquet(f"{args.output}/provenance"))

        asm = out["assembled"]
        if args.shards > 0:
            # (doc_id, copy) is the row key; shard on the
            # copy-qualified id
            keyed = asm.withColumn(
                "row_key",
                F.concat_ws("#", F.col("doc_id").cast("string"),
                            F.col("copy").cast("string")))
            shard_counts = write_shards(
                keyed, f"{args.output}/assembled", args.shards,
                key="row_key", seed=f"{args.seed}-shard")["counts"]
        else:
            (asm.write.mode("overwrite")
             .partitionBy("split").parquet(f"{args.output}/assembled"))
    wall = time.perf_counter() - t0

    stages = {r["stage"]: r["n"] for r in
              (spark.read.parquet(f"{args.output}/provenance")
               .groupBy("stage").agg(F.count("*").alias("n"))
               .collect())}
    try:
        splits = {r["split"]: r["n"] for r in
                  (spark.read.parquet(f"{args.output}/assembled")
                   .groupBy("split").agg(F.count("*").alias("n"))
                   .collect())}
    except Exception:
        # every doc was gated out: partitionBy('split') wrote no files,
        # so the verify-read cannot infer a schema. Report the empty
        # result (with the stage histogram, which shows WHICH gate ate
        # the corpus) instead of dying after the full run.
        splits = {}
    # ship the datasheet with the output (Gebru et al. 2021 practice;
    # exact counts from the frames just written — no extra corpus pass)
    from pyspark.errors import AnalysisException

    from pdf_table_spark.ops.report import (dataset_card,
                                            write_dataset_card)
    try:
        card = dataset_card(
            spark.read.parquet(f"{args.output}/provenance"),
            spark.read.parquet(f"{args.output}/assembled"))
        write_dataset_card(card, f"{args.output}/dataset_card.json")
    except AnalysisException as e:
        # the only expected failure: every doc was gated out, so the
        # assembled dir has no parquet to infer a schema from. Any
        # other bug in report.py surfaces normally.
        print(f"dataset_card skipped (empty assembled table?): {e}")
        card = None
    dedup.release_caches()
    print(json.dumps({
        "metric": "assemble_wall", "value": round(wall, 3),
        "unit": "sec", "stages": stages, "splits": splits,
        "shards": shard_counts and len(shard_counts),
        "stage_walls": out["stage_walls"],
        "dataset_card": card and f"{args.output}/dataset_card.json",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
