"""spark-submit runner for DSIR importance selection at scale.

Target = 5 members of each exact-dup cluster in the corpus's planted
dup region (fixtures/text_gen.py: idx < 1% of n_docs, clusters of
100 byte-identical docs); raw = everything else. The 95 remaining
SIBLINGS of each target cluster share every gram with a target doc,
so they must dominate the selection — the in-run assertion requires
every selected doc to be a dup-region sibling, making the throughput
number unbuyable with a broken scorer.

Prints one JSON line: {"job": "dsir", "docs": ..., "wall_sec": ...,
"docs_per_sec": ..., ...}.

    spark-submit --master local[8] --py-files dist/pdf_table_spark.zip \
        scripts/run_dsir.py --input .scale/dsir_corpus --k 10000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--k", type=int, default=10_000)
    ap.add_argument("--n-buckets", type=int, default=65536)
    ap.add_argument("--hash-fn", default="xxhash64")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_table_spark.ops import dsir
    from pdf_table_spark.spark.session import build_session

    spark = build_session("pdf_table_spark.dsir",
                          shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.input)
    n_docs = docs.count()
    dup_hi = n_docs // 100          # text_gen F_DUP = 1 %
    idx = "cast(substring(doc_id, 2) as bigint)"
    is_target = f"({idx} < {dup_hi} and {idx} % 100 < 5)"

    target = docs.filter(is_target)
    raw = docs.filter(f"not {is_target}")

    # steady-state warmup, excluded from the timed window: whole-stage
    # codegen compilation, parquet footer reads, and the Python Arrow
    # worker fork are per-JVM fixed costs (~5 s) that a long-lived
    # cluster pays once; leaving them inside the window makes the
    # N-vs-4N ratio measure JVM startup, not the job (measured: the
    # same fit passes scale 4.05x warm vs 2.6x cold at this size)
    warm = docs.limit(20_000)
    lr_w = dsir.fit_logratio_e6(warm, warm, n_buckets=args.n_buckets,
                                hash_fn=args.hash_fn)
    dsir.score_np(warm, lr_w, hash_fn=args.hash_fn).count()

    t0 = time.perf_counter()
    lr = dsir.fit_logratio_e6(target, raw, n_buckets=args.n_buckets,
                              hash_fn=args.hash_fn)
    t_fit = time.perf_counter()

    # score once (vectorized Arrow scorer — the per-row lookup array
    # doesn't scale to 65k buckets), share across both arms
    scored = dsir.score_np(raw, lr, hash_fn=args.hash_fn).persist()
    n_scored = scored.count()
    t_score = time.perf_counter()

    topk = (scored.orderBy(F.desc("score_e6"), F.asc("doc_id"))
            .limit(args.k).collect())
    t_topk = time.perf_counter()
    gum = (scored
           .select("doc_id", "score_e6",
                   (F.col("score_e6")
                    + F.expr(dsir.gumbel_e6_expr())).alias("key_e6"))
           .orderBy(F.desc("key_e6"), F.asc("doc_id"))
           .limit(args.k).collect())
    t_gum = time.perf_counter()

    # planted ground truth: every selected doc must be a dup-region
    # sibling of a target doc (idx < dup_hi, not itself target)
    def check(rows, name):
        assert len(rows) == args.k, (name, len(rows))
        for r in rows:
            i = int(r.doc_id[1:])
            assert i < dup_hi and i % 100 >= 5, (name, r.doc_id)
    check(topk, "topk")
    check(gum, "gumbel")
    scored.unpersist()

    wall = t_gum - t0
    print(json.dumps({
        "job": "dsir", "docs": n_docs, "scored": n_scored,
        "k": args.k, "n_buckets": args.n_buckets,
        "hash_fn": args.hash_fn,
        "wall_sec": round(wall, 2),
        "fit_sec": round(t_fit - t0, 2),
        "score_sec": round(t_score - t_fit, 2),
        "topk_sec": round(t_topk - t_score, 2),
        "gumbel_sec": round(t_gum - t_topk, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "planted_check": "pass",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
