"""Training-set assembly operators: deterministic splits, stratified
sampling, and GPT-style sequence packing.

These are the steps between a cleaned corpus and a training run. All
of them are driven by the same 60-bit md5 hash the dedup tier uses
(`conv(substr(md5(..),1,15),16,10)` ↔ DuckDB `'0x'||substr(...)`), so
every assignment is reproducible bit-for-bit from (doc_id, seed) alone
— re-running the job, on any cluster size, yields the same split. No
`rand()`: nondeterministic sampling breaks resume-from-checkpoint and
makes train/test leakage unauditable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dedup, grams

# 60-bit doc hash → uniform bucket in [0, 10_000)
_BUCKETS = 10_000

# the prefix-sum ops persist their counted frame (tokenizing the corpus
# is the expensive narrow stage; each op reads it 2-3 times) in the
# dedup cache registry, so ``dedup.cache_scope`` owns them too
release_caches = dedup.release_caches


def _hash_expr(seed: str, key: str = "doc_id") -> str:
    """Raw 60-bit md5-prefix hash of (key, seed) — uniform in
    [0, 2^60)."""
    return grams.H60.format(s=f"concat(cast(`{key}` as string), '{seed}')")


def _bucket_expr(seed: str) -> str:
    return f"{_hash_expr(seed)} % {_BUCKETS}"


def split_expr(weights: dict[str, float] | None = None,
               seed: str = "split-v1", bucket_col: str | None = None
               ) -> str:
    """SQL expression assigning the train/val/test label from doc_id
    (each doc's md5 bucket lands in a cumulative-weight interval).
    ``bucket_col`` names a precomputed bucket column; None inlines the
    bucket hash so the expression can ride ANY projection that has
    doc_id — composed programs append the split as a column instead of
    joining a separate split frame (one shuffle saved per use).
    Weights must sum to 1 (validated)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = bucket_col or f"({_bucket_expr(seed)})"
    cases, lo = [], 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        lo += w
        cases.append((int(round(lo * _BUCKETS)), name))
    expr = f"'{items[-1][0]}'"
    for edge, name in reversed(cases):
        expr = f"if({b} < {edge}, '{name}', {expr})"
    return expr


def split_corpus(docs: DataFrame,
                 weights: dict[str, float] | None = None,
                 seed: str = "split-v1") -> DataFrame:
    """Deterministic train/val/test assignment via ``split_expr``.
    Narrow (one projection, no shuffle); the split column then drives
    partitioned writes."""
    return (docs
            .select("doc_id", F.expr(_bucket_expr(seed)).alias("b"))
            .select("doc_id", F.expr(split_expr(weights, seed,
                                                bucket_col="b"))
                    .alias("split")))


def sample_stratified(docs: DataFrame,
                      fractions: dict[str, float],
                      default: float = 0.0) -> DataFrame:
    """Deterministic stratified sampling by ``lang``: keep a doc iff
    its md5 bucket < fraction(lang) * 10000. Unlike ``df.sampleBy``
    the result is a pure function of doc_id — stable across retries,
    resumes, and cluster sizes. Languages not in ``fractions`` use
    ``default``. Narrow; no shuffle."""
    frac = (f"coalesce(map({', '.join(repr(x) for kv in fractions.items() for x in kv)})"
            f"[lang], cast({default} as double))")
    return (docs
            .withColumn("_b", F.expr(_bucket_expr("sample-v1")))
            .filter(F.expr(f"_b < {frac} * {_BUCKETS}"))
            .drop("_b"))


def _prefix_sum(counted: DataFrame, order: list, cols: list[str],
                name: str) -> DataFrame:
    """The two-pass distributed prefix sum of ``n_tok`` over
    ``counted``, whose ``bucket`` column ranges the total ``order``:
    bucket totals — B tiny rows — cumsummed with a window over B rows
    only and broadcast back, plus the running sum in ``order`` within
    a window PARTITIONED by bucket (parallel across buckets). Returns
    ``cols`` and, as ``name``, the tokens of every earlier row."""
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1)
    bases = (counted.groupBy("bucket").agg(F.sum("n_tok").alias("t"))
             .select("bucket",
                     F.coalesce(F.sum("t").over(w_b), F.lit(0))
                     .alias("base")))
    w_i = (Window.partitionBy("bucket").orderBy(*order)
           .rowsBetween(Window.unboundedPreceding, -1))
    return (counted
            .join(F.broadcast(bases), "bucket")
            .select(*cols,
                    (F.col("base")
                     + F.coalesce(F.sum("n_tok").over(w_i), F.lit(0)))
                    .alias(name)))


def pack_chunks(docs: DataFrame, ctx_len: int = 512,
                n_buckets: int = 256) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): lay every doc's
    tokens end-to-end in doc_id order and cut the stream into
    fixed-``ctx_len`` chunks; report per chunk how many docs touch it
    and how many tokens it holds (the tail chunk runs short).

    The global token offset of each doc is a prefix sum over a total
    order — the naive ``Window.orderBy(doc_id)`` collapses to ONE
    partition and dies at corpus scale, so this uses the classic
    two-pass distributed prefix sum instead:

      1. order-preserving range buckets (doc_id div span);
      2. per-bucket token totals — B tiny rows — cumsummed with a
         window over B rows only, then broadcast back;
      3. intra-bucket cumsum via a window PARTITIONED by bucket
         (parallel across buckets), + the bucket's base offset.

    Each doc then contributes rows to chunks floor(off/C) ..
    floor((off+n-1)/C) (empty docs to none), and one groupBy(chunk)
    finishes. Two shuffles + one broadcast, no global sort.
    """
    toks = f"size({grams.tokens()})"
    # persisted: the id-span agg, bucket totals, and the offset join
    # each read this frame — without the cache the tokenizer (the
    # expensive narrow stage) runs three times over the corpus
    counted = dedup.persist(docs.select(
        "doc_id", F.expr(toks).cast("long").alias("n_tok")))

    # 1. range buckets from the doc_id span (one cheap agg; ids need
    # not be dense — buckets only need to preserve order)
    lo, hi = counted.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return counted.sparkSession.createDataFrame(
            [], "chunk_id long, n_docs long, n_tokens long, "
                "first_doc long, last_doc long")
    span = max((hi - lo) // n_buckets + 1, 1)
    counted = counted.withColumn(
        "bucket", ((F.col("doc_id") - lo) / span).cast("long"))

    # 2.-3. bucket base offsets + intra-bucket prefix
    offs = _prefix_sum(counted, ["doc_id"], ["doc_id", "n_tok"], "off")

    c = ctx_len
    spans = offs.filter("n_tok > 0").select(
        "doc_id", "n_tok", "off",
        F.explode(F.expr(
            # `div` (integer division) — `/` is double division in
            # Spark SQL and loses exactness past 2^53 tokens
            f"sequence(off div {c}, "
            f"(off + n_tok - 1) div {c})")).alias("chunk_id"))
    in_chunk = (F.least(F.col("off") + F.col("n_tok"),
                        (F.col("chunk_id") + 1) * c)
                - F.greatest(F.col("off"), F.col("chunk_id") * c))
    return (spans
            .groupBy("chunk_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(in_chunk).alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


def resample_mixture(docs: DataFrame,
                     weights: dict[str, float],
                     source_col: str = "source",
                     default: float = 1.0,
                     seed: str = "mix-v1") -> DataFrame:
    """Deterministic data-mixture resampling: ``weights[source]`` is
    the expected number of copies of each doc from that source in the
    output (the "epochs" column of an LLM mixture table). A weight of
    2.4 emits 2 full copies of every doc plus a 3rd copy of a
    deterministic 40% hash slice; 0.25 keeps a quarter of docs once.

    Output rows carry (doc_id, copy) with copy in [0, n) as the unique
    key, so downstream shuffles/packing treat repeated epochs as
    distinct rows. Narrow (hash + guarded sequence explode) — no
    shuffle, no rand().
    """
    # NaN and infinity would reach the map literal as bare names
    if not all(0 <= w < math.inf for w in (*weights.values(), default)):
        raise ValueError("mixture weights must be finite and >= 0")
    if weights:
        wexpr = (f"coalesce(map({', '.join(repr(x) for kv in weights.items() for x in kv)})"
                 f"[{source_col}], cast({default} as double))")
    else:   # map() has no value type — empty weights mean default-only
        wexpr = f"cast({default} as double)"
    return (docs
            .withColumn("_w", F.expr(wexpr))
            .withColumn("_b", F.expr(_bucket_expr(seed)))
            .withColumn(
                "_n",
                (F.floor("_w")
                 + (F.col("_b")
                    < (F.col("_w") - F.floor("_w")) * _BUCKETS)
                 .cast("long")))
            # sequence(0, -1) runs DESCENDING — guard zero-copy docs
            .withColumn("copy", F.explode(F.expr(
                "if(_n < 1, cast(array() as array<long>), "
                "sequence(0L, _n - 1))")))
            .drop("_w", "_b", "_n"))


def write_shards(df: DataFrame, path: str, n_shards: int,
                 key: str = "doc_id", seed: str = "shard-v1") -> dict:
    """Write a training corpus as ``n_shards`` deterministic shards
    (directories ``shard=K``): shard = md5-bucket(key, seed) mod n —
    balanced by hash uniformity, stable across reruns and cluster
    sizes, so a data loader can address shards by index and a re-run
    overwrites in place (idempotent).

    Repartitions ON THE SHARD VALUE before the partitioned write so
    each shard directory is written by as few tasks as possible (one
    shuffle); returns {"path", "n_shards", "counts": {shard: rows}}.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    # mod the RAW hash: going through the 10k-bucket reduction first
    # skews shards once n_shards stops dividing 10k evenly (and
    # empties most shards past n_shards > 10k)
    out = df.withColumn(
        "shard",
        (F.expr(_hash_expr(seed, key)) % n_shards).cast("int"))
    (out.repartition(n_shards, "shard")
        .write.mode("overwrite").partitionBy("shard").parquet(path))
    spark = df.sparkSession
    counts = {int(r.shard): r["count"] for r in
              spark.read.parquet(path).groupBy("shard").count().collect()}
    return {"path": path, "n_shards": n_shards, "counts": counts}


def select_token_budget(docs: DataFrame, budget: int,
                        score_col: str = "score",
                        n_buckets: int = 256) -> DataFrame:
    """Budgeted subset selection: lay whole documents end-to-end in
    descending ``score_col`` order and keep every doc that fits
    entirely inside the first ``budget`` tokens — the fine-tuning-set
    / data-budget op ("best docs until N tokens"). A doc too large for
    the remaining gap is skipped but later smaller docs that still fit
    are kept (the filter is per-doc, not a prefix stop). Docs with a
    NULL score are excluded — null has no place in a score ordering.

    Needs an exact prefix sum over the (score desc, doc_id) total
    order. Same two-pass distributed scheme as ``pack_chunks``, but the
    range buckets come from driver-side approximate score quantiles
    (the bucketing only shapes parallelism — the prefix sum, and
    therefore the selected set, is exact regardless of boundaries;
    score ties always share a bucket, and the (score desc, doc_id)
    tie-break makes the result total-ordered and rerun-stable).

    Returns (doc_id, score, n_tok, cum_before) for the selected docs.
    """
    toks = f"size({grams.tokens()})"
    # persisted: approxQuantile + the main query both read it. NULL
    # scores have no place in a score ordering and would otherwise
    # land in the TOP bucket (b > score is null for every bound, the
    # filter drops all, size() = 0) — excluded explicitly.
    counted = dedup.persist(docs.select(
        "doc_id", F.col(score_col).cast("double").alias("score"),
        F.expr(toks).cast("long").alias("n_tok"))
        .filter(F.col("score").isNotNull()))

    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(counted.stat.approxQuantile("score", qs, 0.001)),
                    reverse=True)
    if bounds:
        arr = ", ".join(f"cast({b!r} as double)" for b in bounds)
        # bucket 0 = highest scores; equal scores -> equal bucket
        bucket = F.expr(
            f"size(filter(array({arr}), b -> b > score))")
    else:
        bucket = F.lit(0)
    counted = counted.withColumn("bucket", bucket)

    return (_prefix_sum(counted, [F.desc("score"), F.asc("doc_id")],
                        ["doc_id", "score", "n_tok"], "cum_before")
            .filter(F.col("cum_before") + F.col("n_tok")
                    <= F.lit(int(budget))))
