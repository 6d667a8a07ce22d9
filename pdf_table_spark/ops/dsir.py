"""DSIR-style importance-resampling data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — arXiv:2302.03169).

Selects raw-corpus documents that look like a small target corpus by
importance weighting in a hashed n-gram feature space:

  1. features: unigrams + bigrams of the lower/whitespace tokens,
     hashed into ``n_buckets`` buckets (the paper's hashed n-gram
     generative model);
  2. fit: bag-of-buckets multinomials for target (p) and raw (q) with
     add-1 smoothing; per-bucket log ratio  lr[b] = ln p[b] − ln q[b];
  3. score: per raw doc,  logw(x) = Σ_grams lr[bucket(gram)];
  4. select: top-k by logw (the paper's ``top-k`` variant) and/or
     Gumbel-perturbed top-k (the paper's importance *resampling*:
     logw_i + g_i with g_i ~ Gumbel(0,1) draws k docs without
     replacement ∝ softmax(logw)).

Determinism/parity contract (what makes this oracle-exact in both
Spark and DuckDB): the per-bucket log ratio is quantized ONCE to
integer micro-nats  lr_e6[b] = floor(lr[b]·1e6 + 0.5)  and every doc
score is an order-independent BIGINT sum of those — no float
accumulation anywhere, so aggregation order cannot move an ulp. The
Gumbel noise is likewise deterministic (the md5 60-bit doc-hash →
uniform → −ln(−ln(u)), quantized to e6) — retries and reruns select
the identical set. Caveat on cross-engine ``ln``: Spark's is JVM
``Math.log`` while DuckDB/CPython use the platform libm; the e6
quantization absorbs an ulp divergence EXCEPT when the true value
lands exactly on a floor boundary, so the lr_e6/gumbel_e6 bit-parity
is empirical (driver-gate-verified on this box: 0 mismatches in a
20k-point sweep), not guaranteed on every platform. The log ratios
(fit_logratio_e6) sidestep this entirely — they are computed
driver-side in ONE engine (CPython) and shipped as integers to both.

Scale shape (10^12 docs): the fit is one map-side-combinable groupBy
over ≤ ``n_buckets`` keys (a bounded ≤65k-row collect — the same
broadcast-model-to-executors pattern as the IVF centroids and the
.npz model seam); scoring is a NARROW whole-stage-codegen map
(tokenize → hash → integer HOF sum against a constant-folded lookup
array, no Python boundary, no shuffle); selection is a
TakeOrderedAndProject (per-partition top-k, k-row merge — no global
sort). Nothing scales with corpus size except the narrow scan.

Reference scope note: data selection is beyond the pdf_table
reference surface (a PDF-table engine has no training-data tier);
implemented per the brief's LLM-pipeline mandate, following the
published method.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grams

_TWO60 = float(1 << 60)
N_BUCKETS = 512  # default hashed feature space of the fit


def _with_buckets(df: DataFrame, n_buckets: int, hash_fn: str,
                  keep: list[str] | None = None,
                  explode: bool = False) -> DataFrame:
    """``keep`` columns (default all) plus the hashed bucket ids of
    ``text``'s unigrams and bigrams (duplicates kept — counts
    matter): an array ``_bks``, or with ``explode`` one ``bk`` row per
    gram, exploded where it is built (see ``grams.gram_rows``). The
    hash is ``grams.hash_sql``'s non-negative 60-bit form, whose md5
    spelling the DuckDB twin reproduces."""
    keep = keep if keep is not None else df.columns
    h = grams.hash_sql(hash_fn, "g", "pos60")
    bks = F.expr(f"transform(concat(_toks, {grams.windows('_toks', 2)}), "
                 f"g -> {h} % {int(n_buckets)})")
    return (df
            .select(*keep, F.expr(grams.tokens()).alias("_toks"))
            .select(*keep, F.explode(bks).alias("bk") if explode
                    else bks.alias("_bks")))


def bucket_counts(df: DataFrame, n_buckets: int = N_BUCKETS,
                  hash_fn: str = "md5") -> tuple[list[int], int]:
    """(dense per-bucket gram counts, total grams). One explode +
    ≤n_buckets-key groupBy (map-side combinable) + bounded collect."""
    if not 2 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [2, 65536] — the fit "
                         "is a driver-side collect of that many rows")
    rows = (_with_buckets(df, n_buckets, hash_fn, keep=[], explode=True)
            .groupBy("bk").count().collect())
    counts = [0] * n_buckets
    total = 0
    for r in rows:
        counts[r["bk"]] = r["count"]
        total += r["count"]
    return counts, total


def bucket_counts_tagged(docs: DataFrame, target_expr: str
                         ) -> tuple[list[int], int, list[int], int]:
    """Target AND raw per-bucket counts from ONE scan: when both
    sides are predicates over the same table (the common DSIR setup —
    'this source is the target, the rest is raw'), tagging rows with
    the predicate and grouping by (tag, bucket) halves the fit's jobs
    — one scan, one ≤2·n_buckets-key shuffle, one bounded collect
    instead of two of each. Counts are exactly ``bucket_counts`` of
    the two filtered frames. Rows matching neither side are excluded
    by construction (the predicate is boolean, so every row lands in
    target or raw — pre-filter the frame if some rows belong to
    neither). Text column ``text``, ``N_BUCKETS`` buckets, md5."""
    tagged = docs.select(F.expr(target_expr).alias("_tgt"), F.col("text"))
    rows = (_with_buckets(tagged, N_BUCKETS, "md5", keep=["_tgt"],
                          explode=True)
            .groupBy("_tgt", "bk").count().collect())
    t, r = [0] * N_BUCKETS, [0] * N_BUCKETS
    tt = rr = 0
    for row in rows:
        if row["_tgt"]:
            t[row["bk"]] = row["count"]
            tt += row["count"]
        else:
            r[row["bk"]] = row["count"]
            rr += row["count"]
    return t, tt, r, rr


def _logratio_e6(t, tt, r, rr, n_buckets: int) -> list[int]:
    b = float(n_buckets)
    return [
        math.floor((math.log((t[i] + 1.0) / (tt + b))
                    - math.log((r[i] + 1.0) / (rr + b))) * 1e6 + 0.5)
        for i in range(n_buckets)]


def fit_logratio_e6_tagged(docs: DataFrame,
                           target_expr: str) -> list[int]:
    """``fit_logratio_e6`` when target and raw are predicate halves of
    one table: identical integers, one scan/shuffle/collect instead of
    two (see :func:`bucket_counts_tagged`)."""
    t, tt, r, rr = bucket_counts_tagged(docs, target_expr)
    return _logratio_e6(t, tt, r, rr, N_BUCKETS)


def fit_logratio_e6(target: DataFrame, raw: DataFrame,
                    n_buckets: int = N_BUCKETS,
                    hash_fn: str = "md5") -> list[int]:
    """Per-bucket quantized log importance ratio, add-1 smoothed:

      lr_e6[b] = floor((ln((t[b]+1)/(T+B)) − ln((r[b]+1)/(R+B)))·1e6
                       + 0.5)

    computed in driver Python on the EXACT integer counts (the oracle
    recomputes the same formula in SQL; the e6 quantization absorbs a
    last-ulp libm divergence unless the true value straddles a floor
    boundary — empirically zero mismatches on this box, see module
    docstring)."""
    t, tt = bucket_counts(target, n_buckets, hash_fn)
    r, rr = bucket_counts(raw, n_buckets, hash_fn)
    return _logratio_e6(t, tt, r, rr, n_buckets)


def score_e6(docs: DataFrame, lr_e6: list[int],
             hash_fn: str = "md5") -> DataFrame:
    """Adds ``score_e6``: the doc's integer micro-nat log importance
    weight — a whole-stage-codegen HOF sum against a constant-folded
    lookup array (no Python boundary, no shuffle, no floats). Docs
    with zero grams (empty/whitespace text) are dropped: they carry
    no evidence either way and the oracle's gram join excludes them.
    """
    # the lookup array rides as a per-ROW column: expressions inside a
    # HOF lambda are not constant-folded, so an inline array literal
    # would be rebuilt per GRAM (measured 0.9 s → 28 s at sf0.1);
    # per-row it is built once per doc and the lambda just indexes it.
    # The zero-gram filter runs on the raw text column BEFORE any
    # aliasing — a filter on a projected alias would be pushed below
    # the projection and re-evaluate the gram chain per row.
    lut = "array(" + ",".join(f"{int(v)}L" for v in lr_e6) + ")"
    cols = docs.columns
    nonempty = docs.filter(F.expr(f"size({grams.tokens()}) > 0"))
    return (_with_buckets(nonempty, len(lr_e6), hash_fn, keep=cols)
            .select(*cols, F.col("_bks"), F.expr(lut).alias("_lut"))
            .select(*cols, F.expr(
                "aggregate(_bks, 0L, (acc, b) -> "
                "acc + element_at(_lut, cast(b + 1 as int)))")
                .alias("score_e6")))


def score_np(docs: DataFrame, lr_e6: list[int],
             hash_fn: str = "md5") -> DataFrame:
    """Vectorized Arrow twin of :func:`score_e6` for LARGE bucket
    counts: the per-row lookup-array trick tops out around B≈1k
    (CreateArray is evaluated per row — at B=65536 that is a 512 KiB
    allocation per doc), so here the bucket arrays are still computed
    JVM-side (narrow, codegen) and ONE ``mapInArrow`` stage does the
    lookup + segmented integer sum in numpy (cumsum-difference over
    the Arrow list offsets — no per-row Python). Output is the
    compact (doc_id, score_e6) frame; join it back if more columns
    are needed. Exactly equal to score_e6 *under the same hash_fn*
    (parity-tested; both default to 'md5' so swapping scorers on
    defaults is score-preserving — pass 'xxhash64' explicitly for the
    cheaper production hash) — integer sums are order-independent."""
    import pyarrow as pa

    lut_vals = lr_e6  # closure-captured; ~0.5 MiB at B=65536
    nonempty = docs.filter(F.expr(f"size({grams.tokens()}) > 0"))
    bks = _with_buckets(nonempty, len(lr_e6), hash_fn, keep=["doc_id"])

    def score_batches(batches):
        import numpy as np
        lut = np.asarray(lut_vals, dtype=np.int64)
        for batch in batches:
            col = batch.column(1)
            if isinstance(col, pa.ChunkedArray):  # pragma: no cover
                col = col.combine_chunks()
            flat = lut[col.values.to_numpy(zero_copy_only=False)]
            cs = np.concatenate(([0], np.cumsum(flat)))
            offs = col.offsets.to_numpy(zero_copy_only=False)
            scores = cs[offs[1:]] - cs[offs[:-1]]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(scores, pa.int64())],
                names=["doc_id", "score_e6"])

    return bks.mapInArrow(
        score_batches,
        schema=f"doc_id {dict(docs.dtypes)['doc_id']}, score_e6 bigint")


def gumbel_e6_expr(seed: str = "dsir-v1") -> str:
    """Deterministic quantized Gumbel(0,1) draw per doc: the md5
    60-bit hash of (doc_id, seed) → u = (h + 0.5)/2^60 ∈ (0,1) →
    floor(−ln(−ln(u))·1e6 + 0.5). Same-libm/quantized like the log
    ratios, so Spark and DuckDB agree bit-for-bit; reruns and retries
    redraw the identical noise."""
    h = grams.H60.format(s=f"concat(cast(`doc_id` as string), '{seed}')")
    return (f"cast(floor(-ln(-ln(({h} + 0.5d) / {_TWO60!r}d)) * 1e6 "
            f"+ 0.5) as bigint)")


def dsir_select(docs: DataFrame, lr_e6: list[int], k: int,
                hash_fn: str = "md5",
                mode: str = "topk",
                seed: str = "dsir-v1",
                scored: DataFrame | None = None) -> DataFrame:
    """Top-``k`` selection by importance weight. ``mode='topk'``:
    highest logw (the paper's deterministic variant). ``mode=
    'gumbel'``: highest logw + Gumbel noise — a without-replacement
    draw ∝ softmax(logw), the paper's actual resampler — still fully
    deterministic here (hash-derived noise). Ties break on doc_id.

    Returns (doc_id, score_e6, key_e6) where key_e6 is the ranking
    key actually used (== score_e6 for topk). orderBy+limit plans as
    TakeOrderedAndProject — per-partition top-k then a k-row merge,
    no global sort, no single-task window.

    Scorer dispatch: small bucket counts (≤1024) use the pure-SQL
    :func:`score_e6` (whole-stage codegen, zero Python); larger ones
    use the Arrow :func:`score_np` twin — the per-row lookup-array
    trick allocates B int64s PER DOC, which at the assemble default
    B=65536 is 512 KiB/doc and does not scale (a far smaller inline
    array already measured 0.9 s → 28 s at sf0.1). Both scorers are
    bit-equal under the same hash_fn, so the switch is invisible to
    the selection.

    ``scored``: a precomputed (and typically persisted) frame already
    carrying ``score_e6`` — lets a caller running several selection
    modes over the same corpus score it once instead of once per
    mode."""
    if mode not in ("topk", "gumbel"):
        raise ValueError(f"mode must be topk|gumbel, got {mode!r}")
    if scored is None:
        if len(lr_e6) <= 1024:
            scored = score_e6(docs, lr_e6, hash_fn)
        else:
            scored = score_np(docs, lr_e6, hash_fn)
    key = (F.col("score_e6") if mode == "topk"
           else F.col("score_e6") + F.expr(gumbel_e6_expr(seed)))
    return (scored
            .select("doc_id", "score_e6", key.alias("key_e6"))
            .orderBy(F.desc("key_e6"), F.asc("doc_id"))
            .limit(int(k)))
