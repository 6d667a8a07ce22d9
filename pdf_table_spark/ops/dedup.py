"""Deduplication operators over ``documents(doc_id, text)``.

Four tiers, all shuffle-aware:

  exact         md5 hash-groupBy — one shuffle on a 32-byte key; the
                100 TB plan: hash early, never shuffle raw text.
  ngram_jaccard exact n-gram (shingle) Jaccard: a prefix-filtered
                self-join on the 8-byte *shingle hash* proposes
                candidate pairs, and one exact verify (shared with the
                corpus near-dedup) intersects the candidates'
                per-doc shingle-hash arrays.
  minhash_lsh   the scale path: 64-perm MinHash signatures (universal
                hashing over a shared md5-derived 60-bit base hash,
                mod p=2^31-1 so int64 math is overflow-free and
                DuckDB-reproducible), banded 16x4 → candidate pairs
                join on (band, band-hash) — no quadratic blowup.
  simhash       64 32-bit-safe per-bit votes aggregated as plain sums
                (map-side combinable); hamming-close pairs are then a
                cheap band join (not materialized here).

Every op returns stable, alias-named columns so the DuckDB oracle
twins hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grams

P = 2_147_483_647  # 2^31 - 1, Mersenne prime for universal hashing
N_PERM = 64
BANDS = 16
ROWS_PER_BAND = 4
SHINGLE_K = 3

# deterministic per-permutation constants (seeded LCG, stated inline so
# the oracle SQL can embed the identical values)


def _perm_consts(n: int = N_PERM):
    a, consts = 1_103_515_245, []
    x = 42
    for _ in range(n):
        x = (a * x + 12_345) % P
        a_i = x or 1
        x = (a * x + 12_345) % P
        b_i = x
        consts.append((a_i, b_i))
    return consts


PERM_CONSTS = _perm_consts()

# intermediates persisted by ops in this module; long-lived drivers
# calling dedup repeatedly should release them between corpora —
# either explicitly via release_caches() or (preferred) by running
# each corpus inside ``with cache_scope():``
_PERSISTED: list = []


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it here, so ``release_caches()`` or
    the enclosing ``cache_scope`` releases it. Every persisted
    intermediate of the corpus operators goes through this."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every intermediate this module cached; returns how
    many were released. Kept for compat — new code should prefer the
    scoped form, :func:`cache_scope`."""
    n = len(_PERSISTED)
    for df in _PERSISTED:
        # blocking: the guarantee is "memory is free when this
        # returns" — async unpersist leaves blocks pinned for an
        # unbounded beat, defeating the loop-over-corpora contract
        df.unpersist(blocking=True)
    _PERSISTED.clear()
    return n


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint()``ed frame now, not
    at the JVM's next garbage collection (``release_caches`` and
    ``cache_scope`` do not reach them). Only for a frame nothing reads
    again: its lineage is cut, so it cannot be recomputed."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


class cache_scope:
    """Context manager that owns every intermediate this module
    persists while it is active and unpersists them on exit — so a
    long-lived driver looping over corpora cannot leak executor
    memory by forgetting ``release_caches()``::

        with dedup.cache_scope():
            result = dedup.dedup_corpus(docs)
            result.write.parquet(out)      # materialize INSIDE

    Materialize (write/collect) inside the scope: the cached
    intermediates back the returned DataFrames' plans, so actions
    after exit recompute from source. Scopes nest — an inner scope
    releases only what was persisted inside it; intermediates cached
    before entry are left alone. Exposes ``released`` (count) after
    exit for diagnostics."""

    def __init__(self):
        self.released = 0
        self._mark = None

    def __enter__(self):
        self._mark = len(_PERSISTED)
        return self

    def __exit__(self, exc_type, exc, tb):
        tail = _PERSISTED[self._mark:]
        del _PERSISTED[self._mark:]
        for df in tail:
            df.unpersist(blocking=True)
        self.released = len(tail)
        return False

# the 60-bit md5 prefix the DuckDB twins reproduce (``grams.H60``)
H60_SPARK = grams.H60


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, keeper, n_dups).
    Only groups with >1 member are duplicates; keeper = min doc_id."""
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def shingle_hash_rows(docs: DataFrame,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, sh) with sh = hash(shingle), one row per distinct
    shingle of each doc: the split/lower runs once per doc and
    downstream shuffles move 8-byte hashes instead of shingle strings.
    64-bit collisions are ~1e-8 at 1M shingles — negligible vs the
    exactness the oracle checks.

    ``hash_fn``: 'xxhash64' (default, fastest — the production path)
    or 'md5' (the 60-bit md5-prefix hash DuckDB can reproduce
    bit-for-bit — the oracle-comparability contract, same pattern as
    ``ops.text.winnow_fingerprint_rows``)."""
    return grams.gram_rows(grams.tokenized(docs), "tk", SHINGLE_K,
                           hash_fn, whole_doc=True, distinct=True,
                           out="sh")


def shingle_hash_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shs: array<bigint>) — the pre-explode form of
    ``shingle_hash_rows`` (distinct xxhash64 shingle hashes per doc),
    for operators that want per-doc array math before any shuffle."""
    shs = grams.windows("tk", SHINGLE_K, whole_doc=True,
                        fn=grams.hash_sql("xxhash64"))
    return (grams.tokenized(docs)
            .select("doc_id", F.expr(f"array_distinct({shs})")
                    .alias("shs")))


def _df_cap(sh: DataFrame, max_df: int, keep,
            hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, sh) rows minus every shingle in more than ``max_df``
    docs — the one df cap of both near-dup operators. A shingle in k
    docs contributes k² rows to any self-join, and ubiquitous
    boilerplate carries no dedup signal.

    Inverted on purpose: ubiquitous shingles are FEW by nature, so the
    dropped set is kept (``keep(df, name)``, the caller's persist or
    write step), counted, and broadcast-anti-joined instead of
    inner-joining the (corpus-sized) keep list — at 50M docs the keep
    join shuffled two ~1.3B-row sides. An adversarial corpus where the
    dropped set itself is huge falls back to the keyed anti-join
    (correct at any size, just slower)."""
    dropped = keep(sh.groupBy("sh").agg(F.count("*").alias("df"))
                   .filter(F.col("df") > max_df).select("sh"),
                   "dropped_sh")
    n_dropped = dropped.count()
    if n_dropped == 0:
        return sh
    if n_dropped <= (5_000_000 if hash_fn == "xxhash64" else 1_000_000):
        dropped = F.broadcast(dropped)
    return sh.join(dropped, "sh", "left_anti")


def _candidate_docs(cand: DataFrame) -> DataFrame:
    """(doc_id) of every doc in a (doc_a, doc_b) candidate-pair frame."""
    return (cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct())


def _exact_jaccard(cand: DataFrame, arrs: DataFrame,
                   threshold: float) -> DataFrame:
    """The one exact-Jaccard verify: (doc_a, doc_b, jaccard >= t) for
    the candidate pairs that share at least one shingle.

    ``arrs`` is (doc_id, shs), each doc's distinct shingle hashes,
    restricted to the candidate docs (``_candidate_docs``) — so both
    array joins and the per-pair ``array_intersect`` stay linear in
    the candidates, never in the corpus, and no shingle row is
    shuffled. Zero-overlap candidates (an LSH bucket collision of
    disjoint docs) are dropped whatever the threshold."""
    return (
        cand
        .join(arrs.select(F.col("doc_id").alias("doc_a"),
                          F.col("shs").alias("shs_a")), "doc_a")
        .join(arrs.select(F.col("doc_id").alias("doc_b"),
                          F.col("shs").alias("shs_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.expr("size(array_intersect(shs_a, shs_b))")
            .alias("n_inter"),
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"))
        .filter(F.col("n_inter") > 0)
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        cache: bool = True,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard-similar pairs (doc_a < doc_b, jaccard >= t).

    EXACT — but no longer the all-pairs quadratic plan. Candidates
    come from PREFIX FILTERING (Chaudhuri et al. SSJoin ICDE'06 /
    Xiao et al. PPJoin WWW'08): under one global shingle order
    (ascending document frequency, rarest first), a doc's prefix is
    its first ``n - ceil(t*n) + 1`` shingles, and any pair with
    J >= t MUST collide inside both prefixes — if |y| >= t*|x| then
    |A∩B| >= ceil(t*|x|), and a pair missing x's prefix shares at
    most ceil(t*|x|) - 1 shingles (pairs with |y| < t*|x| can't reach
    t at all). So the self-join runs on the short rare-shingle
    prefixes instead of every shared shingle — a shingle shared by k
    docs no longer contributes k² join rows unless it lands in k
    prefixes, which df-ascending ordering makes rare. The exact
    verify is ``dedup_corpus``'s (``_exact_jaccard``): it touches only
    the candidate docs' shingle arrays (linear in candidates).

    ``cache`` persists the per-doc array table (feeds the df agg, the
    prefix build, and the verify) and the candidate pairs (referenced
    by both sides of the verify). At 100 TB persist both to temp
    tables on disk instead (the array table is ~corpus row count).

    ``max_df`` pre-drops shingles appearing in more than max_df docs
    BEFORE everything (None = exact, the oracle-checked default;
    with a cap, jaccard is computed over surviving shingles on both
    the intersection AND size sides, the standard approximation) —
    the same cap ``dedup_corpus`` applies (``_df_cap``).
    """
    from pyspark.sql.window import Window

    def keep(df: DataFrame, _name: str) -> DataFrame:
        return persist(df) if cache else df

    arrs = shingle_hash_arrays(docs)
    if max_df is not None:
        arrs = (_df_cap(arrs.select("doc_id", F.explode("shs").alias("sh")),
                        max_df, keep)
                .groupBy("doc_id").agg(F.collect_list("sh").alias("shs")))
    arrs = keep(arrs, "arrs")

    # global total order: FULL df-ascending, (df, sh) — the textbook
    # PPJoin choice. Rarest shingles fill prefixes first, so a
    # boilerplate shingle shared by k docs only lands in a prefix
    # when a doc has nothing rarer to offer — the k² collision the
    # prefix lemma is there to avoid stays rare even on corpora where
    # almost every shingle repeats. (An earlier two-level order —
    # binary unique-vs-repeated flag, hash asc within — degenerated
    # to plain hash order exactly there, while paying two extra
    # shuffles and a per-doc interpreted struct-sort to build the
    # flag arrays; the window formulation below replaces all of that
    # with one codegen'd sort in the doc_id exchange. Any global
    # total order preserves the lemma, and the exact verify makes the
    # candidate set's composition invisible in the output.)
    sh = arrs.select("doc_id", F.size("shs").alias("n_sh"),
                     F.explode("shs").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    # ceil over a float product may round UP on noise, which would
    # SHORTEN the prefix and lose exactness — the epsilon can only
    # lengthen it (extra candidates are harmless).
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    pref = (
        sh.join(dfreq, "sh")
        .withColumn("pos", (F.row_number().over(w) - 1).cast("int"))
        .filter(F.col("pos") < F.greatest(
            (F.col("n_sh")
             - F.ceil(threshold * F.col("n_sh") - 1e-9) + 1)
            .cast("int"), F.lit(0)))
        .select("doc_id", "n_sh", "pos", "sh"))

    # two more EXACT cuts on the collision join (PPJoin §3):
    #  - length filter: J >= t forces t*|x| <= |y| <= |x|/t;
    #  - positional filter: all common shingles sort at-or-after this
    #    collision (true for the pair's FIRST common shingle, which
    #    the prefix lemma guarantees lands in both prefixes), so the
    #    overlap is capped by 1 + min(remaining suffix lengths) and
    #    must still reach ceil(t/(1+t)*(|x|+|y|)).
    t_req = threshold / (1.0 + threshold)
    cand = (
        pref.alias("a").join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh") - 1e-9)
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh") - 1e-9)
            & (1 + F.least(F.col("a.n_sh") - F.col("a.pos") - 1,
                           F.col("b.n_sh") - F.col("b.pos") - 1)
               >= F.ceil(F.lit(t_req)
                         * (F.col("a.n_sh") + F.col("b.n_sh"))
                         - F.lit(1e-9))))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct())
    # the verify references cand three times (the candidate-doc
    # projections + both array joins); unpersisted, each reference
    # re-ran the whole prefix self-join — measured 3/4 of the query
    # wall. The pair set is tiny by construction (prefix-filtered).
    cand = keep(cand, "cand")
    return _exact_jaccard(
        cand, arrs.join(_candidate_docs(cand), "doc_id"), threshold)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """64-perm MinHash signature per doc: sig_i = min over shingles of
    (a_i * h60(shingle) % P + b_i) % P — the signature table over the
    md5-prefix shingle hashes, which DuckDB reproduces bit for bit."""
    return minhash_signatures_from_hashes(
        shingle_hash_rows(docs, hash_fn="md5"))


def minhash_lsh_pairs(docs: DataFrame,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: band signature = md5 over 4 consecutive sig
    values; pairs sharing any (band_idx, band_hash) bucket. Output
    distinct (doc_a, doc_b). The 100 TB plan: the band join groups only
    colliding docs — no cross join ever materializes.

    ``max_bucket`` caps bucket cardinality before the pair join: a
    bucket of k docs emits k(k-1)/2 pairs, so one boilerplate cluster
    of 10^6 near-identical docs would emit 5*10^11 rows. Buckets above
    the cap are dropped whole (their members still pair through their
    OTHER 15 bands unless they are pathological duplicates — which an
    exact-dedup pass upstream should have removed). None = exhaustive
    (the oracle-checked default)."""
    return _lsh_pairs_from_signatures(minhash_signatures(docs), max_bucket)


def minhash_signatures_from_hashes(sh: DataFrame) -> DataFrame:
    """64-perm MinHash signatures from an existing (doc_id, sh) hash
    table (``shingle_hash_rows`` output) — lets a pipeline compute the
    shingle table ONCE and feed both the signature and the
    exact-verification passes. xxhash64 values are pmod'ed into [0, P)
    before the universal-hash perms."""
    h = sh.select("doc_id", F.pmod(F.col("sh"), F.lit(P)).alias("h"))
    # one parsed SQL string per agg: the Column-arithmetic form built
    # each of the 64 perms from ~5 py4j round trips (≈0.4 s of pure
    # driver chatter per query BUILD — measured, plan identical)
    aggs = [
        F.expr(f"min(({a}L * h % {P} + {b}L) % {P}) as s{i}")
        for i, (a, b) in enumerate(PERM_CONSTS)
    ]
    return h.groupBy("doc_id").agg(*aggs)


def band_table(sig: DataFrame, band_hash: str = "md5") -> DataFrame:
    """(doc_id, band, bh) rows from a signature table — one row per
    (doc, band), bucket key = hash of the band's 4-signature slice.

    ``band_hash``: the bucket key is internal (any injective-enough
    hash of the band's signature slice yields the same buckets), so
    production uses 8-byte xxhash64 keys — the band table is
    n_docs x BANDS rows, and 32-char md5 strings sextuple its shuffle
    width. 'md5' is kept as the DuckDB-replicable oracle contract.
    Any other value raises ``ValueError``. Shared by the batch pair
    join below and the streaming incremental index
    (``streaming.neardup``)."""
    def key(b: int) -> str:
        cols = ", ".join(f"s{b * ROWS_PER_BAND + j}"
                         for j in range(ROWS_PER_BAND))
        return grams.hash_sql(band_hash, f"concat_ws(',', {cols})", "hex")

    band_structs = ", ".join(f"struct({b} as band, {key(b)} as bh)"
                             for b in range(BANDS))
    return sig.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"),
             F.col("b.bh").alias("bh"))


def _lsh_pairs_from_signatures(sig: DataFrame,
                               max_bucket: int | None,
                               band_hash: str = "md5") -> DataFrame:
    """Band-join candidate pairs from a signature table (the
    minhash_lsh_pairs core, reusable against a persisted sig)."""
    bands = band_table(sig, band_hash)
    if max_bucket is not None:
        ok = (bands.groupBy("band", "bh")
              .agg(F.count("*").alias("n"))
              .filter(F.col("n") <= max_bucket)
              .select("band", "bh"))
        bands = bands.join(ok, ["band", "bh"])
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bh") == F.col("y.bh"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_corpus(docs: DataFrame, threshold: float = 0.8,
                 max_df: int = 10_000,
                 max_bucket: int = 10_000,
                 hash_fn: str = "xxhash64",
                 materialize_dir: str | None = None) -> dict:
    """Corpus-facing near-dedup — the production entry point with every
    scale guard DEFAULTED ON (the oracle-exact ops above keep their
    uncapped semantics for the correctness gate):

      1. shingle-hash table computed ONCE and df-capped (``_df_cap``):
         ubiquitous boilerplate (df > max_df) is dropped up front — it
         carries no dedup signal and is THE quadratic blowup at corpus
         scale;
      2. MinHash signatures from the capped table (one pass), kept and
         shared by the band join;
      3. LSH band join with max_bucket capping (pathological clusters
         can't emit k²/2 pairs);
      4. candidates verified by EXACT Jaccard (``_exact_jaccard``) over
         the capped shingle arrays of the candidate docs only — never
         all-pairs, never the corpus-sized table;
      5. survivors = docs minus the larger id of every verified pair.

    Returns {"pairs": verified pairs with jaccard, "keep": surviving
    doc_ids}. Call ``release_caches()`` when done.

    ``hash_fn='md5'`` switches the shingle hash to the DuckDB-
    replicable 60-bit md5 prefix so the whole capped pipeline can be
    oracle-checked; production keeps the faster xxhash64.

    Every intermediate (dropped shingles, signatures, candidates,
    verified pairs) goes through one keep step: ``persist`` by
    default; with ``materialize_dir``, parquet in that workdir
    (skipped on rerun if its _SUCCESS marker exists) read back, so
    lineage restarts at each file and Spark can GC the upstream
    shuffles instead of pinning the whole pipeline's working set on
    local disk — what the 50M single-node run needs. The small
    candidate-doc arrays are persisted in both modes. Outputs are
    identical; callers may delete the dir afterwards (keeping it makes
    reruns resume)."""
    spark = docs.sparkSession

    def keep(df: DataFrame, name: str) -> DataFrame:
        if materialize_dir is None:
            return persist(df)
        p = os.path.join(materialize_dir, name)
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    sh = _df_cap(shingle_hash_rows(docs, hash_fn=hash_fn), max_df, keep,
                 hash_fn)
    if materialize_dir is None:
        # the one mode difference: the capped shingle table (~28
        # rows/doc, the largest frame here) is cached for its two
        # consumers below; the disk-bound mode instead recomputes it
        # as one narrow scan per consumer, because caching the
        # corpus-sized table on local disk is what that mode avoids
        sh = persist(sh)
    sig = keep(minhash_signatures_from_hashes(sh), "sig")
    cand = keep(_lsh_pairs_from_signatures(sig, max_bucket,
                                           band_hash=hash_fn), "cand")
    # the verify only ever needs the CANDIDATE docs' shingles: the
    # semi-join (AQE broadcasts the id set once the band join reveals
    # it is small) keeps the array build proportional to |candidates|
    # — at 50M docs an unrestricted verify shuffled the full 10^8-row
    # shingle table twice
    arrs = persist(sh.join(_candidate_docs(cand), "doc_id", "semi")
                   .groupBy("doc_id")
                   .agg(F.collect_list("sh").alias("shs")))
    pairs = keep(_exact_jaccard(cand, arrs, threshold), "pairs")
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return {"pairs": pairs,
            "keep": docs.join(dropped, "doc_id", "left_anti")
            .select("doc_id")}


def join_candidate_mass(sh: DataFrame):
    """Diagnostic: Σ k·(k-1)/2 over shingle-hash groups — the exact row
    count a shingle self-join would emit. The scale test asserts the
    df cap collapses this from O(n_docs²) to near-linear."""
    return (sh.groupBy("sh").agg(F.count("*").alias("k"))
            .select(F.sum(F.expr("k * (k - 1) / 2")).alias("mass"))
            .collect()[0]["mass"])


SIMHASH_BITS = 60  # the width of grams.H60, the token hash


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash over distinct tokens: bit b set iff
    sum(+1 if bit b of h60(token) else -1) > 0. Returns the fingerprint
    as a bigint. All built-in expressions: explode → 60 conditional
    sums → bit assembly."""
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({grams.tokens()})"))
        .alias("tok"))
    h = toks.select(
        "doc_id", F.expr(grams.hash_sql("md5", "tok")).alias("h"))
    votes = [
        F.expr(f"sum(if((h div {1 << b}) % 2 = 1, 1, -1)) as v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    bit_terms = " + ".join(
        f"if(v{b} > 0, cast({1 << b} as bigint), 0L)"
        for b in range(SIMHASH_BITS))
    return agg.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_pairs_from_fingerprints(sig: DataFrame, max_hamming: int = 3,
                                    max_bucket: int | None = None
                                    ) -> DataFrame:
    """Hamming-close pairs from a (doc_id, simhash) fingerprint table.

    Banding with the pigeonhole guarantee: the SIMHASH_BITS fingerprint is
    split into (max_hamming + 1) bit bands; two fingerprints within
    hamming distance max_hamming differ in at most max_hamming bands,
    so they share AT LEAST ONE band verbatim — the band equi-join
    finds every qualifying pair (no recall loss), and the exact
    ``bit_count(a ^ b)`` verification then filters the collisions.
    The 100 TB plan: only same-band-value docs ever join (like the
    MinHash band join — no cross join), verification runs on candidate
    pairs only, and ``max_bucket`` drops degenerate buckets (one
    all-zeros fingerprint cluster of 10^6 docs would otherwise emit
    5*10^11 pairs) — capped buckets still pair through their other
    bands unless the docs are pathological duplicates that exact-dedup
    should have removed upstream.
    """
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    band_cols = []
    for bidx in range(n_bands):
        shift = bidx * width
        w = (SIMHASH_BITS - shift) if bidx == n_bands - 1 else width
        band_cols.append(F.struct(
            F.lit(bidx).alias("band"),
            F.expr(f"(simhash div {1 << shift}) % {1 << w}").alias("bv")))
    bands = (
        sig.select("doc_id", "simhash",
                   F.explode(F.array(*band_cols)).alias("b"))
        .select("doc_id", "simhash",
                F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    )
    if max_bucket is not None:
        ok = (bands.groupBy("band", "bv")
              .agg(F.count("*").alias("n"))
              .filter(F.col("n") <= max_bucket)
              .select("band", "bv"))
        bands = bands.join(ok, ["band", "bv"])
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bv") == F.col("y.bv"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup candidate pairs end-to-end: fingerprint →
    banded hamming join → exact verify, exhaustive for the given
    max_hamming (the oracle-checked contract; a production run with
    degenerate buckets caps them through
    ``simhash_pairs_from_fingerprints(max_bucket=...)``)."""
    return simhash_pairs_from_fingerprints(simhash(docs), max_hamming)


def exact_substring_dedup(docs: DataFrame, n: int = 50,
                          hash_fn: str = "md5") -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" §4.1): any ``n``-token span
    occurring more than once in the corpus keeps its canonical
    occurrence (smallest (doc_id, start)) and is CUT from every other
    — token-granular, cross- and intra-document.

    The paper builds a corpus suffix array; the Spark-native shape is
    the ``c4_span_dedup`` pattern at token granularity: every sliding
    n-token window hashed → one groupBy picks duplicated hashes + the
    canonical occurrence → non-canonical occurrences explode to their
    covered token indexes (the distinct absorbs overlapping-window
    interval merging) → anti-join tokens. Three keyed shuffles on
    uniform hash/doc keys, never all-pairs — linear at any corpus
    size.

    Operates on the normalized token stream (lowercased, whitespace-
    split) like every other gram op here; ``clean_text`` is the kept
    tokens re-joined single-spaced. Returns
    (doc_id, n_tokens, n_removed, clean_text).

    ``hash_fn``: 'md5' (DuckDB-replicable — the oracle contract) or
    'xxhash64' (bigint keys, the production default elsewhere).

    Scale bound: the final cut application is ONE JVM projection that
    splits each doc's token array at its sorted cut indexes and
    rejoins the gap slices — O(n_tokens + |cut|) per doc, no Python
    boundary. (An earlier SQL formulation probed ``array_contains(
    cut, i)`` per token — a linear scan per probe, O(n_tokens x
    |cut|): a heavily-duplicated 100k-token doc was ~1e10 comparisons
    inside ONE task; the gap-slice sweep is bounded on exactly that
    pathological fixture — see tests/test_ops.py.) The window build
    is one slice per window, exploded where it is built
    (``grams.gram_rows``): O(n x n_tokens) per doc. The distributed
    spans/groupBy stages are corpus-linear and proved at 50M docs /
    895M tokens (BASELINE.md).
    """
    tk = grams.tokenized(docs)
    spans = grams.gram_rows(tk, "tk", n, hash_fn, form="hex", start=True,
                            out="h")
    noncanon = (
        spans.groupBy("h").agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "start")).alias("canon"))
        .filter(F.col("cnt") > 1)
        .join(spans, "h")
        .filter((F.col("doc_id") != F.col("canon.doc_id"))
                | (F.col("start") != F.col("canon.start"))))
    # per-doc cut-index set (small: only docs holding a non-canonical
    # copy), then one JVM pass filters each doc's token array in place
    # — no corpus-sized token explode / anti-join / re-sort
    cuts = (
        noncanon.select(
            "doc_id", F.explode(F.expr(
                f"sequence(start, start + {n - 1})")).alias("idx"))
        .distinct()
        .groupBy("doc_id").agg(F.collect_set("idx").alias("cut")))
    # Cut application: ONE JVM projection over the left join — no
    # Python boundary, no cut/uncut branch union. The sorted cut
    # index array splits the token array into |cut|+1 gap slices
    # whose lengths sum to n_tokens − |cut|; flatten + concat_ws
    # rebuilds the kept text in O(n_tokens + |cut|) per doc — the
    # same linear bound as the previous Arrow mask sweep (pinned on
    # the 100k-token pathological fixture in tests/test_ops.py), but
    # without Arrow-serializing every cut doc's tokens out to a
    # Python worker and unioning two branch subplans (the round-5
    # shape cost a MapInArrow stage + branch union per run; at the
    # bench scale that was ~0.8 s of pure boundary overhead for a
    # handful of cut docs). Docs with no cut take the same expression
    # with an empty cut set — one full-array slice.
    gaps = (
        "transform(sequence(1, size(cs) + 1), j -> "
        "slice(tk, "
        "if(j = 1, 1, element_at(cs, j - 1) + 2), "
        "greatest(if(j = size(cs) + 1, size(tk), element_at(cs, j)) "
        "- if(j = 1, 0, element_at(cs, j - 1) + 1), 0)))"
    )
    return (
        tk.join(cuts, "doc_id", "left")
        .select("doc_id", "tk", F.expr(
            "array_sort(coalesce(cut, cast(array() as array<int>)))"
        ).alias("cs"))
        .select(
            "doc_id",
            F.size("tk").cast("int").alias("n_tokens"),
            F.size("cs").cast("int").alias("n_removed"),
            F.expr(f"concat_ws(' ', flatten({gaps}))")
            .alias("clean_text")))


# ---------------------------------------------------------------------------
# Transitive closure: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def _sym_edges(e: DataFrame) -> DataFrame:
    """Both orientations of an undirected edge list (u, v)."""
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node links its strictly-larger
    neighbours to the minimum of its closed neighbourhood."""
    nb = _sym_edges(e)
    mins = (nb.groupBy("u").agg(F.min("v").alias("mn"))
            .withColumn("mn", F.least("mn", "u")))
    return (nb.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller-or-equal
    neighbours (and itself) to the minimum of that set."""
    o = (e.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
         .filter(F.col("u") != F.col("v")))
    mins = o.groupBy("u").agg(F.min("v").alias("mn"))
    return (o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mins.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b", max_iter: int = 30) -> DataFrame:
    """Connected components over an undirected pair list via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — O(log n) rounds
    even on pathological chains, each round two keyed shuffles, never
    an all-pairs product. This is the transitive-closure step a
    corpus-scale near-dedup needs: pairwise drop rules split chains
    A~B~C into arbitrary keep sets; components give one canonical doc
    per duplicate CLUSTER.

    Returns (doc_id, component) for every node that appears in a pair,
    where component = the minimum doc_id reachable from it (roots map
    to themselves). Nodes in no pair are absent — the caller treats
    them as their own singleton component.

    Each iteration localCheckpoints the shrinking edge list (lineage
    would otherwise grow by four joins per round) and releases the
    round before it, so only the final round stays persisted.
    Convergence is detected by an order-free multiset signature
    (count + sum + xor of xxhash64(u,v)): a 2^-64 collision risk,
    traded against re-scanning the edge set with exceptAll every round
    at 10^12-doc scale.
    """
    # any orderable id type works — the star steps only need
    # least/greatest/min over the ids (bigint corpora AND string ids)
    e = (pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
         .filter(F.col("u") != F.col("v")).distinct()
         .localCheckpoint())
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        done, e = e, _small_star(_large_star(e)).localCheckpoint()
        # the eager checkpoint above cut e's lineage, so the previous
        # round's blocks back nothing
        release_checkpoint(done)
        sig = tuple(e.agg(
            F.count("*"),
            # decimal(38,0) sums: overflow-free under ANSI mode at any
            # edge count that fits a cluster
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.sum(F.xxhash64("v", "u").cast("decimal(38,0)"))).first())
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # a partial star forest maps docs to the WRONG component, and
        # every caller would then keep/drop the wrong docs silently;
        # max_iter=30 covers graphs far beyond 2^30 nodes (O(log n)
        # rounds), so exhaustion means something is genuinely wrong
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; raise max_iter")
    # converged star forest: (u -> root) plus the roots themselves
    return (e.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("component"))
            .union(e.select(F.col("v").alias("doc_id"),
                            F.col("v").alias("component")))
            .distinct())


def dedup_corpus_clusters(docs: DataFrame, threshold: float = 0.8,
                          max_df: int = 10_000, max_bucket: int = 10_000,
                          hash_fn: str = "xxhash64",
                          materialize_dir: str | None = None) -> dict:
    """dedup_corpus + transitive closure: the cluster-aware keep rule.

    Runs the capped near-dedup pipeline (see ``dedup_corpus``,
    including its ``materialize_dir`` disk-bounding mode), then
    connected components over the VERIFIED pairs, keeping exactly one
    doc (the minimum doc_id) per duplicate cluster. Docs in no cluster
    keep themselves. Returns {"pairs", "components", "keep"}.
    """
    out = dedup_corpus(docs, threshold, max_df, max_bucket, hash_fn,
                       materialize_dir=materialize_dir)
    comp = connected_components(out["pairs"])
    dropped = (comp.filter(F.col("doc_id") != F.col("component"))
               .select("doc_id"))
    keep = docs.join(dropped, "doc_id", "left_anti").select("doc_id")
    return {"pairs": out["pairs"], "components": comp, "keep": keep}
