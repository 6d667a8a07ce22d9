"""Scale guards of the corpus-facing dedup entry point: the df cap
must collapse the boilerplate-shingle join blowup, and the pipeline
must still find real near-duplicates from ONE shingle-table pass."""

import pytest
from pyspark.sql import functions as F

BOILER = ("this document is confidential and may not be distributed "
          "without prior written permission of the issuing department")


@pytest.fixture(scope="module")
def boiler_docs(spark):
    """200 docs sharing a boilerplate footer; 10 near-dup pairs planted
    (same body, one token changed)."""
    rows = []
    for i in range(200):
        body = " ".join(f"tok{i}x{j}" for j in range(30))
        rows.append((i, f"{body} {BOILER}"))
        if i < 10:  # near-dup: body differs by one token
            dup = body.replace(f"tok{i}x7", "CHANGED")
            rows.append((1000 + i, f"{dup} {BOILER}"))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_df_cap_collapses_boilerplate_blowup(boiler_docs):
    from pdf_table_spark.ops.dedup import (
        join_candidate_mass, shingle_hash_rows)
    sh = shingle_hash_rows(boiler_docs)
    uncapped = join_candidate_mass(sh)
    n_docs = boiler_docs.count()
    # every doc shares the boilerplate shingles → quadratic mass
    assert uncapped > n_docs * (n_docs - 1) / 2

    keep = (sh.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= 50).select("sh"))
    capped = join_candidate_mass(sh.join(keep, "sh"))
    # capped mass is the planted near-dup overlap only: ~30 shingles
    # per pair * 10 pairs — thousands of times smaller
    assert capped < uncapped / 100
    assert capped < 50 * n_docs


def test_dedup_corpus_finds_planted_dups_once(boiler_docs):
    from pdf_table_spark.ops.dedup import dedup_corpus, release_caches
    try:
        out = dedup_corpus(boiler_docs, threshold=0.5, max_df=50,
                           max_bucket=100)
        pairs = {(r.doc_a, r.doc_b) for r in out["pairs"].collect()}
        # all 10 planted pairs found despite the df cap stripping the
        # shared boilerplate
        for i in range(10):
            assert (i, 1000 + i) in pairs, (i, sorted(pairs)[:5])
        keep_ids = {r.doc_id for r in out["keep"].collect()}
        assert all(1000 + i not in keep_ids for i in range(10))
        assert all(i in keep_ids for i in range(200))
    finally:
        assert release_caches() >= 2  # shingles + signatures were cached


def test_hash_fn_paths_agree(boiler_docs):
    """hash_fn='xxhash64' (8-byte shingle AND band keys — production)
    and hash_fn='md5' (oracle contract) verify the same pairs at the
    same jaccard: band keys are internal bucket labels, and the
    candidate-doc shingle restriction never drops a verified pair."""
    from pdf_table_spark.ops import dedup

    a = dedup.dedup_corpus(boiler_docs, threshold=0.5, max_df=20,
                           max_bucket=50, hash_fn="md5")
    b = dedup.dedup_corpus(boiler_docs, threshold=0.5, max_df=20,
                           max_bucket=50, hash_fn="xxhash64")
    pa = {(r.doc_a, r.doc_b, r.jaccard) for r in a["pairs"].collect()}
    pb = {(r.doc_a, r.doc_b, r.jaccard) for r in b["pairs"].collect()}
    assert pa == pb and len(pa) > 0
    assert {r.doc_id for r in a["keep"].collect()} == \
        {r.doc_id for r in b["keep"].collect()}
    dedup.release_caches()


def test_band_table_rejects_unknown_band_hash(spark):
    """The band key goes through the one hash switch: a value other
    than 'md5' or 'xxhash64' raises instead of silently bucketing by
    md5."""
    from pdf_table_spark.ops import dedup

    sig = dedup.minhash_signatures(spark.createDataFrame(
        [(1, "a b c d")], "doc_id int, text string"))
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.band_table(sig, band_hash="sha1")


def test_materialize_dir_matches_persisted(boiler_docs, tmp_path):
    """materialize_dir (parquet stage boundaries, no persisted shingle
    table) returns the identical pairs/keep sets as the cached
    pipeline, and a rerun resumes from the _SUCCESS markers."""
    from pdf_table_spark.ops import dedup

    kw = dict(threshold=0.5, max_df=20, max_bucket=50,
              hash_fn="xxhash64")
    a = dedup.dedup_corpus(boiler_docs, **kw)
    pa = {(r.doc_a, r.doc_b, r.jaccard) for r in a["pairs"].collect()}
    ka = {r.doc_id for r in a["keep"].collect()}
    dedup.release_caches()

    wd = str(tmp_path / "nd")
    b = dedup.dedup_corpus(boiler_docs, materialize_dir=wd, **kw)
    assert {(r.doc_a, r.doc_b, r.jaccard)
            for r in b["pairs"].collect()} == pa
    assert {r.doc_id for r in b["keep"].collect()} == ka
    import os
    for name in ("dropped_sh", "sig", "cand", "pairs"):
        assert os.path.exists(os.path.join(wd, name, "_SUCCESS"))
    dedup.release_caches()

    c = dedup.dedup_corpus(boiler_docs, materialize_dir=wd, **kw)
    assert {r.doc_id for r in c["keep"].collect()} == ka
    dedup.release_caches()


def test_verified_jaccard_matches_ngram_jaccard(spark, boiler_docs,
                                               tmp_path):
    """Both dedup_corpus modes verify with the same exact Jaccard as
    ngram_jaccard_pairs under the same df cap — including threshold 0,
    where an LSH candidate sharing no shingle must not be emitted."""
    from pdf_table_spark.ops import dedup

    # one-token docs whose xxhash64 shingle hashes differ but agree
    # mod P: identical MinHash signatures (an LSH candidate in every
    # band) with zero shingle overlap
    zero = spark.createDataFrame([(5000, "z11575"), (5001, "z35784")],
                                 boiler_docs.schema)
    zsh = dedup.shingle_hash_rows(zero)
    assert zsh.select("sh").distinct().count() == 2
    sigs = dedup.minhash_signatures_from_hashes(zsh).drop("doc_id")
    assert sigs.distinct().count() == 1
    docs = boiler_docs.unionByName(zero)

    kw = dict(threshold=0.0, max_df=20, max_bucket=50)
    want = {(r.doc_a, r.doc_b): r.jaccard for r in
            dedup.ngram_jaccard_pairs(docs, 0.0, cache=False,
                                      max_df=20).collect()}
    assert (5000, 5001) not in want
    for wd in (None, str(tmp_path / "nd")):
        out = dedup.dedup_corpus(docs, materialize_dir=wd, **kw)
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in out["pairs"].collect()}
        assert {(i, 1000 + i) for i in range(10)} <= set(got)
        assert all(want.get(p) == j for p, j in got.items()), \
            {p: (j, want.get(p)) for p, j in got.items()
             if want.get(p) != j}
        dedup.release_caches()


def test_cache_scope_releases_all_persisted(spark, boiler_docs):
    """`with cache_scope():` owns every RDD persisted inside it —
    after exit the JVM block manager holds no cached RDDs, so a
    long-lived driver looping corpora cannot leak executor memory."""
    from pdf_table_spark.ops import dedup

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # ensure a clean slate: other modules may have cached, and RDDs they
    # localCheckpointed stay registered until their last reference is
    # garbage-collected — which can land mid-scope and move the count
    dedup.release_caches()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    base = n_cached()
    with dedup.cache_scope() as scope:
        out = dedup.dedup_corpus(boiler_docs, threshold=0.5,
                                 max_df=50, max_bucket=100)
        assert out["keep"].count() > 0        # materialize inside
        assert n_cached() > base
    assert scope.released >= 2
    assert n_cached() == base
    # nesting: inner scope releases only its own persists
    with dedup.cache_scope():
        d1 = boiler_docs.limit(5).persist()
        dedup._PERSISTED.append(d1)
        with dedup.cache_scope() as inner:
            d2 = boiler_docs.limit(3).persist()
            dedup._PERSISTED.append(d2)
            d2.count()
        assert inner.released == 1
        assert d1 in dedup._PERSISTED
    assert n_cached() == base
