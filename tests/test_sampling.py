"""Training-set assembly: deterministic splits, stratified sampling,
and concat-and-chunk sequence packing (distributed prefix sum)."""

import pytest
from pyspark.sql import functions as F

from pdf_table_spark.ops.sampling import (
    pack_chunks, resample_mixture, sample_stratified, split_corpus,
    write_shards)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, " ".join(f"t{i}x{j}" for j in range(1 + i % 17)),
             ["en", "de", "fr"][i % 3]) for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_split_is_deterministic_and_total(docs):
    a = {r.doc_id: r.split for r in split_corpus(docs).collect()}
    b = {r.doc_id: r.split for r in split_corpus(docs).collect()}
    assert a == b and len(a) == 300
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    # 90/5/5 within loose tolerance on 300 docs
    assert counts["train"] > 240 and counts["val"] + counts["test"] < 60


def test_split_weights_validated(docs):
    with pytest.raises(ValueError):
        split_corpus(docs, {"train": 0.5, "val": 0.1})


def test_split_seed_changes_assignment(docs):
    a = {r.doc_id: r.split for r in split_corpus(docs).collect()}
    c = {r.doc_id: r.split
         for r in split_corpus(docs, seed="other").collect()}
    assert a != c


def test_stratified_sample_respects_fractions(docs):
    kept = sample_stratified(docs, {"en": 1.0, "de": 0.0}, default=0.5)
    by = {r.lang: r["count"] for r in
          kept.groupBy("lang").count().collect()}
    assert by["en"] == 100        # fraction 1.0 keeps every en doc
    assert "de" not in by         # fraction 0.0 keeps none
    assert 20 < by.get("fr", 0) < 80   # default 0.5 of 100


def test_pack_chunks_conserves_tokens_and_fills(docs, spark):
    c = 64
    chunks = pack_chunks(docs, ctx_len=c, n_buckets=7).collect()
    total = docs.selectExpr(
        "sum(size(filter(split(lower(text), '\\\\s+'), t -> t <> '')))"
    ).first()[0]
    assert sum(r.n_tokens for r in chunks) == total
    by_id = sorted(chunks, key=lambda r: r.chunk_id)
    # contiguous ids from 0; every chunk but the tail holds exactly c
    assert [r.chunk_id for r in by_id] == list(range(len(by_id)))
    assert all(r.n_tokens == c for r in by_id[:-1])
    assert 0 < by_id[-1].n_tokens <= c
    # doc ranges tile the corpus in order: a doc spanning a boundary
    # appears as last_doc of one chunk and first_doc of the next
    for prev, cur in zip(by_id, by_id[1:]):
        assert prev.last_doc in (cur.first_doc, cur.first_doc - 1)


def test_pack_chunks_matches_naive_prefix_sum(spark):
    # ragged token counts incl. empty docs; compare the two-pass
    # distributed offsets against a driver-side exact packing
    rows = [(i, " ".join("w" for _ in range(n)))
            for i, n in enumerate([5, 0, 3, 64, 1, 0, 200, 7])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.chunk_id: (r.n_docs, r.n_tokens)
           for r in pack_chunks(docs, ctx_len=64, n_buckets=3).collect()}
    off, want = 0, {}
    for i, n in enumerate([5, 0, 3, 64, 1, 0, 200, 7]):
        for chunk in range(off // 64, max((off + n - 1) // 64, off // 64)
                           + (1 if n else 0)):
            d, t = want.get(chunk, (0, 0))
            want[chunk] = (d + 1, t + min(off + n, (chunk + 1) * 64)
                           - max(off, chunk * 64))
        off += n
    assert got == want


def test_pack_chunks_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pack_chunks(empty).count() == 0


def test_cache_scope_owns_sampling_caches(docs, spark):
    """The prefix-sum ops persist into the dedup cache registry, so a
    ``cache_scope`` releases their counted frames on exit."""
    from pdf_table_spark.ops import dedup
    from pdf_table_spark.ops.sampling import select_token_budget

    with dedup.cache_scope() as scope:
        pack_chunks(docs, ctx_len=16, n_buckets=7).count()
    assert scope.released >= 1
    scored = docs.withColumn("score", F.col("doc_id") % 5)
    with dedup.cache_scope() as scope:
        select_token_budget(scored, 100, n_buckets=4).count()
    assert scope.released >= 1


def test_resample_mixture_copy_counts(spark):
    rows = [(i, f"doc {i}", ["a", "b", "c"][i % 3]) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = resample_mixture(docs, {"a": 3.0, "b": 0.5, "c": 0.0},
                           default=1.0)
    by = {r.source: (r.rows, r.docs) for r in
          out.groupBy("source")
             .agg(F.count("*").alias("rows"),
                  F.countDistinct("doc_id").alias("docs")).collect()}
    assert by["a"] == (300, 100)          # exactly 3 copies each
    assert "c" not in by                  # weight 0 drops the source
    r_b, d_b = by["b"]
    assert r_b == d_b and 30 < r_b < 70   # ~half of b, one copy each
    # copy index is a dense [0, n) per doc
    copies = {r.copy for r in out.filter("source = 'a'").collect()}
    assert copies == {0, 1, 2}
    # deterministic
    again = resample_mixture(docs, {"a": 3.0, "b": 0.5, "c": 0.0})
    assert sorted(map(tuple, out.select("doc_id", "copy").collect())) \
        == sorted(map(tuple, again.select("doc_id", "copy").collect()))


def test_resample_mixture_rejects_negative(spark):
    docs = spark.createDataFrame([(1, "x", "a")],
                                 "doc_id long, text string, source string")
    with pytest.raises(ValueError):
        resample_mixture(docs, {"a": -1.0})


def test_resample_mixture_rejects_non_finite(spark):
    """NaN and infinite weights, per source or as the default, fail on
    the driver instead of reaching the weight map as bare names."""
    docs = spark.createDataFrame([(1, "x", "a")],
                                 "doc_id long, text string, source string")
    for w in (float("nan"), float("inf")):
        with pytest.raises(ValueError):
            resample_mixture(docs, {"a": w})
        with pytest.raises(ValueError):
            resample_mixture(docs, {"a": 1.0}, default=w)


def test_write_shards_balanced_and_idempotent(spark, tmp_path):
    rows = [(i, f"doc {i}") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "shards")
    out = write_shards(docs, path, 8)
    assert set(out["counts"]) == set(range(8))
    assert sum(out["counts"].values()) == 1000
    assert max(out["counts"].values()) < 2.0 * min(out["counts"].values())
    # re-run overwrites to the identical sharding
    again = write_shards(docs, path, 8)
    assert again["counts"] == out["counts"]
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.select("doc_id").distinct().count() == 1000


def test_select_token_budget_greedy_exact(spark):
    from pdf_table_spark.ops.sampling import select_token_budget
    # scores with ties; token counts chosen so the budget cuts inside
    # a tie group
    rows = [(i, " ".join("w" for _ in range(10 + i % 3)),
             float([5, 9, 9, 7, 9, 3][i % 6])) for i in range(60)]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, score double")
    budget = 333
    got = {r.doc_id for r in
           select_token_budget(docs, budget, n_buckets=4).collect()}
    # driver-side greedy over (score desc, doc_id asc)
    ordered = sorted(rows, key=lambda r: (-r[2], r[0]))
    cum, want = 0, set()
    for d, t, s in ordered:
        n = len(t.split())
        if cum + n <= budget:
            want.add(d)
        cum += n
    assert got == want and len(got) > 0
    # cum_before is the exact global prefix sum
    sel = select_token_budget(docs, budget, n_buckets=4).collect()
    for r in sel:
        before = sum(len(t.split()) for d, t, s in ordered
                     if (-s, d) < (-r.score, r.doc_id))
        assert r.cum_before == before


def test_empty_corpus_everywhere(spark):
    from pdf_table_spark.ops.sampling import select_token_budget
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "score double")
    assert split_corpus(empty).count() == 0
    assert sample_stratified(empty, {"en": 1.0}).count() == 0
    assert resample_mixture(empty, {"a": 2.0}).count() == 0
    assert select_token_budget(empty, 100).count() == 0


def test_select_token_budget_excludes_null_scores(spark):
    from pdf_table_spark.ops.sampling import select_token_budget
    docs = spark.createDataFrame(
        [(1, "a b c", 5.0), (2, "d e f", None), (3, "g h i", 1.0)],
        "doc_id long, text string, score double")
    got = {r.doc_id for r in select_token_budget(docs, 100).collect()}
    assert got == {1, 3}            # null-score doc 2 never charged
