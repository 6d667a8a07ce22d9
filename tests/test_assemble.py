"""assemble_training_set: the composed assembly program — stage
priority, decontamination gating, mixture/split composition."""

import pytest
from pyspark.sql import functions as F

from pdf_table_spark.ops import dedup
from pdf_table_spark.ops.prepare import assemble_training_set

def _body(i):
    # mostly-unique body (passes Gopher: stopwords + enough words)
    salad = " ".join(f"item{i}word{j}" for j in range(25))
    return f"the report {i} covers {salad} and the totals match."


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _body(i), "web") for i in range(30)]
    rows.append((100, _body(0), "web"))            # exact dup of 0
    rows.append((101, _body(0).replace("item0word7", "changed"),
                 "web"))                           # near-dup of 0
    rows.append((102, "short", "web"))             # fails gopher
    rows.append((103, _body(31) + " leaked " + " ".join(
        f"b{j}" for j in range(13)), "web"))       # contaminated
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def bench(spark):
    return spark.createDataFrame(
        [(900, " ".join(f"b{j}" for j in range(13)))],
        "doc_id long, text string")


def test_stage_priority_and_keep(spark, corpus, bench):
    out = assemble_training_set(
        corpus, benchmark=bench, min_words=10, min_stopword_hits=1,
        min_sentences=0, neardup_threshold=0.8, max_df=1000,
        max_bucket=1000)
    st = {r.doc_id: r.stage for r in out["provenance"].collect()}
    assert st[100] == "dup"
    assert st[101] == "neardup"
    assert st[102] == "gopher"
    assert st[103] == "contaminated"
    assert st[0] == "kept" and st[7] == "kept"
    # assembled rows: only kept docs, each with a split, default 1 copy
    rows = out["assembled"].collect()
    kept_ids = {d for d, s in st.items() if s == "kept"}
    assert {r.doc_id for r in rows} == kept_ids
    assert all(r.copy == 0 for r in rows)
    assert all(r.split in ("train", "val", "test") for r in rows)
    dedup.release_caches()


def test_no_benchmark_skips_decontamination(spark, corpus):
    out = assemble_training_set(
        corpus, benchmark=None, min_words=10, min_stopword_hits=1,
        min_sentences=0, neardup_threshold=0.8, max_df=1000,
        max_bucket=1000)
    st = {r.doc_id: r.stage for r in out["provenance"].collect()}
    assert st[103] == "kept"          # nothing to leak against
    assert "contaminated" not in st.values()
    dedup.release_caches()


def test_mixture_multiplies_assembled_rows(spark, corpus, bench):
    out = assemble_training_set(
        corpus, benchmark=bench, mixture={"web": 2.0},
        min_words=10, min_stopword_hits=1, min_sentences=0,
        neardup_threshold=0.8, max_df=1000, max_bucket=1000)
    a = out["assembled"]
    n_kept = out["provenance"].filter("kept").count()
    assert a.count() == 2 * n_kept
    # both copies of a doc share one split (split is per-doc)
    assert (a.groupBy("doc_id")
            .agg(F.countDistinct("split").alias("n"))
            .filter("n > 1").count()) == 0
    dedup.release_caches()


def test_extraction_feeds_assembly_end_to_end(spark, fixture_root):
    """The two tiers compose: span extraction (api.document_text) ->
    the assembly program — the full path from an interleaved spans
    corpus to loader-ready (doc_id, copy, split) rows."""
    import os
    from pdf_table_spark.api import document_text

    docs = document_text(
        spark, os.path.join(fixture_root, "sf0.001",
                            "documents_spans.parquet"))
    docs = docs.withColumn("source", F.lit("fixtures"))
    out = assemble_training_set(
        docs, benchmark=None, min_words=5, min_stopword_hits=0,
        min_sentences=0, neardup_threshold=0.9, max_df=1000,
        max_bucket=1000)
    prov = out["provenance"]
    assert prov.count() == docs.count()            # one row per doc
    kept = prov.filter("kept").count()
    assert kept > 0
    a = out["assembled"]
    assert a.count() == kept                       # default 1 copy
    assert a.filter("split not in ('train','val','test')").count() == 0
    dedup.release_caches()


def test_staged_matches_monolithic(spark, corpus, bench, tmp_path):
    """The disk-bounded staged variant is output-identical to the
    single-lineage program (same seeds, same stages), and a re-run
    resumes: every _SUCCESS-marked stage is skipped."""
    kw = dict(benchmark=bench, mixture={"web": 2.0},
              min_words=10, min_stopword_hits=1, min_sentences=0,
              neardup_threshold=0.8, max_df=1000, max_bucket=1000)
    mono = assemble_training_set(corpus, **kw)
    mono_prov = {(r.doc_id, r.stage, r.kept)
                 for r in mono["provenance"].collect()}
    mono_rows = {(r.doc_id, r.source, r.copy, r.split)
                 for r in mono["assembled"].collect()}
    dedup.release_caches()

    wd = str(tmp_path / "staged")
    staged = assemble_training_set(corpus, workdir=wd, **kw)
    assert {(r.doc_id, r.stage, r.kept)
            for r in staged["provenance"].collect()} == mono_prov
    assert {(r.doc_id, r.source, r.copy, r.split)
            for r in staged["assembled"].collect()} == mono_rows
    assert set(staged["stage_walls"]) == {
        "cc", "components", "contaminated", "provenance", "assembled"}

    again = assemble_training_set(corpus, workdir=wd, **kw)
    assert again["stage_walls"] == {}          # everything resumed
    assert {(r.doc_id, r.source, r.copy, r.split)
            for r in again["assembled"].collect()} == mono_rows


def test_staged_partial_resume(spark, corpus, bench, tmp_path):
    """A run that lost its last two stage outputs redoes exactly those
    two and still emits the single-lineage rows."""
    import shutil

    kw = dict(benchmark=bench, mixture={"web": 2.0},
              min_words=10, min_stopword_hits=1, min_sentences=0,
              neardup_threshold=0.8, max_df=1000, max_bucket=1000)
    mono = assemble_training_set(corpus, **kw)
    mono_prov = {(r.doc_id, r.stage, r.kept)
                 for r in mono["provenance"].collect()}
    mono_rows = {(r.doc_id, r.source, r.copy, r.split)
                 for r in mono["assembled"].collect()}
    dedup.release_caches()

    wd = str(tmp_path / "partial")
    assemble_training_set(corpus, workdir=wd, **kw)
    for name in ("provenance", "assembled"):
        shutil.rmtree(tmp_path / "partial" / name)
    again = assemble_training_set(corpus, workdir=wd, **kw)
    assert set(again["stage_walls"]) == {"provenance", "assembled"}
    assert {(r.doc_id, r.stage, r.kept)
            for r in again["provenance"].collect()} == mono_prov
    assert {(r.doc_id, r.source, r.copy, r.split)
            for r in again["assembled"].collect()} == mono_rows
    dedup.release_caches()


def test_dsir_selection_stage(spark, corpus, bench, tmp_path):
    """Optional stage 4: DSIR selection keeps the select_k survivors
    most like the target; everything else lands in provenance as
    'unselected'; staged == monolithic including the new stage."""
    # target shares doc 0's vocabulary -> the exact/near family of 0
    # would be the closest, but it's deduped away; docs with low ids
    # share nothing (mostly-unique salads), so selection is driven by
    # the importance weights alone and just has to be deterministic,
    # k-sized, and a subset of the pre-selection survivors
    target = spark.createDataFrame(
        [(500, _body(0)), (501, _body(3))], "doc_id long, text string")
    kw = dict(benchmark=bench, min_words=10, min_stopword_hits=1,
              min_sentences=0, neardup_threshold=0.8, max_df=1000,
              max_bucket=1000, select_target=target, select_k=5,
              select_buckets=512, select_mode="topk")
    out = assemble_training_set(corpus, **kw)
    prov = {r.doc_id: r.stage for r in out["provenance"].collect()}
    # earlier stages unaffected
    assert prov[100] == "dup" and prov[102] == "gopher"
    assert prov[103] == "contaminated" and prov[101] == "neardup"
    kept = {d for d, s in prov.items() if s == "kept"}
    unsel = {d for d, s in prov.items() if s == "unselected"}
    assert len(kept) == 5
    assert kept | unsel == {i for i in range(30)}  # the clean survivors
    rows = {r.doc_id for r in out["assembled"].collect()}
    assert rows == kept
    dedup.release_caches()

    wd = str(tmp_path / "staged_sel")
    staged = assemble_training_set(corpus, workdir=wd, **kw)
    assert {r.doc_id: r.stage for r in
            staged["provenance"].collect()} == prov
    assert "selected" in staged["stage_walls"]
    again = assemble_training_set(corpus, workdir=wd, **kw)
    assert again["stage_walls"] == {}
    dedup.release_caches()


def test_dataset_card(spark, corpus, bench):
    from pdf_table_spark.ops.report import dataset_card
    out = assemble_training_set(
        corpus, benchmark=bench, mixture={"web": 2.0},
        min_words=10, min_stopword_hits=1, min_sentences=0,
        neardup_threshold=0.8, max_df=1000, max_bucket=1000)
    card = dataset_card(out["provenance"], out["assembled"],
                        docs=corpus)
    assert card["total_docs"] == corpus.count()
    assert card["stages"]["dup"] == 1 and card["stages"]["gopher"] == 1
    assert card["kept_docs"] == card["stages"]["kept"]
    assert sum(card["stages"].values()) == card["total_docs"]
    # mixture weight 2.0 -> every kept doc twice, split rows add up
    assert card["epoch_rows"] == 2 * card["kept_docs"]
    assert card["sources"] == {"web": card["epoch_rows"]}
    assert sum(card["splits"].values()) == card["epoch_rows"]
    assert card["kept_frac"] == round(
        card["kept_docs"] / card["total_docs"], 6)
    assert card["kept_tokens"] > 25 * card["kept_docs"]  # salads
    dedup.release_caches()
