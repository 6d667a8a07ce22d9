"""The composed corpus-preparation program — what a 100 TB ingest
actually runs, end to end:

    1. corpus_clean   — exact dedup + Gopher + C4 gates, PII-scrubbed
                        content receipts (``ops.textfilters``);
    2. dedup_corpus   — capped MinHash-LSH near-dedup among the clean
                        survivors only (``ops.dedup``: df-capped
                        shingles, bucket-capped band join, exact
                        Jaccard verify — every scale guard ON);
    3. model gate     — the broadcast-weights quality classifier on
                        what remains (``spark.model_stage``).

One row per input doc with first-failing-stage provenance:
(doc_id, stage, kept, clean_fp) where stage ∈ 'dup' | 'gopher' | 'c4'
| 'neardup' | 'model' | 'kept'. Later stages only ever process earlier
stages' survivors, so the expensive near-dedup shuffles see the
already-thinned corpus.

Scale: corpus_clean is one scan + one shuffle; the near-dedup joins
are banded and capped; the model gate is a narrow Arrow stage.
``ops.dedup.release_caches()`` releases the shingle/signature caches
when the driver moves to another corpus.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark.model_stage import score_doc_quality
from . import dedup
from .textfilters import corpus_clean


def _lineage(name: str, build, partition_by: str | None = None):
    """The stage boundary of a single-lineage run: the stage is its
    lazy frame."""
    return build()


def _stage_boundary(spark, workdir: str | None, walls: dict):
    """The boundary every assembly stage goes through. Without a
    ``workdir`` a stage is its lazy frame (one lineage). With one,
    ``stage(name, build, partition_by)`` writes the stage's COMPACT
    result to ``workdir/<name>`` (skipped when its ``_SUCCESS`` marker
    exists), releases every cache, records the stage's wall seconds in
    ``walls`` and returns the frame read back — lineage restarts at
    each boundary."""
    if workdir is None:
        return _lineage

    def stage(name: str, build, partition_by: str | None = None):
        p = os.path.join(workdir, name)
        schema = None
        if not os.path.exists(os.path.join(p, "_SUCCESS")):
            t0 = time.perf_counter()
            df = build()
            schema = df.schema
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(partition_by)
            w.parquet(p)
            dedup.release_caches()
            spark.catalog.clearCache()
            walls[name] = round(time.perf_counter() - t0, 3)
        try:
            return spark.read.parquet(p)
        except Exception:
            if schema is None:   # resumed AND unreadable: genuine error
                raise
            # a fully-gated stage wrote zero files under partitionBy —
            # the read cannot infer a schema; carry on with the empty
            # frame so the run reports the histogram instead of dying
            return spark.createDataFrame([], schema)
    return stage


def _clean_survivors(docs: DataFrame, min_words: int,
                     min_stopword_hits: int, min_sentences: int | None,
                     line_sep: str = "\\n", stage=_lineage):
    """corpus_clean (through ``stage`` as the 'cc' stage) + the
    survivor subset, both persisted (the gate columns and the survivor
    rows each feed 2-3 downstream consumers). Registered with the
    dedup cache registry: one release_caches() call frees the whole
    program's intermediates."""
    kw = dict(min_words=min_words,
              min_stopword_hits=min_stopword_hits, line_sep=line_sep)
    if min_sentences is not None:
        kw["min_sentences"] = min_sentences
    cc = stage("cc", lambda: dedup.persist(corpus_clean(docs, **kw)))
    survivors = dedup.persist(
        docs.join(cc.filter("kept").select("doc_id"), "doc_id"))
    return cc, survivors


def _staged_provenance(cc: DataFrame, drops, with_clean_fp: bool):
    """First-failing-stage provenance: the clean gates' stage wins,
    then each (stage_name, doc_ids) in ``drops`` in order, else
    'kept'. Shared by prepare_corpus and assemble_training_set.

    All drop sets union into ONE labeled id table (earliest stage wins
    via min_by on the priority) and join cc exactly once — one shuffle
    of the big side instead of one per stage. The drop sets are
    disjoint by construction (each later stage only processes earlier
    stages' survivors), so the min_by is a formality that keeps the
    first-failing rule correct even if a caller overlaps them."""
    labeled = None
    for i, (name, ids) in enumerate(drops):
        one = ids.select("doc_id").distinct().select(
            "doc_id", F.lit(name).alias("_drop_stage"),
            F.lit(i).alias("_drop_prio"))
        labeled = one if labeled is None else labeled.unionByName(one)
    out = cc
    if labeled is not None:
        first = labeled.groupBy("doc_id").agg(
            F.expr("min_by(_drop_stage, _drop_prio)")
            .alias("_drop_stage"))
        out = cc.join(first, "doc_id", "left")
        stage = (F.when(F.col("stage") != "kept", F.col("stage"))
                 .when(F.col("_drop_stage").isNotNull(),
                       F.col("_drop_stage"))
                 .otherwise(F.lit("kept")))
    else:
        stage = F.col("stage")
    cols = ["doc_id", stage.alias("final_stage"),
            (stage == "kept").alias("final_kept")]
    if with_clean_fp:
        cols.append(F.when(stage == "kept", F.col("clean_fp"))
                    .alias("clean_fp"))
    return (out.select(*cols)
            .withColumnsRenamed({"final_stage": "stage",
                                 "final_kept": "kept"}))


def prepare_corpus(docs: DataFrame,
                   min_words: int = 50,
                   min_stopword_hits: int = 2,
                   neardup_threshold: float = 0.8,
                   max_df: int = 10_000,
                   max_bucket: int = 10_000,
                   hash_fn: str = "xxhash64",
                   weights_path: str | None = None,
                   line_sep: str = "\\n") -> DataFrame:
    """documents(doc_id, text) → (doc_id, stage, kept, clean_fp)."""
    cc, survivors = _clean_survivors(docs, min_words,
                                     min_stopword_hits, None, line_sep)

    nd = dedup.dedup_corpus(survivors, threshold=neardup_threshold,
                            max_df=max_df, max_bucket=max_bucket,
                            hash_fn=hash_fn)
    nd_dropped = (nd["pairs"].select(F.col("doc_b").alias("doc_id"))
                  .distinct())

    model_dropped = (score_doc_quality(
        survivors.join(nd_dropped, "doc_id", "left_anti"),
        weights_path=weights_path)
        .filter(F.col("pred") == "drop").select("doc_id"))

    return _staged_provenance(
        cc, [("neardup", nd_dropped), ("model", model_dropped)],
        with_clean_fp=True)


def assemble_training_set(docs: DataFrame,
                          benchmark: DataFrame | None = None,
                          mixture: dict[str, float] | None = None,
                          source_col: str = "source",
                          split_weights: dict[str, float] | None = None,
                          min_words: int = 50,
                          min_stopword_hits: int = 2,
                          min_sentences: int = 3,
                          neardup_threshold: float = 0.8,
                          max_df: int = 10_000,
                          max_bucket: int = 10_000,
                          hash_fn: str = "xxhash64",
                          ngram_n: int = 13,
                          select_target: DataFrame | None = None,
                          select_k: int | None = None,
                          select_buckets: int = 65536,
                          select_mode: str = "gumbel",
                          seed: str = "assemble-v1",
                          workdir: str | None = None) -> dict:
    """The training-set ASSEMBLY program — everything between a raw
    corpus and the rows a data loader reads, composed end to end:

      1. clean gates      — exact dedup + Gopher (+ C4 when
                            ``min_sentences`` > 0), via corpus_clean;
      2. cluster dedup    — capped near-dedup + connected components,
                            one canonical doc per duplicate cluster;
      3. decontamination  — drop survivors sharing any ``ngram_n``-gram
                            with ``benchmark`` (skipped when None);
      4. DSIR selection   — keep the ``select_k`` survivors most like
                            ``select_target`` by hashed-ngram
                            importance weight (ops/dsir.py; Gumbel
                            resampling by default, ``select_mode=
                            'topk'`` for the deterministic variant;
                            skipped when ``select_target``/``select_k``
                            is None — the fit is two bounded
                            ≤``select_buckets``-row collects);
      5. mixture          — per-``source_col`` epoch weights emit
                            (doc_id, copy) rows;
      6. split            — deterministic train/val/test per doc.

    Each stage consumes only the previous stage's survivors (the
    expensive gram joins see the thinned corpus). Returns:

      {"provenance":  (doc_id, stage, kept) — first-failing stage per
                      input doc, stage ∈ dup|gopher|c4|neardup|
                      contaminated|unselected|kept;
       "assembled":   (doc_id, source, copy, split) — the final rows,
                      repeated per epoch copy, each carrying its split;
       "stage_walls": {stage: seconds} for the stages written this
                      call ({} without a ``workdir``)}

    Without ``workdir`` the program is one lazy lineage. With one,
    every stage boundary is MATERIALIZED — the shape a corpus-scale
    run needs:

      * each stage writes its COMPACT result (ids / labels, never
        text) to ``workdir/<stage>`` and the next stage reads it back,
        restarting lineage — Spark can then GC the previous stage's
        shuffle files and cached tables instead of pinning every
        intermediate for the whole program. The single lineage held
        ~70 GB of live shuffle + persisted blocks at 50M docs on one
        node and exhausted the disk; staged, the peak is ONE stage's
        working set (the near-dedup stage dominates).
      * a stage whose ``_SUCCESS`` marker exists is skipped entirely —
        a pre-empted assembly resumes at the failed stage, the same
        boundary a 10^12-doc run would checkpoint at the lake.

    Both modes emit the same rows: everything downstream of the gates
    is a pure function of (doc_id, seed), so reruns, resumes, and
    different cluster sizes produce identical assignments. Call
    ``dedup.release_caches()`` when done.
    """
    from .sampling import resample_mixture, split_expr
    from .textfilters import decontaminate

    walls: dict[str, float] = {}
    stage = _stage_boundary(docs.sparkSession, workdir, walls)
    cc, survivors = _clean_survivors(docs, min_words, min_stopword_hits,
                                     min_sentences, stage=stage)

    comp = stage("components", lambda: dedup.dedup_corpus_clusters(
        survivors, threshold=neardup_threshold, max_df=max_df,
        max_bucket=max_bucket, hash_fn=hash_fn,
        materialize_dir=workdir and os.path.join(workdir, "neardup_tmp"))
        ["components"])
    nd_dropped = (comp.filter(F.col("doc_id") != F.col("component"))
                  .select("doc_id"))

    after_nd = survivors.join(nd_dropped, "doc_id", "left_anti")
    if benchmark is not None:
        # gram hashes follow the pipeline's hash_fn: xxhash64 keeps
        # the bench gram set broadcastable ~6x longer (bigint vs
        # 32-char md5 keys); 'md5' remains the oracle contract
        cont = stage("contaminated", lambda: decontaminate(
            after_nd, benchmark, n=ngram_n, hash_fn=hash_fn)
            ["contaminated"].select("doc_id"))
    else:
        # schema-matched empty frame whatever the doc_id type is
        cont = docs.select("doc_id").limit(0)

    drops = [("neardup", nd_dropped), ("contaminated", cont)]
    if select_target is not None and select_k:
        from . import dsir
        after_cont = after_nd.join(cont, "doc_id", "left_anti")

        def _selected():
            lr = dsir.fit_logratio_e6(select_target, after_cont,
                                      n_buckets=select_buckets,
                                      hash_fn=hash_fn)
            return dsir.dsir_select(after_cont, lr, select_k,
                                    hash_fn=hash_fn, mode=select_mode,
                                    seed=f"{seed}-select")
        selected = stage("selected", _selected)
        drops.append(("unselected", after_cont.join(
            selected.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id")))

    provenance = stage("provenance", lambda: _staged_provenance(
        cc, drops, with_clean_fp=False), partition_by="stage")

    def _assembled():
        kept_docs = docs.join(
            provenance.filter("kept").select("doc_id"), "doc_id")
        mixed = resample_mixture(kept_docs, mixture or {},
                                 source_col=source_col,
                                 seed=f"{seed}-mix")
        # split is a pure function of (doc_id, seed): append it as a
        # column on the mixture rows instead of joining a separate
        # split frame — same values, one whole-corpus shuffle less
        return mixed.select(
            "doc_id", source_col, "copy",
            F.expr(split_expr(split_weights, seed=f"{seed}-split"))
            .alias("split"))

    assembled = stage("assembled", _assembled, partition_by="split")
    return {"provenance": provenance, "assembled": assembled,
            "stage_walls": walls}
