"""Physical-plan hygiene: the properties that make these queries hold
up at 100 TB must be visible in the plan, not assumed.

  * filters reach the parquet scan (PushedFilters)
  * scans read only referenced columns (ReadSchema pruning)
  * small dimensions broadcast (no sort-merge shuffle join)
  * top-k compiles to TakeOrderedAndProject / WindowGroupLimit,
    never a global sort
  * exactly ONE Python boundary in the extraction pipeline; trivial
    span kinds stay in whole-stage codegen
"""

import os
import re

import pytest

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def n_nodes(plan: str, name: str) -> int:
    """Count physical nodes by their detail header '(k) Name' — the
    tree rendering repeats each node name, so substring counts lie."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.MULTILINE))


def n_shuffles(plan: str) -> int:
    """Exchanges that move data BY KEY (hash / range / single
    partition). The small-scan fan-out (sources.corpus.fan_small_scan)
    adds one bounded round-robin exchange on tiny local inputs — a
    deliberate parallelism trade absent at web scale — so round-robin
    repartitions don't count against a query's shuffle budget."""
    return n_nodes(plan, "Exchange") - len(
        re.findall(r"Arguments: RoundRobinPartitioning", plan))


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entrymod
    return entrymod.queries()


def _tbl(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


PER_ROW_OPS = ("extract_documents", "export_tables", "decode_media",
               "describe_media", "thumbnail_media", "decode_audio",
               "sample_frames", "chunk_audio")


def _per_row_op(spark, name):
    """``name`` applied to a one-row frame of its input shape."""
    from pdf_table_spark.ops import multimodal
    from pdf_table_spark.ops.export import export_tables
    from pdf_table_spark.spark.pipeline import SPAN_STRUCT, extract_documents
    if name == "extract_documents":
        return extract_documents(spark.createDataFrame(
            [("d0", [("text", "hi", "", 0)])],
            f"doc_id string, spans array<{SPAN_STRUCT}>"))
    if name == "export_tables":
        return export_tables(spark.createDataFrame(
            [("d0", 0, "table_html", "<table></table>", "")],
            "doc_id string, offset int, kind string, text string, "
            "media_ref string"))
    if name == "sample_frames":
        return multimodal.sample_frames(spark.createDataFrame(
            [("v0", 6, 2.0)], "media_ref string, n_frames int, fps double"))
    if name == "chunk_audio":
        return multimodal.chunk_audio(spark.createDataFrame(
            [("a0", 48000, 16000)],
            "media_ref string, n_samples long, sample_rate int"))
    return getattr(multimodal, name)(spark.createDataFrame(
        [("m0", b"P5 1 1 255 x")], "media_ref string, payload binary"))


@pytest.mark.parametrize("name", PER_ROW_OPS)
def test_per_row_operator_plans_one_arrow_stage(spark, name):
    """Every per-row Python operator crosses the Python boundary once,
    through ``spark.stages.map_rows``: one MapInArrow, no pandas."""
    plan = plan_of(_per_row_op(spark, name))
    assert n_nodes(plan, "MapInArrow") == 1
    assert "MapInPandas" not in plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
class TestPlans:
    def test_pricing_summary_pushdown_and_partial_agg(self, spark, queries):
        plan = plan_of(queries["pricing_summary"](spark, SF_DIR))
        assert "LessThanOrEqual(l_shipdate" in plan   # filter at the scan
        assert "l_comment" not in plan                # column pruning
        # map-side combine: partial + final HashAggregate pair
        assert n_nodes(plan, "HashAggregate") >= 2

    def test_top_revenue_orders_broadcasts_dims(self, spark, queries):
        plan = plan_of(queries["top_revenue_orders"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan        # top-k, no full sort
        assert "EqualTo(c_mktsegment,BUILDING)" in plan

    def test_cosine_topk_broadcasts_queries_and_limits_window(
            self, spark, queries):
        from pdf_table_spark.ops.similarity import cosine_topk
        plan = plan_of(cosine_topk(_tbl(spark, "embeddings"), k=5))
        assert "BroadcastNestedLoopJoin" in plan      # tiny query side
        assert "WindowGroupLimit" in plan             # rank<=k pushed down
        assert "LessThan(vec_id,10)" in plan          # query filter at scan

    def test_token_stats_prunes_scan(self, spark, queries):
        plan = plan_of(queries["doc_text_stats"](spark, SF_DIR))
        # documents has (doc_id, text, lang, source, n_chars); only two
        # referenced columns may be read
        for unused in ("lang", "source", "n_chars:"):
            assert unused not in plan

    def test_extraction_has_single_python_boundary(self, spark, queries):
        plan = plan_of(queries["extract_spans"](spark, SF_DIR))
        # one mapInArrow stage over ONE scan of the corpus
        assert n_nodes(plan, "MapInArrow") == 1
        assert n_nodes(plan, "Scan parquet") == 1
        assert "MapInPandas" not in plan
        assert "BatchEvalPython" not in plan          # no row-wise UDFs
        # reassembly is JVM-side
        assert "ObjectHashAggregate" in plan or "SortAggregate" in plan

    def test_event_sessions_single_shuffle_for_window_and_agg(
            self, spark, queries):
        plan = plan_of(queries["event_sessions"](spark, SF_DIR))
        # lag + running sum + final groupBy all share the user_id
        # hash partitioning: one data shuffle (plus AQE readers at most)
        assert n_nodes(plan, "Exchange") <= 2

    def test_neardup_banded_join_never_cartesian(self, spark, queries):
        """OR-of-bands near-dup: the quadratic step must be an
        equi-join on (band, key) — no cartesian/NL join anywhere."""
        plan = plan_of(queries["embedding_neardup"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan)
        # pair dedup is an aggregate, not a sort-distinct
        assert n_nodes(plan, "HashAggregate") >= 1

    def test_ann_multiprobe_windowlimit_and_broadcast(self, spark,
                                                      queries):
        from pdf_table_spark.ops.similarity import ann_topk_lsh
        plan = plan_of(ann_topk_lsh(_tbl(spark, "embeddings"), k=5))
        assert "BroadcastHashJoin" in plan   # probe set broadcast
        assert "WindowGroupLimit" in plan    # rank<=k pushed down
        assert "CartesianProduct" not in plan

    def test_extraction_repartition_is_adaptive(self, spark):
        """The pre-stage rebalance (r6): a source already split
        at-or-above the core count goes straight into the Python
        stage (no hash exchange below MapInArrow); an
        under-parallelized source still gets the rebalance."""
        from pdf_table_spark.spark.pipeline import (extract_documents,
                                                    flatten_output)
        par = spark.sparkContext.defaultParallelism
        docs = spark.read.parquet(
            os.path.join(SF_DIR, "..", "sf0.01", "documents.parquet"))
        import __spark_entry__ as e
        spans = e._spans_df(spark, SF_DIR)
        wide = spans.repartition(par + 1)

        def pre_python_hash_exchanges(plan: str) -> int:
            # hash exchanges BELOW the MapInArrow node: formatted
            # explain numbers nodes leaf-first, so details BEFORE the
            # '(k) MapInArrow' header belong to the subtree under it
            # (the reassembly exchange above it details LATER)
            m = re.search(r"^\(\d+\) MapInArrow", plan, re.MULTILINE)
            assert m, plan
            return len(re.findall(
                r"Arguments: hashpartitioning", plan[:m.start()]))

        wide_plan = plan_of(flatten_output(extract_documents(wide)))
        assert pre_python_hash_exchanges(wide_plan) == 0
        narrow = spans.coalesce(1)
        narrow_plan = plan_of(flatten_output(extract_documents(narrow)))
        assert pre_python_hash_exchanges(narrow_plan) == 1

    def test_ocr_table_match_prefilters_below_extraction(self, spark,
                                                         queries):
        """The imaged-doc predicate is per-document, so it must sit
        BELOW the extraction (r6): the documents scan is filtered
        before the Python stage — no join of any kind remains, only
        matching docs are decoded, and the extraction keeps its
        single Python boundary."""
        plan = plan_of(queries["ocr_table_match"](spark, SF_DIR))
        assert "Join" not in plan
        assert "exists" in plan.lower()
        assert n_nodes(plan, "MapInArrow") == 1

    def test_table_quality_single_scan_single_python(self, spark,
                                                     queries):
        plan = plan_of(queries["table_quality"](spark, SF_DIR))
        assert n_nodes(plan, "Scan parquet") == 1
        assert n_nodes(plan, "MapInArrow") == 1

    def test_ocr_from_model_three_narrow_boundaries(self, spark,
                                                    queries):
        """Artifact-to-output query: exactly one Python boundary per
        head arm (TSR; det/rec + contours share one; the round-5
        DBNet/CTC/SLANet decoders share one; the det-CNN forward over
        scan images one; the round-5c full-OCR pixel pipeline one),
        no KEYED exchange — the whole thing runs at scan speed. The
        CPU-bound CNN arms may add bounded round-robin widenings on
        tiny local scan files (sources.corpus.fan_cpu_bound — absent at
        web scale), which don't count against the shuffle budget."""
        plan = plan_of(queries["ocr_from_model"](spark, SF_DIR))
        assert n_nodes(plan, "MapInArrow") == 5
        assert n_shuffles(plan) == 0

    def test_exact_substring_cut_application_is_jvm_side(self, spark):
        """The cut application must be ONE JVM projection over the
        left join (the r6 gap-slice formulation): no Python boundary
        anywhere in the op, no cut/uncut branch union re-reading the
        join, and the whole pipeline runs in the three keyed shuffles
        the docstring promises (window groupBy, join-back, cuts
        groupBy) plus the token join."""
        from pdf_table_spark.ops.dedup import exact_substring_dedup
        docs = _tbl(spark, "documents").select("doc_id", "text")
        out = exact_substring_dedup(docs, n=10)
        static = plan_of(out)
        assert n_nodes(static, "MapInArrow") == 0
        assert "BatchEvalPython" not in static
        assert "ArrowEvalPython" not in static
        assert "Union" not in static

    @pytest.mark.parametrize("op", [
        "shingle_hash_rows/xxhash64", "shingle_hash_rows/md5",
        "minhash_signatures", "exact_substring_dedup", "c4_span_dedup",
        "_ngram_hash_rows", "top_ngrams", "decontaminate"])
    def test_gram_windows_not_rebuilt_by_inferred_filters(self, spark,
                                                          op):
        """Every gram builder explodes its windows in the projection
        that builds them. Exploding a built array COLUMN makes Spark
        infer a ``size(col) > 0`` filter and push it, with the whole
        window build substituted, below that projection, so each row
        built its windows twice. No Filter in the optimized plan may
        hold a window slice."""
        from pdf_table_spark.ops import dedup, text, textfilters
        docs = _tbl(spark, "documents").select("doc_id", "text")
        build = {
            "shingle_hash_rows/xxhash64":
                lambda: dedup.shingle_hash_rows(docs),
            "shingle_hash_rows/md5":
                lambda: dedup.shingle_hash_rows(docs, "md5"),
            "minhash_signatures": lambda: dedup.minhash_signatures(docs),
            "exact_substring_dedup":
                lambda: dedup.exact_substring_dedup(docs),
            "c4_span_dedup": lambda: textfilters.c4_span_dedup(docs),
            "_ngram_hash_rows":
                lambda: textfilters._ngram_hash_rows(docs, 13),
            "top_ngrams": lambda: text.top_ngrams(docs),
            "decontaminate": lambda: textfilters.decontaminate(
                docs, docs.filter("doc_id < 5"),
                broadcast_bench=True)["contaminated"],
        }[op]
        plan = build()._jdf.queryExecution().optimizedPlan().toString()
        rebuilt = [ln for ln in plan.splitlines()
                   if re.match(r"^[\s:+|-]*Filter ", ln) and "slice(" in ln]
        assert not rebuilt, rebuilt

    def test_ann_ivf_narrow_assignment_and_broadcast_probes(
            self, spark, queries):
        """IVF-Flat: cell assignment must be a narrow projection (no
        exchange between the scan and the candidate join's streamed
        side) and the probe set must broadcast; the final top-k stays
        a WindowGroupLimit, never a global sort."""
        from pdf_table_spark.ops.similarity import ann_topk_ivf
        plan = plan_of(ann_topk_ivf(_tbl(spark, "embeddings"), k=5))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert n_nodes(plan, "BroadcastHashJoin") >= 1
        assert "WindowGroupLimit" in plan
        # assignment adds no shuffle: the only exchanges are the
        # broadcast build side and the window's partitioning
        assert n_nodes(plan, "Exchange") <= 1

    def test_audio_chunks_enumeration_is_jvm_side(self, spark, queries):
        """Chunk enumeration (sequence/explode) must run before the
        single Python stage: no row reaches Python that isn't a kept
        window."""
        import __spark_entry__ as e
        from pyspark.sql import functions as F

        from pdf_table_spark.ops.dedup import H60_SPARK
        from pdf_table_spark.ops.multimodal import (
            chunk_audio, media_refs_with_payloads)
        refs = media_refs_with_payloads(
            e._spans_df(spark, SF_DIR)).select("media_ref")
        audio = refs.select(
            "media_ref",
            F.expr(f"(({H60_SPARK.format(s='media_ref')} % 90) + 1) "
                   "* 16000").alias("n_samples"),
            F.lit(16000).alias("sample_rate"))
        plan = plan_of(chunk_audio(audio, 30.0, 30.0))
        assert n_nodes(plan, "MapInArrow") == 1
        assert "BatchEvalPython" not in plan
        gen = plan.index("Generate")        # explode(sequence(...))
        py = plan.index("MapInArrow")
        assert gen > py  # formatted plan prints leaves LAST: the
        # Generate node sits BELOW (executes before) the Python stage

    def test_video_frames_enumeration_is_jvm_side(self, spark, queries):
        """Frame enumeration (sequence/explode with the every-n step)
        runs before the single Python stage — only sampled frames
        reach the decode."""
        import __spark_entry__ as e
        from pyspark.sql import functions as F

        from pdf_table_spark.ops.dedup import H60_SPARK
        from pdf_table_spark.ops.multimodal import (
            media_refs_with_payloads, sample_frames)
        refs = media_refs_with_payloads(
            e._spans_df(spark, SF_DIR)).select("media_ref")
        h = H60_SPARK.format(s="media_ref")
        hf = H60_SPARK.format(s="media_ref || 'f'")
        videos = refs.select(
            "media_ref",
            F.expr(f"cast(({h} % 240) + 1 as int)").alias("n_frames"),
            F.expr(f"cast(({hf} % 30) + 1 as double)").alias("fps"))
        plan = plan_of(sample_frames(videos, every_n=5))
        assert n_nodes(plan, "MapInArrow") == 1
        assert "BatchEvalPython" not in plan
        assert plan.index("Generate") > plan.index("MapInArrow")

    def test_simhash_pairs_banded_equijoin(self, spark, queries):
        from pdf_table_spark.ops.dedup import simhash_pairs
        plan = plan_of(
            simhash_pairs(_tbl(spark, "documents"), max_hamming=3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
class TestComposedPlans:
    def test_prepare_corpus_never_cartesian(self, spark, queries):
        """The composed ingest program: every join in the whole chain
        (gate window, dedup band join, exact verify, provenance
        left-joins) must be an equi-join — a cartesian anywhere here
        is a 10^24-row disaster at corpus scale."""
        plan = plan_of(queries["prepare_corpus"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_corpus_filter_gates_prune_scan(self, spark, queries):
        """The narrow filter gates read only (doc_id, text)."""
        for q in ("gopher_quality", "c4_filters"):
            plan = plan_of(queries[q](spark, SF_DIR))
            m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
            assert m, plan
            cols = {c.split(":")[0] for c in m.group(1).split(",")}
            assert cols == {"doc_id", "text"}

    def test_decontaminate_broadcasts_bench_grams(self, spark, queries):
        """Decontamination joins 32-byte gram hashes with the bench
        side broadcast: the training-corpus scan must never shuffle,
        and nothing may degenerate to a nested-loop join."""
        plan = plan_of(queries["decontaminate"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the only keyed exchange feeding the final agg is the groupBy
        # on doc_id; the corpus gram rows themselves reach the join
        # shuffle-free (broadcast side handles the small set)
        assert n_shuffles(plan) <= 2

    def test_cluster_round_is_keyed_joins_only(self, spark):
        """One large-star round over a pair list: equi-joins on the
        node key, never a cross product of the edge set."""
        from pdf_table_spark.ops.dedup import _large_star, _small_star
        e = spark.createDataFrame(
            [(1, 2), (2, 3)], "u long, v long")
        for step in (_large_star, _small_star):
            plan = plan_of(step(e))
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    def test_split_corpus_is_narrow(self, spark, queries):
        """Split assignment is a pure projection — zero KEYED
        shuffles (the small-scan fan-out round-robin is allowed)."""
        plan = plan_of(queries["corpus_split"](spark, SF_DIR))
        assert n_shuffles(plan) == 0

    def test_pack_chunks_avoids_global_sort_window(self, spark, queries):
        """The doc-offset prefix sum must not funnel the corpus
        through one partition: the per-doc window partitions by range
        bucket, the bucket bases broadcast back, and the only
        single-partition exchange feeds the B-row bases window."""
        plan = plan_of(queries["pack_chunks"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert n_nodes(plan, "Window") == 2
        # exactly one SinglePartition exchange (the B-row bases side),
        # and it must sit downstream of the bucket aggregate
        singles = plan.count("Exchange SinglePartition")
        assert singles <= 1

    def test_top_ngrams_is_topk_not_global_sort(self, spark, queries):
        plan = plan_of(queries["top_ngrams"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan
        assert n_nodes(plan, "Sort") == 0      # no full corpus sort
