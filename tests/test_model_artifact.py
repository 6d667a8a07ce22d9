"""The model seam with REAL file-loaded artifacts: serialized .npz
weights flow driver-load → broadcast → executor-side version-keyed
singleton, with per-worker single materialization across versions."""

import numpy as np
import pytest


@pytest.fixture
def docs(spark, fixture_root):
    import os
    return spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))


def test_npz_artifact_matches_literal_fallback(spark, docs, tmp_path):
    from pdf_table_spark.spark.model_stage import (
        WEIGHTS, save_weights, score_page_layout)
    path = str(tmp_path / "layout_v1.npz")
    save_weights(path, WEIGHTS, "layout-linear-v1-file")
    lit = {(r.doc_id, r.offset): (r.score_table, r.layout_class)
           for r in score_page_layout(docs).collect()}
    art = {(r.doc_id, r.offset): (r.score_table, r.layout_class)
           for r in score_page_layout(docs, weights_path=path).collect()}
    assert lit == art and lit


def test_second_version_changes_scores(spark, docs, tmp_path):
    from pdf_table_spark.spark.model_stage import (
        WEIGHTS, save_weights, score_page_layout)
    v2 = np.asarray(WEIGHTS) * 2.0  # scaled head: argmax preserved,
    path = str(tmp_path / "layout_v2.npz")  # scores doubled
    save_weights(path, v2, "layout-linear-v2")
    base = {(r.doc_id, r.offset): r.score_table
            for r in score_page_layout(docs).collect()}
    scaled = {(r.doc_id, r.offset): r.score_table
              for r in score_page_layout(
                  docs, weights_path=path).collect()}
    assert scaled == {k: pytest.approx(2.0 * v) for k, v in base.items()}


def test_single_materialization_per_worker_across_versions(
        spark, docs, tmp_path):
    """The version-keyed singleton materializes each artifact at most
    once per Python worker, no matter how many tasks run: with reused
    workers, materializations < tasks, and a SECOND pass over the same
    version adds none."""
    from pdf_table_spark.spark.model_stage import (
        WEIGHTS, save_weights, score_page_layout)
    sc = spark.sparkContext
    n_workers = int(spark.conf.get("spark.master")
                    .split("[")[1].rstrip("]").replace("*", "64") or 64)

    path = str(tmp_path / "layout_mat.npz")
    save_weights(path, WEIGHTS, "layout-mat-test-v1")
    counter = sc.accumulator(0)
    df = score_page_layout(docs, weights_path=path,
                           _mat_counter=counter).repartition(16)
    n_tasks = df.rdd.getNumPartitions()
    df.count()
    first = counter.value
    assert 1 <= first <= n_workers < n_tasks

    # same version again: every worker already holds it → no new
    # materializations (workers are reused within the session)
    score_page_layout(docs, weights_path=path,
                      _mat_counter=counter).count()
    assert counter.value == first

    # a DIFFERENT version materializes independently (coexists in the
    # same workers without evicting v1)
    path2 = str(tmp_path / "layout_mat2.npz")
    save_weights(path2, np.asarray(WEIGHTS) * 3.0, "layout-mat-test-v2")
    counter2 = sc.accumulator(0)
    score_page_layout(docs, weights_path=path2,
                      _mat_counter=counter2).count()
    assert 1 <= counter2.value <= n_workers
    # and v1 is STILL warm: another v1 pass adds nothing
    score_page_layout(docs, weights_path=path,
                      _mat_counter=counter).count()
    assert counter.value == first


def test_save_load_roundtrip(tmp_path):
    from pdf_table_spark.spark.model_stage import load_artifact, save_weights
    w = [[1.5, -2.0], [0.25, 4.0]]
    path = str(tmp_path / "rt.npz")
    save_weights(path, w, "rt-v9")
    tensors, version = load_artifact(path)
    assert version == "rt-v9"
    assert np.array_equal(tensors["weights"], np.asarray(w))


def test_heads_sharing_a_version_keep_separate_models(
        spark, tmp_path, monkeypatch):
    """Two heads whose artifacts carry the SAME version string each
    materialise their own model in a worker. The stage functions are
    captured at the mapInArrow call and driven in this one process, so
    the quality stage runs in a process that already materialised the
    layout head (deterministically, unlike Spark's worker reuse)."""
    import json

    import pyarrow as pa

    from pdf_table_spark.spark.model_stage import (
        QUALITY_WEIGHTS, WEIGHTS, save_weights, score_doc_quality,
        score_page_layout)
    stages = []
    frame = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    monkeypatch.setattr(type(frame), "mapInArrow",
                        lambda df, fn, schema, **kw: stages.append(fn))
    lay_path = str(tmp_path / "layout_shared.npz")
    qu_path = str(tmp_path / "quality_shared.npz")
    save_weights(lay_path, WEIGHTS, "shared-collide-v1")
    save_weights(qu_path, QUALITY_WEIGHTS, "shared-collide-v1")
    spans = spark.createDataFrame(
        [("d0", [("pdf_page", "{}", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    score_page_layout(spans, weights_path=lay_path)
    score_doc_quality(frame, weights_path=qu_path)
    layout_stage, quality_stage = stages

    page = json.dumps({"text_lines": [{}], "rects": [], "images": []})
    lay = next(layout_stage(iter([pa.RecordBatch.from_pydict(
        {"doc_id": ["d0"], "offset": pa.array([0], pa.int32()),
         "text": [page]})])))
    assert lay.column("layout_class").to_pylist() == ["text"]
    qu = next(quality_stage(iter([pa.RecordBatch.from_pydict(
        {"doc_id": pa.array([1], pa.int64()),
         "text": ["the cat sat"]})])))
    # keep = .015*3 + .001*9 + .005*3 + 1*1; drop = .010*3 + .001*9 + 1.4
    assert qu.column("score_keep").to_pylist() == [pytest.approx(1.069)]
    assert qu.column("score_drop").to_pylist() == [pytest.approx(1.439)]


# ---- doc-quality head: the same seam, text-side ----


def _qdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_quality_scores_literal_expectations(spark):
    """Hand-computed matmul over the literal QUALITY_WEIGHTS: features
    (n_words, word_chars, n_alpha, stop_hits, 1) for crafted docs."""
    from pdf_table_spark.spark.model_stage import score_doc_quality
    out = {r.doc_id: r for r in score_doc_quality(_qdocs(spark, [
        (1, "the cat sat"),          # f = (3, 9, 3, 1, 1)
        (2, "1 2 3"),                # f = (3, 3, 0, 0, 1)
    ])).collect()}
    # keep = .015*3 + .001*9 + .005*3 + 1*1 = 1.069
    # drop = .010*3 + .001*9 + 1.4 = 1.439
    assert out[1].score_keep == pytest.approx(1.069)
    assert out[1].score_drop == pytest.approx(1.439)
    assert out[1].pred == "drop"
    # keep = .045 + .003 + 0 + 0 = .048; drop = .03 + .003 + 1.4
    assert out[2].score_keep == pytest.approx(0.048)
    assert out[2].score_drop == pytest.approx(1.433)
    assert out[2].pred == "drop"


def test_quality_npz_artifact_and_versioning(spark, tmp_path):
    """A file-loaded quality head flows through the same broadcast /
    version-keyed singleton; a scaled second version doubles scores."""
    from pdf_table_spark.spark.model_stage import (
        QUALITY_WEIGHTS, save_weights, score_doc_quality)
    docs = _qdocs(spark, [(i, f"the word salad number {i} of text")
                          for i in range(20)])
    path = str(tmp_path / "quality_v1.npz")
    save_weights(path, QUALITY_WEIGHTS, "doc-quality-file-v1")
    lit = {r.doc_id: (r.score_keep, r.pred)
           for r in score_doc_quality(docs).collect()}
    art = {r.doc_id: (r.score_keep, r.pred)
           for r in score_doc_quality(docs, weights_path=path).collect()}
    assert lit == art and lit

    path2 = str(tmp_path / "quality_v2.npz")
    save_weights(path2, np.asarray(QUALITY_WEIGHTS) * 2.0,
                 "doc-quality-file-v2")
    scaled = {r.doc_id: r.score_keep
              for r in score_doc_quality(
                  docs, weights_path=path2).collect()}
    assert scaled == {k: pytest.approx(2 * v)
                      for k, (v, _) in lit.items()}


def test_quality_stage_single_python_boundary(spark):
    """One mapInArrow stage, no shuffle — scan-speed at 100 TB."""
    from pdf_table_spark.spark.model_stage import score_doc_quality
    plan = (score_doc_quality(_qdocs(spark, [(1, "x")]))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan


def test_tsr_head_hand_worked_example():
    """Frozen hand computation: 4 dets in a 2x2 grid → 4 cells whose
    logical axes are exactly (col+.5, col+.5, row+.5, row+.5), which
    round_logi floors (the .5-rounds-DOWN quirk) to (col, col, row,
    row); the HTML reads row-major."""
    from pdf_table_spark.core.tsrhead import (
        TSR_WEIGHTS, extract_page_from_model, structure_from_dets)
    dets = [
        {"x0": 0.0, "y0": 0.0, "x1": 20.0, "y1": 10.0, "text": "a"},
        {"x0": 40.0, "y0": 0.0, "x1": 60.0, "y1": 10.0, "text": "b"},
        {"x0": 0.0, "y0": 30.0, "x1": 20.0, "y1": 40.0, "text": "c"},
        {"x0": 40.0, "y0": 30.0, "x1": 60.0, "y1": 40.0, "text": "d"},
    ]
    s = structure_from_dets(dets, TSR_WEIGHTS)
    assert sorted(s["logi"]) == [
        [0.5, 0.5, 0.5, 0.5], [0.5, 0.5, 1.5, 1.5],
        [1.5, 1.5, 0.5, 0.5], [1.5, 1.5, 1.5, 1.5]]
    html = extract_page_from_model({"det_cells": dets}, TSR_WEIGHTS)
    assert html == ('<table border="1"><tbody>'
                    '<tr><td width="33%">a</td><td width="33%">b</td>'
                    "</tr>"
                    '<tr><td width="33%">c</td><td width="33%">d</td>'
                    "</tr></tbody></table>")


def test_tsr_head_merges_same_cell_dets_and_clusters_bands():
    """Two dets in one visual band/column merge into ONE cell with
    reading-order text; a det beyond the tolerance opens a new row."""
    from pdf_table_spark.core.tsrhead import (
        TSR_WEIGHTS, grid_assign, structure_from_dets)
    dets = [
        {"x0": 0.0, "y0": 0.0, "x1": 20.0, "y1": 10.0, "text": "x"},
        {"x0": 2.0, "y0": 1.0, "x1": 22.0, "y1": 11.0, "text": "y"},
        {"x0": 0.0, "y0": 50.0, "x1": 20.0, "y1": 60.0, "text": "z"},
    ]
    assert grid_assign(dets) == [(0, 0), (0, 0), (1, 0)]
    s = structure_from_dets(dets, TSR_WEIGHTS)
    assert len(s["polygons"]) == 2     # one unit per occupied cell


def test_tsr_stage_from_npz_matches_fixture_golden(spark, fixture_root):
    """The distributed artifact path reproduces the single-process
    golden exactly: spark mapInArrow (npz → broadcast → singleton)
    vs fixtures/build.py's core.tsrhead run."""
    import os
    from pdf_table_spark.spark.model_stage import score_table_structure
    docs = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    npz = os.path.join(fixture_root, "sf0.001", "tsr_head.npz")
    got = {(r.doc_id, r.offset): r.text
           for r in score_table_structure(
               docs, weights_path=npz).collect()}
    want = {(r.doc_id, r.offset): r.text
            for r in spark.read.parquet(os.path.join(
                fixture_root, "sf0.001",
                "golden_model_tsr.parquet")).collect()}
    assert got == want and want


def test_tsr_stage_single_python_boundary(spark, fixture_root):
    import os
    import re
    from pdf_table_spark.spark.model_stage import score_table_structure
    docs = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    df = score_table_structure(docs)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert len(re.findall(r"^\(\d+\) MapInArrow\b", plan,
                          re.MULTILINE)) == 1
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet\b", plan,
                          re.MULTILINE)) == 1
