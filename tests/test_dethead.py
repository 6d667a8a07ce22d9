"""M3/M5 det/rec head (`core.dethead` + `score_det_contours`):
text-line detection + recognition recovered from per-character glyph
evidence, never reading the planted det_cells.

Semantic pins:
- glyphs of one word concatenate with no space; a one-char-slot gap
  inserts exactly one space; a >= 2x-char-width gap splits detections
- a full-height neighbor never captures a half-height stacked line
  (2-D y-overlap gate, not a 1-D y-band)
- det boxes are the tight glyph bbox
- shuffled glyph input is irrelevant (the head sorts)
- the Spark stage quarantines unparseable payloads, loads .npz
  artifacts like the other heads, and keeps ONE Python boundary
- fixture-corpus parity: on every ocr_page the recovered detections
  equal the generator-planted det_cells after the interval-merge the
  oracle applies (same y-extent, x-gap rules)
"""

import json

PAGE_SCHEMA = ("doc_id string, spans array<struct<kind:string,"
               "text:string,media_ref:string,offset:int>>")


def _glyphs(text, x0, y0, y1, cw=7.0):
    out = []
    for i, ch in enumerate(text):
        if ch == " ":
            continue
        out.append({"c": ch, "x0": x0 + cw * i, "x1": x0 + cw * (i + 1),
                    "y0": y0, "y1": y1})
    return out


def test_word_space_and_split_rules():
    from pdf_table_spark.core.dethead import detect_lines
    g = (_glyphs("mike lima", 50.0, 100.0, 118.0)      # space at gap=7
         + _glyphs("echo", 150.0, 100.0, 118.0))       # gap 37 → split
    out = detect_lines({"glyphs": g})
    assert [(d["text"], d["x0"], d["x1"]) for d in out] == [
        ("mike lima", 50.0, 113.0), ("echo", 150.0, 178.0)]


def test_adjacent_boxes_merge_as_one_detection():
    from pdf_table_spark.core.dethead import detect_lines
    # second "det" printed one space-slot after the first: a raster
    # det model sees one line — merged, single space
    g = (_glyphs("alpha", 50.0, 100.0, 118.0)
         + _glyphs("bravo", 50.0 + 35.0 + 8.0, 100.0, 118.0))
    out = detect_lines({"glyphs": g})
    assert [d["text"] for d in out] == ["alpha bravo"]
    # directly abutting (gap < half char): concatenated, no space
    g2 = (_glyphs("alpha", 50.0, 100.0, 118.0)
          + _glyphs("bravo", 86.0, 100.0, 118.0))
    assert [d["text"] for d in detect_lines({"glyphs": g2})] == [
        "alphabravo"]


def test_stacked_half_lines_stay_separate():
    from pdf_table_spark.core.dethead import detect_lines
    # one cell holds two stacked 10pt lines; the neighbor cell holds a
    # full-height 20pt line whose y-center sits between them — the
    # overlap-ratio gate must NOT chain them into one band
    g = (_glyphs("oscar", 64.0, 110.0, 120.0, cw=6.0)
         + _glyphs("yankee", 64.0, 124.0, 134.0, cw=6.0)
         + _glyphs("uniform", 194.0, 112.0, 132.0, cw=6.0))
    out = detect_lines(g and {"glyphs": g})
    assert sorted(d["text"] for d in out) == [
        "oscar", "uniform", "yankee"]


def test_shuffled_input_and_empty_page():
    import random

    from pdf_table_spark.core.dethead import detect_lines
    g = _glyphs("charlie tango", 60.0, 200.0, 218.0)
    random.Random(7).shuffle(g)
    assert [d["text"] for d in detect_lines({"glyphs": g})] == [
        "charlie tango"]
    assert detect_lines({"glyphs": []}) == []
    assert detect_lines({}) == []


def test_fixture_corpus_parity_with_planted_dets(fixture_root):
    """Every ocr_page at sf0.001: head output == the planted det
    intervals merged by the oracle's rules (glyph evidence and planted
    boxes agree everywhere)."""
    import os
    import statistics
    from collections import defaultdict

    import duckdb

    from pdf_table_spark.core.dethead import detect_lines
    con = duckdb.connect()
    pat = os.path.join(fixture_root, "sf0.001",
                       "documents_spans.parquet", "*.parquet")
    rows = con.execute(f"""
        select s.text from (select unnest(spans) as s
                            from read_parquet('{pat}'))
        where s.kind = 'ocr_page'""").fetchall()
    assert len(rows) >= 5
    for (t,) in rows:
        p = json.loads(t)
        got = sorted((d["x0"], d["y0"], d["x1"], d["y1"], d["text"])
                     for d in detect_lines(p))
        dets = p["det_cells"]
        mw = statistics.median(
            (d["x1"] - d["x0"]) / len(d["text"]) for d in dets)
        groups = defaultdict(list)
        for d in dets:
            groups[(d["y0"], d["y1"])].append(d)
        exp = []
        for (y0, y1), grp in groups.items():
            grp.sort(key=lambda d: d["x0"])
            runs = [[grp[0]]]
            for d in grp[1:]:
                if d["x0"] - runs[-1][-1]["x1"] >= 2 * mw:
                    runs.append([d])
                else:
                    runs[-1].append(d)
            for r in runs:
                text = r[0]["text"]
                for prev, d in zip(r, r[1:]):
                    if d["x0"] - prev["x1"] >= 0.5 * mw:
                        text += " "
                    text += d["text"]
                exp.append((r[0]["x0"], y0, r[-1]["x1"], y1, text))
        assert got == sorted(exp)


def test_contour_blobs_grouping_and_rank():
    from pdf_table_spark.core.dethead import contour_blobs
    mk = lambda x0, y0, x1, y1: {"x0": x0, "y0": y0, "x1": x1,
                                 "y1": y1, "text": ""}
    # table rows 8 apart chain into one blob; prose 80 below is its
    # own; median line height 18 -> tol 27
    lines = [mk(50, 60, 530, 78), mk(50, 86, 530, 104),
             mk(50, 112, 530, 130),
             mk(50, 210, 350, 228)]
    out = contour_blobs(lines)
    assert [(b["rank"], b["x0"], b["y0"], b["x1"], b["y1"])
            for b in out] == [
        (1, 50, 60, 530, 130), (2, 50, 210, 350, 228)]
    assert out[0]["area"] == 480 * 70


def test_contour_blobs_top_k_and_running_reach():
    from pdf_table_spark.core.dethead import contour_blobs
    mk = lambda y0, y1: {"x0": 10.0, "y0": y0, "x1": 110.0,
                         "y1": y1, "text": ""}
    # 12 isolated lines 200 apart -> 12 blobs, only 10 kept
    out = contour_blobs([mk(200.0 * i, 200.0 * i + 18) for i in
                         range(12)])
    assert len(out) == 10
    assert [b["rank"] for b in out] == list(range(1, 11))
    # a TALL line followed by a short one overlapping its extent:
    # the running reach (max y1 so far), not the previous line's y1,
    # must decide the chain
    tall = {"x0": 10.0, "y0": 0.0, "x1": 110.0, "y1": 100.0,
            "text": ""}
    short = {"x0": 10.0, "y0": 5.0, "x1": 60.0, "y1": 20.0,
             "text": ""}
    trailing = {"x0": 10.0, "y0": 110.0, "x1": 60.0, "y1": 125.0,
                "text": ""}
    assert len(contour_blobs([tall, short, trailing])) == 1
    assert contour_blobs([]) == []


def test_stage_npz_artifact_and_quarantine(spark, tmp_path):
    """The det stage drops (quarantines) an unparseable payload, and an
    ``.npz`` artifact of the literal weights reproduces its rows."""
    from pdf_table_spark.core.dethead import DET_WEIGHTS
    from pdf_table_spark.spark.model_stage import (
        save_weights, score_det_contours)
    payload = json.dumps({
        "det_cells": [], "glyphs": _glyphs("kilo", 50.0, 100.0, 118.0)})
    df = spark.createDataFrame(
        [("d0", [("ocr_page", payload, None, 0)]),
         ("d1", [("ocr_page", '{"glyphs": broken', None, 0)])],
        PAGE_SCHEMA)
    lit = score_det_contours(df).collect()
    assert {(r.doc_id, r.kind) for r in lit} == {
        ("d0", "det_cell"), ("d0", "contour")}
    assert [r.text.split("|")[1] for r in lit
            if r.kind == "det_cell"] == ["kilo"]
    path = str(tmp_path / "det_v1.npz")
    save_weights(path, DET_WEIGHTS, "det-rec-linear-v1-file")
    art = score_det_contours(df, weights_path=path).collect()
    assert [tuple(r) for r in art] == [tuple(r) for r in lit]


def test_score_det_contours_shares_one_boundary(spark):
    """Det lines and contour proposals come out of ONE narrow Python
    boundary."""
    from pdf_table_spark.spark.model_stage import score_det_contours
    payload = json.dumps({
        "det_cells": [],
        "glyphs": _glyphs("kilo lima", 50.0, 100.0, 118.0)})
    df = spark.createDataFrame(
        [("d0", [("ocr_page", payload, None, 0)])], PAGE_SCHEMA)
    rows = {(r.kind, r.text) for r in score_det_contours(df).collect()}
    assert rows == {
        ("det_cell", "50.0,100.0,113.0,118.0|kilo lima"),
        ("contour", "1|50.0,100.0,113.0,118.0|1134.0")}
    plan = (score_det_contours(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInArrow") + plan.count("ArrowEvalPython") == 1
    # narrow: no exchange anywhere in the stage's plan
    assert "Exchange" not in plan
