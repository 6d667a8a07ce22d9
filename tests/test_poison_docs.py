"""Poison containment: malformed payloads must quarantine to 'error'
spans, never kill the job or disturb neighboring documents."""


def test_malformed_pages_quarantine_not_crash(spark):
    from pdf_table_spark.spark.pipeline import (
        extract_documents, flatten_output)

    rows = [
        ("good", [("text", "hello world", "", 0)]),
        ("bad_json", [("pdf_page", "{not json at all", "page://bad/0", 0),
                      ("text", "survivor line", "", 1)]),
        ("bad_html", [("html_table", "<table><tr><td colspan='x'>",
                       "", 0)]),
        ("bad_types", [("pdf_page",
                        '{"text_lines": [{"x0": "NaNstr"}]}',
                        "page://bad/1", 0)]),
    ]
    docs = spark.createDataFrame(
        [(d, [{"kind": k, "text": t, "media_ref": m, "offset": o}
              for k, t, m, o in spans]) for d, spans in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")

    flat = flatten_output(extract_documents(docs))
    by_doc = {}
    for r in flat.collect():
        by_doc.setdefault(r.doc_id, []).append(r)

    assert [ (r.kind, r.text) for r in by_doc["good"] ] == [
        ("paragraph", "hello world")]
    kinds = [r.kind for r in sorted(by_doc["bad_json"],
                                    key=lambda r: r.offset)]
    assert kinds == ["error", "paragraph"]        # doc survives partially
    assert by_doc["bad_json"][0].media_ref == "page://bad/0"
    assert by_doc["bad_html"][0].kind in ("error", "table_html")
    assert all(r.kind == "error" for r in by_doc["bad_types"]) or \
        by_doc["bad_types"][0].kind in ("paragraph", "table_html")


def test_error_spans_match_single_process_oracle(spark):
    # the golden oracle path quarantines identically (shared function)
    from pdf_table_spark.core.page import extract_document
    out = extract_document([
        {"kind": "pdf_page", "text": "{broken", "media_ref": "m0",
         "offset": 0},
        {"kind": "text", "text": "ok", "media_ref": "", "offset": 1},
    ])
    assert [(o["kind"], o["offset"]) for o in out] == [
        ("error", 0), ("paragraph", 1)]


def test_extraction_metrics_accumulators(spark, fixture_root):
    import os

    from pdf_table_spark.spark.pipeline import (
        extract_documents, flatten_output)
    from pdf_table_spark.spark.stages import ExtractionMetrics

    docs = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    m = ExtractionMetrics.create(spark)
    flat = flatten_output(extract_documents(docs, metrics=m))
    n_out = flat.count()
    snap = m.snapshot()
    # the corpus carries planted poison payloads (~2% of pdf_pages);
    # every one must be counted, none may kill the job
    n_err = flat.filter(flat.kind == "error").count()
    assert snap["errors"] == n_err
    assert snap["decode_ms"] > 0
    # every span row passes through the single Arrow stage
    n_spans = docs.selectExpr(
        "sum(size(spans))").collect()[0][0]
    assert snap["spans_in"] == n_spans
    # fragments = real output rows + sentinel rows for empty spans
    assert snap["frags_out"] >= n_out
    assert n_out > 0


def test_broadcast_model_stage_scores(spark, fixture_root):
    import json
    import os

    import numpy as np

    from pdf_table_spark.spark.model_stage import (
        CLASSES, WEIGHTS, score_page_layout)

    docs = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    got = {(r.doc_id, r.offset):
           (r.score_table, r.score_text, r.score_figure, r.layout_class)
           for r in score_page_layout(docs).collect()}
    assert got

    # recompute expectations single-process; malformed payloads (the
    # planted poison) must come back quarantined as 'error' rows
    w = np.asarray(WEIGHTS)
    n_checked = 0
    for row in docs.collect():
        for s in row.spans:
            if s.kind != "pdf_page":
                continue
            try:
                page = json.loads(s.text)
            except ValueError:
                assert got[(row.doc_id, s.offset)] == \
                    (0.0, 0.0, 0.0, "error")
                n_checked += 1
                continue
            f = np.array([len(page.get("text_lines") or ()),
                          len(page.get("rects") or ()),
                          len(page.get("images") or ()), 1.0])
            scores = f @ w
            exp = (*np.round(scores, 6), CLASSES[int(np.argmax(scores))])
            assert got[(row.doc_id, s.offset)] == exp
            n_checked += 1
    assert n_checked == len(got)


def test_layout_figure_suppression_and_score_gate():
    """J4/F5: a table inside a figure-labeled layout region (score >=
    0.8) is suppressed and its text released; low-score figure boxes
    do nothing."""
    import json
    import random

    from pdf_table_spark.core.page import extract_pdf_page
    from pdf_table_spark.fixtures.generator import _page_json, _ruled_table
    rng = random.Random(4)
    rects, texts, bbox = _ruled_table(rng, 80.0, 700.0, 2, 2)
    page = json.loads(_page_json(texts, rects))
    page["layout"] = [{"x0": bbox[0] - 4, "y0": bbox[1] - 4,
                       "x1": bbox[2] + 4, "y1": bbox[3] + 4,
                       "label": "figure", "score": 0.95}]
    frags = extract_pdf_page(json.dumps(page), "m")
    assert not any(f[0] == "table_html" for f in frags)
    assert any(f[0] == "paragraph" for f in frags)  # text released

    page["layout"][0]["score"] = 0.5  # below threshold → table kept
    frags2 = extract_pdf_page(json.dumps(page), "m")
    assert any(f[0] == "table_html" for f in frags2)

    page["layout"][0].update(score=0.95, label="text")  # wrong label
    frags3 = extract_pdf_page(json.dumps(page), "m")
    assert any(f[0] == "table_html" for f in frags3)


def test_malformed_ocr_page_quarantined():
    """OCR-path payloads are poison-contained like pdf_page ones."""
    from pdf_table_spark.core.page import extract_document
    out = extract_document([
        {"kind": "ocr_page", "text": "{not json", "media_ref": "m1",
         "offset": 0},
        {"kind": "ocr_page", "text": '{"width": 1}', "media_ref": "m2",
         "offset": 1},  # missing keys → empty page, not an error
        {"kind": "text", "text": "fine", "media_ref": "", "offset": 2},
    ])
    kinds = [(o["kind"], o["media_ref"]) for o in out]
    assert ("error", "m1") in kinds
    assert ("paragraph", "") in kinds
    assert out[0]["text"].startswith("ocr_page:")


_LINES = ('{"x0": 72.0, "y0": 700.0, "x1": 300.0, "y1": 712.0, '
          '"text": "Alpha beta"}, {"x0": 72.0, "y0": 680.0, "x1": 280.0, '
          '"y1": 692.0, "text": "gamma delta"}')


def _page(extra_line="", extra_field=""):
    line = f", {extra_line}" if extra_line else ""
    return (f'{{"width": 612, "height": 792{extra_field}, '
            f'"text_lines": [{_LINES}{line}]}}')


def test_page_payload_parse_keeps_json_semantics():
    """Page payloads go through orjson, but every payload decodes to
    what ``json.loads`` gives, including what orjson rejects or reads
    differently (NaN, Infinity, out-of-range floats, lone surrogates,
    integers past 64 bits), and extraction gives the fragments pinned
    from the ``json.loads`` decoder. A broken payload is still a
    ``JSONDecodeError`` quarantine."""
    import json
    import math

    from pdf_table_spark.core.page import extract_span, load_page

    payloads = {
        "nan_field": _page(extra_field=', "dpi": NaN'),
        "nan_coord": _page('{"x0": NaN, "y0": 600.0, "x1": 90.0, '
                           '"y1": 612.0, "text": "nan line"}'),
        "infinity": _page('{"x0": 72.0, "y0": 500.0, "x1": Infinity, '
                          '"y1": 512.0, "text": "wide"}',
                          ', "scale": -Infinity, "far": 1e400'),
        "lone_surrogate": _page('{"x0": 72.0, "y0": 600.0, "x1": 90.0, '
                                '"y1": 612.0, "text": "x\\ud800y"}'),
        "int_2_70": _page(f'{{"x0": 72.0, "y0": 600.0, "x1": {2 ** 70}, '
                          f'"y1": 612.0, "text": "huge"}}',
                          f', "lo": -{2 ** 63 + 1}, "hi": {2 ** 64 - 1}'),
        "plain": _page(),
    }
    for name, p in payloads.items():
        got, want = load_page(p), json.loads(p)
        assert repr(got) == repr(want), name   # NaN-safe, types included
    assert load_page(payloads["int_2_70"])["text_lines"][2]["x1"] == 2 ** 70
    assert math.isinf(load_page(payloads["infinity"])["far"])

    para = [("paragraph", "Alpha betagamma delta", "", None, None)]
    want = {
        "nan_field": para,
        "nan_coord": [("paragraph", "Alpha betagamma deltanan line", "",
                       None, None)],
        "infinity": [("paragraph", "Alpha betagamma deltawide", "",
                      None, None)],
        "lone_surrogate": [("paragraph",
                            "Alpha betagamma deltax\ud800y", "", None, None)],
        "int_2_70": [("paragraph", "Alpha betagamma deltahuge", "",
                      None, None)],
        "plain": para,
    }
    for name, p in payloads.items():
        assert extract_span("pdf_page", p, "m.png") == want[name], name
    truncated = payloads["plain"][:-3]
    assert extract_span("pdf_page", truncated, "m.png") == [
        ("error", "pdf_page:JSONDecodeError", "m.png", None, None)]
