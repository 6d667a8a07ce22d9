"""Each output check passes on a correct output and fails on a
corrupted one."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
GOLDEN = os.path.join(ROOT, "fixtures", "sf0.1", "golden_flat.parquet")


def _flat_table(rows):
    return pa.table({c: [r[i] if r[i] != "nan" else float("nan")
                         for r in rows]
                     for i, c in enumerate(checks.FLAT_COLUMNS)})


def _docs(n=30, seed=5):
    from pdf_table_spark.fixtures.generator import gen_corpus
    return {d: s for d, s, _ in gen_corpus(n, seed)}


def test_extract_sample_passes_on_reference_output():
    docs = _docs()
    rows = [r for d, s in docs.items() for r in checks.reference_rows(d, s)]
    assert checks.check_extract_sample(
        _flat_table(rows), list(docs), checks.sample_reference(docs)) == []


def test_extract_sample_fails_when_one_span_is_dropped():
    docs = _docs()
    rows = [r for d, s in docs.items() for r in checks.reference_rows(d, s)]
    errs = checks.check_extract_sample(_flat_table(rows[:7] + rows[8:]),
                                       list(docs),
                                       checks.sample_reference(docs))
    assert errs and "1 missing" in errs[0]


def test_extract_sample_fails_on_a_changed_text():
    docs = _docs()
    rows = [r for d, s in docs.items() for r in checks.reference_rows(d, s)]
    rows[3] = rows[3][:3] + (rows[3][3] + "x",) + rows[3][4:]
    assert checks.check_extract_sample(_flat_table(rows), list(docs),
                                       checks.sample_reference(docs))


def test_golden_check_fails_when_one_span_is_dropped():
    golden = pq.read_table(GOLDEN).slice(0, 400)
    assert checks.check_golden(golden, golden) == []
    corrupt = pa.concat_tables([golden.slice(0, 100), golden.slice(101)])
    assert checks.check_golden(corrupt, golden)


def test_head_check_fails_when_one_row_is_dropped():
    golden = pq.read_table(os.path.join(ROOT, "fixtures", "sf0.1",
                                        "golden_scan_boxes.parquet"))
    rows = list(zip(*(golden.column(c).to_pylist()
                      for c in checks.HEAD_COLUMNS)))
    assert checks.check_head("det_cnn", rows[::-1], golden) == []
    errs = checks.check_head("det_cnn", rows[1:], golden)
    assert errs and "1 missing" in errs[0]


def test_stage_histogram_fails_when_one_count_is_off_by_one():
    from pdf_table_spark.fixtures.text_gen import expected_stages
    want = expected_stages(20000)
    assert checks.check_stage_histogram(dict(want), want) == []
    got = dict(want, neardup=want["neardup"] + 1)
    errs = checks.check_stage_histogram(got, want)
    assert errs and "neardup" in errs[0]


def test_streamed_vs_batch_fails_on_a_missing_row():
    docs = _docs(10)
    rows = [r for d, s in docs.items() for r in checks.reference_rows(d, s)]
    t = _flat_table(rows)
    assert checks.check_same_rows("s", t, t) == []
    assert checks.check_same_rows("s", t.slice(1), t)


def test_closed_sessions_twin():
    # user 1: events at 0, 100 (one session) then 5000 (a second one);
    # user 2: one event at 4000. Final watermark 5000: only sessions
    # whose last event + 1800 < 5000 are closed.
    ts = [0, 100, 5000, 4000]
    t = pa.table({"user_id": pa.array([1, 1, 1, 2], pa.int64()),
                  "ts": pa.array([x * 1_000_000 for x in ts],
                                 pa.timestamp("us"))})
    assert checks.closed_sessions(t) == 1
    assert checks.check_sessions(1, t) == []
    assert checks.check_sessions(2, t)


def test_no_op_resume_check():
    listing = [("batch_id=0/a.parquet", 10)]
    assert checks.check_unchanged("r", listing, list(listing)) == []
    assert checks.check_unchanged("r", listing,
                                  listing + [("batch_id=1/b.parquet", 3)])
