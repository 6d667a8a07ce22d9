"""Seeded inputs are reproducible and match the generators they wrap."""

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_seed_42_reproduces_the_sf01_fixture_doc_for_doc(tmp_path):
    path = inputs.span_corpus(str(tmp_path), 5000, 42)
    got = pq.read_table(path)
    want = pq.read_table(os.path.join(
        ROOT, "fixtures", "sf0.1", "documents_spans.parquet"))
    assert got.column("doc_id").to_pylist() == sorted(
        want.column("doc_id").to_pylist())
    want = dict(zip(want.column("doc_id").to_pylist(),
                    want.column("spans").to_pylist()))
    for d, spans in zip(got.column("doc_id").to_pylist(),
                        got.column("spans").to_pylist()):
        assert spans == want[d], d


def test_inputs_are_cached_by_key(tmp_path):
    a = inputs.events(str(tmp_path), 1000, 9)
    stamp = os.path.getmtime(os.path.join(a, "part-00000.parquet"))
    assert inputs.events(str(tmp_path), 1000, 9) == a
    assert os.path.getmtime(os.path.join(a, "part-00000.parquet")) == stamp
    assert inputs.events(str(tmp_path), 1000, 10) != a


def test_events_depend_on_the_seed_and_have_session_breaks():
    a, b = inputs.event_table(5000, 1), inputs.event_table(5000, 1)
    assert a.equals(b)
    assert not a.equals(inputs.event_table(5000, 2))
    ts = a.column("ts").cast("int64").to_numpy()
    assert np.all(np.diff(ts) >= 0)
    users = a.column("user_id").to_numpy()
    order = np.lexsort((ts, users))
    u, s = users[order], ts[order] // 1_000_000
    gaps = np.diff(s)[u[1:] == u[:-1]]
    assert (gaps > 1800).any() and (gaps <= 1800).any()


def test_text_corpus_seed_permutes_order_not_content(tmp_path):
    c1, _ = inputs.text_corpus(str(tmp_path), 500, 50, 1)
    c2, _ = inputs.text_corpus(str(tmp_path), 500, 50, 2)
    t1, t2 = pq.read_table(c1), pq.read_table(c2)
    assert t1.column("doc_id").to_pylist() != t2.column("doc_id").to_pylist()
    assert sorted(zip(*t1.to_pydict().values())) == sorted(
        zip(*t2.to_pydict().values()))
