"""Seeded, cached benchmark inputs.

Each input is a pure function of its size and the run's seed. It is
written once under ``<cache>/<key>`` and reused by later runs with the
same key; a half-written directory never becomes visible, because it
is built under a temporary name and renamed when complete.

* span corpus  — ``fixtures.generator.gen_corpus(n, seed)``, written as
  contiguous doc ranges, one parquet file per range, in doc order;
* text corpus  — ``fixtures.text_gen.doc_row`` rows (content does not
  depend on the seed; the seed permutes which file and position each
  row lands in) plus the decontamination bench table;
* events       — ``(user_id, ts, event_id)`` click streams with
  in-session gaps under 30 minutes and session breaks well over it.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
SPAN_FILES = 64
TEXT_FILES = 16
EVENT_FILES = 8


def _build(cache: str, key: str, write) -> str:
    """Return ``<cache>/<key>``, calling ``write(tmp_dir)`` first when
    it does not exist yet."""
    final = os.path.join(cache, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.rename(tmp, final)
    return final


# ------------------------------------------------------------ span corpus

def span_corpus(cache: str, n_docs: int, seed: int) -> str:
    """Directory of ``SPAN_FILES`` parquet files holding
    ``gen_corpus(n_docs, seed)``; file ``k`` holds the k-th contiguous
    doc range."""
    from pdf_table_spark.fixtures.generator import gen_corpus

    def write(tmp):
        rows = list(gen_corpus(n_docs, seed))
        edges = [n_docs * k // SPAN_FILES for k in range(SPAN_FILES + 1)]
        for k in range(SPAN_FILES):
            part = rows[edges[k]:edges[k + 1]]
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in part], pa.string()),
                "spans": pa.array([r[1] for r in part], pa.list_(SPAN_TYPE)),
            }), os.path.join(tmp, f"part-{k:05d}.parquet"))
    return _build(cache, f"spans-{n_docs}-{seed}", write)


# ------------------------------------------------------------ text corpus

def text_corpus(cache: str, n_docs: int, n_bench: int,
                seed: int) -> tuple[str, str]:
    """(corpus_dir, bench_dir) for the assembly program. The stage
    histogram is ``text_gen.expected_stages(n_docs)`` for every seed."""
    from pdf_table_spark.fixtures.text_gen import bench_text, doc_row

    def write(tmp):
        order = list(range(n_docs))
        random.Random(seed).shuffle(order)
        corpus = os.path.join(tmp, "corpus")
        os.makedirs(corpus)
        for k in range(TEXT_FILES):
            rows = [doc_row(i, n_docs, n_bench) for i in order[k::TEXT_FILES]]
            pq.write_table(pa.table({
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "source": [r[2] for r in rows]}),
                os.path.join(corpus, f"part-{k:05d}.parquet"))
        bench = os.path.join(tmp, "bench")
        os.makedirs(bench)
        pq.write_table(pa.table({
            "doc_id": [f"b{b:07d}" for b in range(n_bench)],
            "text": [bench_text(b) for b in range(n_bench)]}),
            os.path.join(bench, "part-00000.parquet"))
    root = _build(cache, f"text-{n_docs}-{n_bench}-{seed}", write)
    return os.path.join(root, "corpus"), os.path.join(root, "bench")


# ------------------------------------------------------------ events

EVENTS_PER_USER = 25
EPOCH = 1_700_000_000


def event_table(n_events: int, seed: int) -> pa.Table:
    """Seeded click stream, sorted by ts. Gaps: 85% within a session
    (under 10 min), 15% session breaks (40 min to 4 h). Whole seconds,
    so the 1800 s gap test has no sub-second edge."""
    rng = np.random.default_rng(seed)
    n_users = max(1, n_events // EVENTS_PER_USER)
    users = rng.integers(0, n_users, n_events)
    users.sort(kind="stable")
    gaps = np.where(rng.random(n_events) < 0.85,
                    rng.integers(1, 600, n_events),
                    rng.integers(2400, 14400, n_events))
    starts = rng.integers(0, 86400, n_users)
    first = np.r_[True, users[1:] != users[:-1]]
    ts = np.cumsum(np.where(first, 0, gaps))
    # restart the running sum at each user's first event
    ts = ts - np.maximum.accumulate(np.where(first, ts, 0))
    ts = EPOCH + starts[users] + ts
    order = np.argsort(ts, kind="stable")
    return pa.table({
        "user_id": pa.array(users[order], pa.int64()),
        "ts": pa.array(ts[order] * 1_000_000, pa.timestamp("us")),
        "event_id": pa.array(np.arange(n_events), pa.int64()),
    })


def events(cache: str, n_events: int, seed: int) -> str:
    """Directory of ``EVENT_FILES`` parquet files of ``event_table``."""
    def write(tmp):
        t = event_table(n_events, seed)
        edges = [n_events * k // EVENT_FILES for k in range(EVENT_FILES + 1)]
        for k in range(EVENT_FILES):
            pq.write_table(t.slice(edges[k], edges[k + 1] - edges[k]),
                           os.path.join(tmp, f"part-{k:05d}.parquet"))
    return _build(cache, f"events-{n_events}-{seed}", write)

