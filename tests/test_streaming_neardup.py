"""Incremental MinHash-LSH near-dup gate: new arrivals are deduped
against the persistent band index of everything ingested so far, with
exactly-once replay semantics for the index writes themselves."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@pytest.fixture
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "index", "ckpt")}
    os.makedirs(d["in"])
    return d


def _wave(dst, name, rows):
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows],
                  "text": [r[1] for r in rows]}),
        os.path.join(dst, name))


def _texts(seed_words):
    # ~30 distinct tokens per doc: enough 5-token shingles that
    # distinct docs land in distinct LSH buckets
    return " ".join(f"{w}{i}" for i in range(30) for w in seed_words[:1])


def _out_ids(out_dir):
    import glob
    ids = []
    for f in glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                       recursive=True):
        ids.extend(pq.read_table(f, columns=["doc_id"])
                   .column("doc_id").to_pylist())
    return sorted(ids)


def test_neardup_stream_gates_against_index(spark, dirs):
    from pdf_table_spark.streaming.neardup import run_neardup_stream

    base = {f"a{i}": _texts([f"w{i}x"]) for i in range(5)}
    wave1 = list(base.items()) + [("a0_copy", base["a0"])]
    _wave(dirs["in"], "w1.parquet", wave1)
    run_neardup_stream(spark, dirs["in"], dirs["out"], dirs["index"],
                       dirs["ckpt"])
    # within-batch dup: the copy drops, the smaller doc_id survives
    assert _out_ids(dirs["out"]) == sorted(base)

    # wave 2: a dup of an INDEXED doc drops; a new doc survives
    _wave(dirs["in"], "w2.parquet",
          [("b_new", _texts(["zq"])), ("b_copy_a2", base["a2"])])
    run_neardup_stream(spark, dirs["in"], dirs["out"], dirs["index"],
                       dirs["ckpt"])
    assert _out_ids(dirs["out"]) == sorted(list(base) + ["b_new"])

    # no new files: nothing reprocessed, nothing duplicated
    run_neardup_stream(spark, dirs["in"], dirs["out"], dirs["index"],
                       dirs["ckpt"])
    assert _out_ids(dirs["out"]) == sorted(list(base) + ["b_new"])

    # only survivors entered the index (6 docs x 16 bands)
    bands = spark.read.parquet(os.path.join(dirs["index"], "bands"))
    assert bands.count() == 6 * 16
    assert sorted(r.doc_id for r in
                  bands.select("doc_id").distinct().collect()) == \
        sorted(list(base) + ["b_new"])


def test_neardup_gate_batch_replay_is_idempotent(spark, dirs):
    """A replayed foreachBatch invocation (same batch_id) must
    overwrite its own partitions, not append — and must not flag its
    own half-written index rows as duplicates."""
    from pdf_table_spark.streaming.neardup import neardup_gate_batch

    docs1 = spark.createDataFrame(
        [("a", _texts(["ma"])), ("b", _texts(["nb"]))],
        "doc_id string, text string")
    neardup_gate_batch(docs1, 0, dirs["out"], dirs["index"])
    docs2 = spark.createDataFrame(
        [("c", _texts(["oc"])), ("d", _texts(["ma"]))],  # d dups a
        "doc_id string, text string")
    neardup_gate_batch(docs2, 1, dirs["out"], dirs["index"])
    assert _out_ids(dirs["out"]) == ["a", "b", "c"]

    # replay batch 1 (kill-after-write, before offset commit)
    neardup_gate_batch(docs2, 1, dirs["out"], dirs["index"])
    assert _out_ids(dirs["out"]) == ["a", "b", "c"]
    bands = spark.read.parquet(os.path.join(dirs["index"], "bands"))
    assert bands.count() == 3 * 16  # no duplicated index rows
    sigs = spark.read.parquet(os.path.join(dirs["index"], "sigs"))
    assert sigs.count() == 3


def test_gate_batch_releases_its_checkpoints(spark, dirs):
    """Each micro-batch frees its local checkpoints once its writes are
    done, so a long-running stream does not accumulate one pair of
    persisted RDDs per batch."""
    from pdf_table_spark.streaming.neardup import neardup_gate_batch

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for bid in range(3):
        docs = spark.createDataFrame(
            [(f"d{bid}", _texts([f"q{bid}"])), (f"e{bid}", _texts(["ma"]))],
            "doc_id string, text string")
        before = persistent()
        neardup_gate_batch(docs, bid, dirs["out"], dirs["index"])
        assert persistent() - before == set(), bid
    assert _out_ids(dirs["out"]) == ["d0", "d1", "d2", "e0"]
