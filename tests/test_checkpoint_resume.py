"""Checkpoint/resume semantics: idempotent re-runs, manifest-gated
skipping, corruption recovery, lineage metrics."""

import json
import os
import shutil

import pytest

from pdf_table_spark.spark.checkpoint import (
    read_manifests, run_checkpointed)
from pdf_table_spark.spark.metrics import (
    content_metrics, lineage_metrics, lineage_rollup)


@pytest.fixture()
def docs(spark, fixture_root):
    return spark.read.parquet(
        os.path.join(fixture_root, "sf0.001", "documents_spans.parquet"))


def _golden_count(fixture_root):
    import pyarrow.parquet as pq
    return pq.read_table(os.path.join(
        fixture_root, "sf0.001", "golden_flat.parquet")).num_rows


def test_run_resume_and_rerun(spark, docs, fixture_root, tmp_path):
    out = str(tmp_path / "out")
    s1 = run_checkpointed(spark, docs, out, n_buckets=4, run_id="r1")
    assert len(s1["done"]) == 4 and not s1["skipped"]
    total = spark.read.parquet(out).count()
    assert total == _golden_count(fixture_root)

    # full re-run: everything skipped, output unchanged
    s2 = run_checkpointed(spark, docs, out, n_buckets=4, run_id="r2")
    assert not s2["done"] and len(s2["skipped"]) == 4
    assert spark.read.parquet(out).count() == total

    # simulate a crash mid-bucket: delete one manifest → only that
    # bucket recomputes; rows don't duplicate (overwrite semantics)
    manifests = read_manifests(out)
    victim = manifests[1]["partition_id"]
    os.remove(os.path.join(out, "_manifests", f"{victim}.json"))
    s3 = run_checkpointed(spark, docs, out, n_buckets=4, run_id="r3")
    assert s3["done"] == [victim]
    assert spark.read.parquet(out).count() == total


def test_changed_input_invalidates_bucket(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    run_checkpointed(spark, docs, out, n_buckets=4, run_id="r1")
    # stale manifest with wrong fingerprint → recompute
    mpath = os.path.join(out, "_manifests")
    name = sorted(os.listdir(mpath))[0]
    with open(os.path.join(mpath, name)) as f:
        m = json.load(f)
    m["input_fingerprint"] = 0
    with open(os.path.join(mpath, name), "w") as f:
        json.dump(m, f)
    s = run_checkpointed(spark, docs, out, n_buckets=4, run_id="r2")
    assert s["done"] == [m["partition_id"]]


def test_lineage_and_content_metrics(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    run_checkpointed(spark, docs, out, n_buckets=2, run_id="r1")
    lin = lineage_metrics(spark, out)
    assert lin.count() == 2
    roll = lineage_rollup(lin).collect()[0]
    assert roll["docs"] == docs.count()
    assert roll["n_partitions"] == 2

    flat = spark.read.parquet(out)
    cm = {r["kind"]: r for r in content_metrics(flat).collect()}
    # 'error' appears when the corpus slice contains planted poison
    assert {"table_html", "paragraph", "image"} <= set(cm) \
        <= {"table_html", "paragraph", "image", "error"}
    assert all(r["n_spans"] > 0 for r in cm.values())


def test_part_col_prunes_input_scan(spark, docs, fixture_root, tmp_path):
    """Pre-partitioned input: buckets come from the partition column
    and each bucket job's scan is pruned to that partition's files."""
    from pyspark.sql import functions as F

    part_in = str(tmp_path / "part_in")
    docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    ).write.partitionBy("part_id").parquet(part_in)
    pdocs = spark.read.parquet(part_in)

    # partition pruning is visible in the plan of a bucket's filter
    plan = pdocs.filter(F.col("part_id") == 1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part_id" in plan \
        or "part_id#" in plan

    out = str(tmp_path / "out")
    s1 = run_checkpointed(spark, pdocs, out, run_id="r1",
                          part_col="part_id")
    assert sorted(s1["done"]) == ["0", "1", "2"]  # values kept as strings
    assert spark.read.parquet(out).count() == _golden_count(fixture_root)
    s2 = run_checkpointed(spark, pdocs, out, run_id="r2",
                          part_col="part_id")
    assert not s2["done"] and len(s2["skipped"]) == 3


def test_part_col_with_escaped_chars(spark, docs, fixture_root, tmp_path):
    """Timestamp-like partition values (':' etc.) are written by Spark
    as %3A-escaped directory names; the per-bucket read-back must use
    the same escaping or resume dies mid-run."""
    from pyspark.sql import functions as F

    pdocs = docs.withColumn(
        "day", F.when(F.xxhash64("doc_id") % 2 == 0,
                      F.lit("2026-08-16 00:00:00"))
                .otherwise(F.lit("2026-08-17 00:00:00")))
    out = str(tmp_path / "out")
    s1 = run_checkpointed(spark, pdocs.drop("part_id"), out,
                          run_id="r1", part_col="day")
    assert sorted(s1["done"]) == [
        "2026-08-16 00:00:00", "2026-08-17 00:00:00"]
    assert not s1["failed"]
    assert spark.read.parquet(out).count() == _golden_count(fixture_root)
    s2 = run_checkpointed(spark, pdocs.drop("part_id"), out,
                          run_id="r2", part_col="day")
    assert not s2["done"] and len(s2["skipped"]) == 2


def test_failed_bucket_recorded_and_retried(spark, docs, tmp_path,
                                            monkeypatch):
    """A bucket failure lands in summary['failed'] with a status=failed
    manifest; the next run retries ONLY that bucket."""
    import pdf_table_spark.spark.checkpoint as cp

    real = cp.flatten_output
    victim = {}

    def boom(df):
        if victim.get("armed"):
            victim["armed"] = False
            raise RuntimeError("injected bucket failure")
        return real(df)

    monkeypatch.setattr(cp, "flatten_output", boom)
    victim["armed"] = True
    out = str(tmp_path / "out")
    s1 = run_checkpointed(spark, docs, out, n_buckets=3, run_id="r1")
    assert len(s1["failed"]) == 1 and len(s1["done"]) == 2
    bad = s1["failed"][0]
    m = {x["partition_id"]: x for x in read_manifests(out)}
    assert m[bad]["status"] == "failed" and "injected" in m[bad]["error"]

    s2 = run_checkpointed(spark, docs, out, n_buckets=3, run_id="r2")
    assert s2["done"] == [bad] and len(s2["skipped"]) == 2
    assert {x["status"] for x in read_manifests(out)} == {"ok"}


def test_metadata_fingerprint_resume_no_input_pass(spark, docs,
                                                   tmp_path, monkeypatch):
    """Hive-layout part_col input: resume fingerprints come from file
    metadata (a listing), so a fully-skipped re-run performs NO content
    pass over the input — content fingerprinting is made unreachable
    and the resume still skips everything. Touching one partition's
    file re-runs exactly that bucket."""
    import os
    import time as _time

    import pdf_table_spark.spark.checkpoint as cp
    from pyspark.sql import functions as F

    part_in = str(tmp_path / "part_in")
    docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    ).write.partitionBy("part_id").parquet(part_in)
    pdocs = spark.read.parquet(part_in)

    out = str(tmp_path / "out")
    s1 = cp.run_checkpointed(spark, pdocs, out, run_id="r1",
                             part_col="part_id",
                             fingerprint_mode="metadata")
    assert sorted(s1["done"]) == ["0", "1", "2"] and not s1["failed"]
    for m in cp.read_manifests(out):
        assert str(m["input_fingerprint"]).startswith("md:")

    def no_content_pass(*a, **k):
        raise AssertionError("content fingerprint pass on resume")

    monkeypatch.setattr(cp, "input_fingerprint", no_content_pass)
    s2 = cp.run_checkpointed(spark, pdocs, out, run_id="r2",
                             part_col="part_id",
                             fingerprint_mode="metadata")
    assert not s2["done"] and len(s2["skipped"]) == 3

    # touch ONE partition's data file → only that bucket re-runs
    pdir = os.path.join(part_in, "part_id=1")
    victim = next(os.path.join(pdir, n) for n in os.listdir(pdir)
                  if n.endswith(".parquet"))
    os.utime(victim, (int(_time.time()) + 10, int(_time.time()) + 10))
    s3 = cp.run_checkpointed(spark, spark.read.parquet(part_in), out,
                             run_id="r3", part_col="part_id",
                             fingerprint_mode="metadata")
    assert s3["done"] == ["1"] and len(s3["skipped"]) == 2


def test_metadata_mode_rejects_non_hive_input(spark, docs, tmp_path):
    """A computed (non-layout) part_col cannot be metadata-
    fingerprinted: explicit 'metadata' raises; 'auto' falls back to
    content fingerprints and still resumes."""
    import pdf_table_spark.spark.checkpoint as cp
    from pyspark.sql import functions as F

    pdocs = docs.withColumn(
        "day", F.when(F.xxhash64("doc_id") % 2 == 0, F.lit("d1"))
                .otherwise(F.lit("d2")))
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="metadata"):
        cp.run_checkpointed(spark, pdocs.drop("part_id"), out,
                            part_col="day", fingerprint_mode="metadata")
    s1 = cp.run_checkpointed(spark, pdocs.drop("part_id"), out,
                             run_id="r1", part_col="day")
    assert sorted(s1["done"]) == ["d1", "d2"]
    s2 = cp.run_checkpointed(spark, pdocs.drop("part_id"), out,
                             run_id="r2", part_col="day")
    assert not s2["done"] and len(s2["skipped"]) == 2


def test_custom_transform_checkpointed(spark, tmp_path):
    """run_checkpointed(transform=...) makes ANY program resumable —
    here the composed corpus gate. Resume skips every bucket and the
    per-bucket provenance frame lands under each part_id."""
    from pdf_table_spark.ops import dedup
    from pdf_table_spark.ops.prepare import prepare_corpus

    rows = [(i, ("the quick brown fox jumps over the lazy dog and "
                 "then the dog sleeps. " * 4) + f"unique tail {i}.")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "prep")

    def gate(d):
        return prepare_corpus(d, min_words=10, min_stopword_hits=1,
                              max_df=1000, max_bucket=1000)

    s1 = run_checkpointed(spark, docs, out, n_buckets=3, run_id="p1",
                          transform=gate)
    assert len(s1["done"]) == 3 and not s1["failed"]
    back = spark.read.parquet(out)
    assert back.count() == 40                      # one row per doc
    assert set(back.columns) >= {"doc_id", "stage", "kept", "part_id"}

    s2 = run_checkpointed(spark, docs, out, n_buckets=3, run_id="p2",
                          transform=gate)
    assert not s2["done"] and len(s2["skipped"]) == 3
    dedup.release_caches()


def test_iceberg_snapshot_fingerprint_o1_resume(spark, docs, tmp_path,
                                                monkeypatch):
    """Iceberg-layout input: the resume fingerprints the TABLE by its
    snapshot id (plain-JSON table-spec metadata, no runtime needed).
    Unchanged snapshot -> the WHOLE run skips O(1): no file listing,
    no fingerprint computation, zero Spark jobs. Snapshot bump ->
    falls back to per-bucket fingerprints (all still unchanged ->
    skipped via listings), then the marker re-records."""
    import pdf_table_spark.spark.checkpoint as cp
    from pyspark.sql import functions as F

    table = str(tmp_path / "iceberg_table")
    data = os.path.join(table, "data")
    docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    ).write.partitionBy("part_id").parquet(data)
    meta = os.path.join(table, "metadata")
    os.makedirs(meta)

    def write_snapshot(version: int, snap_id: int):
        with open(os.path.join(meta,
                               f"v{version}.metadata.json"), "w") as f:
            json.dump({"format-version": 2,
                       "current-snapshot-id": snap_id,
                       "last-sequence-number": version,
                       "last-updated-ms": 1700000000000 + version}, f)
        with open(os.path.join(meta, "version-hint.text"), "w") as f:
            f.write(str(version))

    write_snapshot(1, 4242)
    assert cp.read_table_snapshot(table)["snapshot_id"] == 4242

    pdocs = spark.read.parquet(data)
    out = str(tmp_path / "out")
    s1 = cp.run_checkpointed(spark, pdocs, out, run_id="r1",
                             part_col="part_id",
                             fingerprint_mode="metadata",
                             snapshot_path=table)
    assert len(s1["done"]) == 3 and not s1["failed"]

    # unchanged snapshot: O(1) skip — every fingerprint path is
    # unreachable, no DataFrame is touched
    def boom(*a, **k):
        raise AssertionError("fingerprinting ran despite snapshot match")

    monkeypatch.setattr(cp, "metadata_fingerprints", boom)
    monkeypatch.setattr(cp, "input_fingerprint", boom)
    s2 = cp.run_checkpointed(spark, None, out, run_id="r2",
                             part_col="part_id",
                             fingerprint_mode="metadata",
                             snapshot_path=table)
    assert s2["snapshot_skip"] and s2["snapshot_id"] == 4242
    assert len(s2["skipped"]) == 3 and not s2["done"]
    monkeypatch.undo()

    # a new snapshot invalidates the fast path; per-bucket metadata
    # fingerprints still prove every bucket unchanged
    write_snapshot(2, 4343)
    s3 = cp.run_checkpointed(spark, pdocs, out, run_id="r3",
                             part_col="part_id",
                             fingerprint_mode="metadata",
                             snapshot_path=table)
    assert "snapshot_skip" not in s3
    assert len(s3["skipped"]) == 3 and not s3["done"]
    with open(os.path.join(out, "_manifests",
                           "_table_snapshot.json")) as f:
        assert json.load(f)["snapshot_id"] == 4343


def test_non_iceberg_path_ignores_snapshot_fast_path(spark, docs,
                                                     tmp_path):
    """A plain directory (no metadata/) simply disables the snapshot
    fast path; the run behaves exactly as without snapshot_path."""
    import pdf_table_spark.spark.checkpoint as cp
    out = str(tmp_path / "out")
    assert cp.read_table_snapshot(str(tmp_path)) is None
    s1 = cp.run_checkpointed(spark, docs, out, n_buckets=2,
                             run_id="r1", snapshot_path=str(tmp_path))
    assert len(s1["done"]) == 2
    s2 = cp.run_checkpointed(spark, docs, out, n_buckets=2,
                             run_id="r2", snapshot_path=str(tmp_path))
    assert len(s2["skipped"]) == 2 and "snapshot_skip" not in s2


def test_run_extract_checkpointed_keeps_flavor(spark, fixture_root,
                                               tmp_path, monkeypatch):
    """``run_extract.py --checkpointed --flavor lattice`` hands the
    checkpointed run a transform that extracts with that flavor."""
    import importlib.util

    from pdf_table_spark.api import read_documents_flat
    from pdf_table_spark.spark import checkpoint, session

    class Shared:
        """The test session, minus the script's closing ``stop()``."""

        def __getattr__(self, name):
            return getattr(spark, name)

        def stop(self):
            pass

    seen = {}

    def fake_run(spark_, docs, out_dir, **kw):
        seen.update(kw)
        return {"done": [], "skipped": []}

    monkeypatch.setattr(session, "build_session",
                        lambda *a, **k: Shared())
    monkeypatch.setattr(checkpoint, "run_checkpointed", fake_run)
    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "run_extract.py")
    spec = importlib.util.spec_from_file_location("run_extract", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    path = os.path.join(fixture_root, "sf0.001", "documents_spans.parquet")
    mod.main(["--input", path, "--output", str(tmp_path / "out"),
              "--checkpointed", "--flavor", "lattice", "--buckets", "2"])

    from pdf_table_spark.spark.pipeline import (extract_documents,
                                                flatten_output)
    transform = seen.get("transform") or (
        lambda d: flatten_output(extract_documents(d)))
    got = transform(spark.read.parquet(path))
    want = read_documents_flat(spark, path, flavor="lattice")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
