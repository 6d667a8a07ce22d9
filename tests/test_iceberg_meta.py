"""Transactional snapshot commits (spark/iceberg_meta.py).

Pins: atomic version publication (os.link claim — losers of a race
see FileExistsError, never a torn metadata file), optimistic rebase
under contention (concurrent appends all land with correct parents),
snapshot lineage + per-snapshot file manifests, overwrite-partition
semantics for bucket re-runs, crash-artifact immunity (stray tmp
files are invisible to readers), the read-side round-trip through
checkpoint.read_table_snapshot (the O(1) resume fast-path now works
against OUR OWN output), metadata-driven scan planning, and snapshot
expiry.
"""

import json
import multiprocessing
import os

import pytest

from pdf_table_spark.spark import iceberg_meta as im
from pdf_table_spark.spark.checkpoint import read_table_snapshot


def _files(n, part="p0", prefix="data"):
    return [{"path": f"{prefix}/{part}/f{i}.parquet",
             "size": 100 + i, "rows": 10, "partition": part}
            for i in range(n)]


def test_init_and_first_commit(tmp_path):
    t = str(tmp_path / "tbl")
    meta = im.init_table(t, partition_col="part_id")
    assert meta["current-snapshot-id"] == -1
    assert im.current_version(t) == 1
    # init is idempotent — same uuid, same version
    again = im.init_table(t)
    assert again["table-uuid"] == meta["table-uuid"]
    assert im.current_version(t) == 1

    snap = im.commit_snapshot(t, _files(3), summary={"run-id": "r1"})
    assert im.current_version(t) == 2
    assert snap["parent-snapshot-id"] is None
    assert snap["summary"]["operation"] == "append"
    assert snap["summary"]["added-data-files"] == "3"
    assert len(im.current_files(t)) == 3


def test_lineage_and_snapshot_log(tmp_path):
    t = str(tmp_path / "tbl")
    s1 = im.commit_snapshot(t, _files(2, "a"))
    s2 = im.commit_snapshot(t, _files(1, "b"))
    s3 = im.commit_snapshot(t, _files(1, "c"))
    assert s2["parent-snapshot-id"] == s1["snapshot-id"]
    assert s3["parent-snapshot-id"] == s2["snapshot-id"]
    log = im.snapshot_log(t)
    assert [e["snapshot-id"] for e in log] == [
        s1["snapshot-id"], s2["snapshot-id"], s3["snapshot-id"]]
    assert len(im.current_files(t)) == 4  # appends accumulate
    seqs = [s["sequence-number"]
            for s in im.read_metadata(t)["snapshots"]]
    assert seqs == [1, 2, 3]


def test_overwrite_partition_replaces_only_that_partition(tmp_path):
    t = str(tmp_path / "tbl")
    im.commit_snapshot(t, _files(2, "a") + _files(3, "b"))
    # bucket 'a' re-runs: its old files drop, b's stay
    im.commit_snapshot(t, _files(1, "a", prefix="rerun"),
                       operation="overwrite", replace_partition="a")
    cur = im.current_files(t)
    parts = sorted(e["partition"] for e in cur)
    assert parts == ["a", "b", "b", "b"]
    a_paths = [e["path"] for e in cur if e["partition"] == "a"]
    assert a_paths == ["rerun/a/f0.parquet"]


def test_read_table_snapshot_roundtrip(tmp_path):
    # the checkpoint reader resolves OUR committed table: id + hint
    t = str(tmp_path / "tbl")
    assert read_table_snapshot(t) is None
    s1 = im.commit_snapshot(t, _files(1))
    got = read_table_snapshot(t)
    assert got["snapshot_id"] == s1["snapshot-id"]
    s2 = im.commit_snapshot(t, _files(1, "z"))
    got = read_table_snapshot(t)
    assert got["snapshot_id"] == s2["snapshot-id"]
    assert got["sequence_number"] == 2
    hint = os.path.join(t, "metadata", "version-hint.text")
    assert open(hint).read().strip() == str(im.current_version(t))


def test_read_table_snapshot_orders_versions_numerically(tmp_path):
    # eleven versions: v9 sorts after v11 as a string. The listing's
    # numeric maximum is the current metadata, with the hint gone or
    # stale (it is advisory)
    t = str(tmp_path / "tbl")
    snaps = [im.commit_snapshot(t, _files(1, f"p{k}")) for k in range(10)]
    assert im.current_version(t) == 11
    hint = os.path.join(t, "metadata", "version-hint.text")
    os.unlink(hint)
    got = read_table_snapshot(t)
    assert got["snapshot_id"] == snaps[-1]["snapshot-id"]
    assert got["metadata_file"] == "v11.metadata.json"
    with open(hint, "w") as f:
        f.write("3")
    assert read_table_snapshot(t)["snapshot_id"] == snaps[-1]["snapshot-id"]


def test_lost_race_rebases(tmp_path):
    # simulate a concurrent winner: pre-claim the next version file;
    # the commit must rebase onto it, not overwrite or corrupt it
    t = str(tmp_path / "tbl")
    im.commit_snapshot(t, _files(1, "a"))  # v2
    meta = im.read_metadata(t)
    rival = dict(meta)
    rival["last-sequence-number"] = 99  # recognizable rival content
    with open(im._version_file(t, 3), "w") as f:
        json.dump(rival, f)
    snap = im.commit_snapshot(t, _files(1, "b"))  # loses v3, lands v4
    assert im.current_version(t) == 4
    with open(im._version_file(t, 3)) as f:
        assert json.load(f)["last-sequence-number"] == 99  # untouched
    # rebase read v3 as its base: sequence continues from the rival
    assert snap["sequence-number"] == 100


def test_concurrent_commits_all_land(tmp_path):
    t = str(tmp_path / "tbl")
    im.init_table(t)

    def worker(k):
        im.commit_snapshot(t, _files(1, f"p{k}"))

    procs = [multiprocessing.Process(target=worker, args=(k,))
             for k in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
        assert p.exitcode == 0
    meta = im.read_metadata(t)
    assert len(meta["snapshots"]) == 6
    assert len(im.current_files(t)) == 6  # no lost update
    # parent chain is a single line through all six commits
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    cur = by_id[meta["current-snapshot-id"]]
    chain = 1
    while cur["parent-snapshot-id"] is not None:
        cur = by_id[cur["parent-snapshot-id"]]
        chain += 1
    assert chain == 6


def test_stray_tmp_files_are_invisible(tmp_path):
    t = str(tmp_path / "tbl")
    im.commit_snapshot(t, _files(1))
    # a writer that died mid-write leaves a tmp — readers ignore it
    stray = os.path.join(t, "metadata", "v9.metadata.json.tmp.999.dead")
    with open(stray, "w") as f:
        f.write("{ torn")
    assert im.current_version(t) == 2
    assert read_table_snapshot(t)["sequence_number"] == 1


def test_expire_snapshots(tmp_path):
    t = str(tmp_path / "tbl")
    for k in range(5):
        im.commit_snapshot(t, _files(1, f"p{k}"))
    removed = im.expire_snapshots(t, keep_last=2)
    assert removed == 3
    meta = im.read_metadata(t)
    assert len(meta["snapshots"]) == 2
    assert len(im.current_files(t)) == 5  # current manifest intact
    with pytest.raises(ValueError):
        im.expire_snapshots(t, keep_last=0)


def test_checkpointed_run_commits_output_snapshots(spark, tmp_path,
                                                   fixture_root):
    from pdf_table_spark.spark.checkpoint import run_checkpointed
    docs = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    out = str(tmp_path / "out")
    r1 = run_checkpointed(spark, docs, out, n_buckets=4,
                          commit_output_snapshots=True)
    assert not r1["failed"] and len(r1["done"]) == 4
    meta = im.read_metadata(out)
    assert len(meta["snapshots"]) == 4  # one transactional commit per bucket
    files = im.current_files(out)
    assert files and all(os.path.exists(e["path"]) for e in files)
    assert sorted({e["partition"] for e in files}) == [
        "0", "1", "2", "3"]
    # bucket manifests record the snapshot id they committed
    from pdf_table_spark.spark.checkpoint import read_manifests
    ids = {m["partition_id"]: m["output_snapshot_id"]
           for m in read_manifests(out)}
    assert set(ids.values()) == {
        s["snapshot-id"] for s in meta["snapshots"]}

    # metadata-driven scan == per-partition directory read
    got = im.read_current(spark, out)
    n_direct = sum(
        spark.read.parquet(os.path.join(out, f"part_id={p}")).count()
        for p in ("0", "1", "2", "3"))
    assert got.count() == n_direct
    assert "part_id" in got.columns

    # resume: unchanged buckets skip AND no new snapshots are committed
    r2 = run_checkpointed(spark, docs, out, n_buckets=4,
                          commit_output_snapshots=True)
    assert len(r2["skipped"]) == 4 and not r2["done"]
    assert im.read_metadata(out)["current-snapshot-id"] == \
        meta["current-snapshot-id"]

    # downstream O(1) resume against OUR OWN committed output:
    # snapshot_path=out short-circuits with zero bucket work
    out2 = str(tmp_path / "out2")
    flat = im.read_current(spark, out, ).drop("part_id")
    r3 = run_checkpointed(
        spark, docs, out2, n_buckets=2, snapshot_path=out,
        transform=lambda d: d.select("doc_id"))
    assert not r3["failed"]
    r4 = run_checkpointed(
        spark, docs, out2, n_buckets=2, snapshot_path=out,
        transform=lambda d: d.select("doc_id"))
    assert r4.get("snapshot_skip") is True
    assert r4["skipped"] and not r4["done"]
    _ = flat
