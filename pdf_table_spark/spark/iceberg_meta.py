"""Iceberg-layout table metadata: the one reader and writer of the
Hadoop-catalog layout (plain JSON — no runtime jar needed).

``read_table_snapshot`` resolves a table's current snapshot, and
every completed unit of work can be committed as a new table snapshot
with the transactional properties the Iceberg spec provides —

  * **atomic visibility** — a snapshot exists iff its
    ``v<N>.metadata.json`` exists; the file appears atomically via
    write-tmp + ``os.link`` (never a partially-written version);
  * **optimistic concurrency** — two writers racing to commit version
    N+1 both try to ``os.link`` the same filename; exactly one
    succeeds, the loser re-reads the new current metadata, REBASES its
    append onto it and retries (the spec's commit loop);
  * **lineage** — each snapshot records its parent id, operation and
    summary; the snapshot log is an auditable chain;
  * **resume round-trip** — the committed table is readable by
    ``read_table_snapshot``, so a downstream ``run_checkpointed(...,
    snapshot_path=<this table>)`` gets the O(1) provably-unchanged
    skip with zero Spark jobs.

Layout (Hadoop catalog per the public spec): ``<table>/metadata/
v<N>.metadata.json`` + ``version-hint.text``; data files stay where
Spark wrote them. DOCUMENTED DEVIATION: spec manifests are Avro
(``snap-*.avro``); this sandbox has no Avro writer, so each snapshot
stores its file list in a JSON manifest (``snap-<id>-manifest.json``)
referenced from the snapshot's ``manifest-list`` field. The
``*.metadata.json`` files themselves are spec-shaped (an Iceberg
reader resolves the current snapshot id from them); only
manifest-level interop needs the Avro swap-in.

Reference parity: the reference checkpoints progress per run
directory with no table-version semantics at all; this is the piece a
10^12-document corpus needs that the reference never had.
"""

from __future__ import annotations

import json
import os
import time
import uuid

FORMAT_VERSION = 2
COMMIT_RETRIES = 20


class CommitConflict(RuntimeError):
    """Raised when COMMIT_RETRIES optimistic attempts all lost the
    race to their version number."""


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def _version_file(table_path: str, v: int) -> str:
    return os.path.join(_meta_dir(table_path), f"v{v}.metadata.json")


def current_version(table_path: str) -> int:
    """Highest committed version number, 0 if the table has none.
    The version-hint file is advisory (it can lag a racing commit);
    the directory listing is the truth."""
    mdir = _meta_dir(table_path)
    if not os.path.isdir(mdir):
        return 0
    best = 0
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".metadata.json"):
            try:
                best = max(best, int(name[1:-len(".metadata.json")]))
            except ValueError:
                continue
    return best


def read_table_snapshot(table_path: str) -> dict | None:
    """Current snapshot of an Iceberg-layout table from its METADATA
    ONLY, with no iceberg-spark-runtime jar (with one on the classpath
    the same ids come from ``spark.sql("select snapshot_id from
    …snapshots")``). The current metadata is the
    highest ``v<N>.metadata.json`` by version number
    (``current_version``). Returns {snapshot_id, sequence_number,
    last_updated_ms, metadata_file}, or None when the path holds no
    versioned metadata."""
    v = current_version(table_path)
    if v == 0:
        return None
    meta_file = _version_file(table_path, v)
    with open(meta_file) as f:
        meta = json.load(f)
    if "current-snapshot-id" not in meta:
        return None
    return {
        "snapshot_id": meta["current-snapshot-id"],
        "sequence_number": meta.get("last-sequence-number"),
        "last_updated_ms": meta.get("last-updated-ms"),
        "metadata_file": os.path.basename(meta_file),
    }


def read_metadata(table_path: str) -> dict | None:
    v = current_version(table_path)
    if v == 0:
        return None
    with open(_version_file(table_path, v)) as f:
        return json.load(f)


def init_table(table_path: str,
               partition_col: str | None = None) -> dict:
    """Create v1 metadata for a new table (no snapshots yet).
    Idempotent: an existing table is returned as-is."""
    meta = read_metadata(table_path)
    if meta is not None:
        return meta
    os.makedirs(_meta_dir(table_path), exist_ok=True)
    meta = {
        "format-version": FORMAT_VERSION,
        "table-uuid": str(uuid.uuid4()),
        "location": os.path.abspath(table_path),
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "schemas": [{"schema-id": 0,
                     "fields": []}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": (
            [{"name": partition_col, "transform": "identity"}]
            if partition_col else [])}],
        "default-spec-id": 0,
        "properties": {"write.metadata.engine": "pdf_table_spark",
                       "write.manifest.format": "json"},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
    }
    if not _attempt_commit(table_path, 1, meta):
        return read_metadata(table_path)  # lost the init race
    return meta


def _attempt_commit(table_path: str, version: int, meta: dict) -> bool:
    """Atomically publish ``meta`` as v<version>: write a tmp file,
    ``os.link`` it to the version name (fails iff that version already
    exists — the loser of a race sees FileExistsError, never a torn
    file), update the advisory hint. Returns False on lost race."""
    target = _version_file(table_path, version)
    tmp = target + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)  # atomic claim of the version number
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(_meta_dir(table_path),
                            f".hint.tmp.{os.getpid()}")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp,
               os.path.join(_meta_dir(table_path), "version-hint.text"))
    return True


def commit_snapshot(table_path: str, added_files: list[dict],
                    operation: str = "append",
                    summary: dict | None = None,
                    replace_partition: str | None = None) -> dict:
    """Commit a new snapshot adding ``added_files`` (dicts with at
    least ``path``; ``size``/``rows`` recorded when given).

    ``operation``: 'append' keeps every live file; 'overwrite' with
    ``replace_partition`` drops previously-live files whose manifest
    entry carries that partition value first (the per-bucket re-run
    case). The whole read-modify-write runs in the optimistic loop:
    on a lost race the new current metadata is re-read and the change
    REBASED, so concurrent bucket commits all land, each with a
    correct parent."""
    init_table(table_path)
    for attempt in range(COMMIT_RETRIES):
        # read the version number FIRST, then that exact file: reading
        # "current metadata" as two separate lookups would let a commit
        # landing in between pair a stale base with a fresh version
        # number — a lost update that os.link cannot catch
        base_v = current_version(table_path)
        with open(_version_file(table_path, base_v)) as f:
            meta = json.load(f)
        snap_id = int.from_bytes(os.urandom(7), "big")  # spec: random id
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        manifest_name = f"snap-{snap_id}-manifest.json"
        live: list[dict] = []
        if meta["current-snapshot-id"] != -1:
            cur = next(s for s in meta["snapshots"]
                       if s["snapshot-id"] == meta["current-snapshot-id"])
            with open(os.path.join(_meta_dir(table_path),
                                   cur["manifest-list"])) as f:
                live = json.load(f)["files"]
        if operation == "overwrite" and replace_partition is not None:
            live = [e for e in live
                    if e.get("partition") != replace_partition]
        entries = live + [
            {"path": d["path"], "size": d.get("size"),
             "rows": d.get("rows"),
             "partition": d.get("partition", replace_partition)}
            for d in added_files]
        with open(os.path.join(_meta_dir(table_path), manifest_name),
                  "w") as f:
            json.dump({"snapshot-id": snap_id, "files": entries}, f)
        snapshot = {
            "snapshot-id": snap_id,
            "parent-snapshot-id": (
                meta["current-snapshot-id"]
                if meta["current-snapshot-id"] != -1 else None),
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": manifest_name,
            "summary": {"operation": operation,
                        "added-data-files": str(len(added_files)),
                        "total-data-files": str(len(entries)),
                        **{k: str(v) for k, v in (summary or {}).items()}},
        }
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = seq
        new_meta["last-updated-ms"] = now_ms
        new_meta["current-snapshot-id"] = snap_id
        new_meta["snapshots"] = meta["snapshots"] + [snapshot]
        new_meta["snapshot-log"] = meta["snapshot-log"] + [
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}]
        if _attempt_commit(table_path, base_v + 1, new_meta):
            return snapshot
        os.unlink(os.path.join(_meta_dir(table_path), manifest_name))
        time.sleep(0.002 * (attempt + 1))  # lost the race → rebase
    raise CommitConflict(
        f"lost {COMMIT_RETRIES} optimistic commit races on {table_path}")


def current_files(table_path: str) -> list[dict]:
    """File entries live in the current snapshot (empty for a
    snapshot-less table)."""
    meta = read_metadata(table_path)
    if meta is None or meta["current-snapshot-id"] == -1:
        return []
    cur = next(s for s in meta["snapshots"]
               if s["snapshot-id"] == meta["current-snapshot-id"])
    with open(os.path.join(_meta_dir(table_path),
                           cur["manifest-list"])) as f:
        return json.load(f)["files"]


def read_current(spark, table_path: str):
    """Plan a scan from the CURRENT SNAPSHOT's file list — the Iceberg
    read semantics: no directory walk, no partition discovery over
    stale/uncommitted files; exactly the files the last committed
    snapshot made visible. ``basePath`` keeps the hive partition
    column. Raises on a snapshot-less table."""
    files = [e["path"] for e in current_files(table_path)]
    if not files:
        raise ValueError(f"{table_path}: no committed snapshot to read")
    return (spark.read.option("basePath", table_path).parquet(*files))


def snapshot_log(table_path: str) -> list[dict]:
    meta = read_metadata(table_path)
    return [] if meta is None else meta["snapshot-log"]


def expire_snapshots(table_path: str, keep_last: int = 5) -> int:
    """Drop manifests of all but the newest ``keep_last`` snapshots
    (metadata history files are kept — they are tiny and are the audit
    log). Returns the number of manifests removed. Runs through the
    same optimistic commit loop."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    for attempt in range(COMMIT_RETRIES):
        base_v = current_version(table_path)  # version first (see
        if base_v == 0:                       # commit_snapshot)
            return 0
        with open(_version_file(table_path, base_v)) as f:
            meta = json.load(f)
        if len(meta["snapshots"]) <= keep_last:
            return 0
        drop = meta["snapshots"][:-keep_last]
        keep = meta["snapshots"][-keep_last:]
        new_meta = dict(meta)
        new_meta["snapshots"] = keep
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        if _attempt_commit(table_path, base_v + 1, new_meta):
            n = 0
            for s in drop:
                p = os.path.join(_meta_dir(table_path),
                                 s["manifest-list"])
                if os.path.exists(p):
                    os.unlink(p)
                    n += 1
            return n
        time.sleep(0.002 * (attempt + 1))
    raise CommitConflict(
        f"lost {COMMIT_RETRIES} optimistic commit races on {table_path}")
