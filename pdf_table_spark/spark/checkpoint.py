"""Per-partition checkpointed, idempotently resumable batch runs.

The north-rule contract: a 10^12-document extraction must resume after
any failure without recomputing finished work, and every partition's
lineage must be queryable. Design (the batch analogue of exactly-once
sinks; reference's cache-keyed intermediate reuse is
``ocr_table_preprocess_task.py:61-75``):

* documents are assigned a stable ``part_id = pmod(xxhash64(doc_id),
  n_buckets)`` — pure function of the data, not of cluster layout, so
  re-runs at any parallelism see identical buckets;
* each bucket is extracted and written with dynamic partition
  overwrite to ``out/part_id=K/`` — a re-run of bucket K *replaces*
  its files (idempotent, no dup rows);
* a success manifest ``_manifests/K.json`` (rows, wall, fingerprint)
  is written only after the bucket commits; resume skips buckets whose
  manifest matches the current input fingerprint;
* the manifest doubles as the lineage/metrics table
  (``read_manifests``).

Buckets are deliberately coarse (default 64): each bucket is one Spark
job over ~1/64th of the corpus, so per-bucket failure granularity
costs nothing while manifests stay tiny. Inside a bucket the normal
pipeline parallelism applies.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .iceberg_meta import commit_snapshot, read_table_snapshot
from .pipeline import extract_documents, flatten_output

MANIFEST_DIR = "_manifests"

# chars Spark/Hive escape in partition directory names (Hive
# FileUtils.escapePathName, used by Spark's dynamic partition writer):
# control chars, DEL, and this printable set.
_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^')


def escape_partition_value(v: str) -> str:
    """Escape a partition value exactly like Spark's partition writer
    does, so a hand-built ``part_id=<v>`` read-back path matches the
    directory the write created (timestamps, URLs etc. contain ':'/'='
    which Spark writes as %3A/%3D)."""
    return "".join(
        f"%{ord(ch):02X}" if (ch in _ESCAPED_CHARS or ord(ch) < 0x20
                              or ord(ch) == 0x7F) else ch
        for ch in v)


def with_part_id(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))


def input_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive per-bucket (``part_id``) content fingerprint:
    xor of per-doc hashes — cheap, associative, reorder-proof. Hashes
    every non-bucket column, so it works for spans corpora and flat
    text tables alike."""
    cols = [c for c in docs.columns if c != "part_id"]
    per_doc = docs.select(
        "part_id",
        F.xxhash64(F.to_json(F.struct(*cols))).alias("h"))
    return per_doc.groupBy("part_id").agg(
        F.expr("bit_xor(h)").alias("fp"), F.count("*").alias("n_docs"))


def unescape_partition_value(v: str) -> str:
    """Invert ``escape_partition_value`` (percent-decoding)."""
    out, i = [], 0
    while i < len(v):
        if v[i] == "%" and i + 3 <= len(v):
            try:
                out.append(chr(int(v[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(v[i])
        i += 1
    return "".join(out)


def metadata_fingerprints(spark: SparkSession, docs: DataFrame,
                          part_col: str) -> dict | None:
    """Per-partition fingerprint from FILE METADATA (path, length,
    modification time) via the Hadoop FS — a directory listing instead
    of a content pass over the whole input. At 10^12 docs the content
    fingerprint is itself a full 100 TB read per resume; unchanged
    partitions should be provable from the catalog/file metadata alone
    (the same contract as an Iceberg snapshot id).

    Requires the scan to be Hive-layout partitioned on ``part_col``
    (every input file under a ``{part_col}=<value>`` directory);
    returns None otherwise so the caller can fall back to content
    fingerprints. Fingerprints are prefixed ``md:`` — switching modes
    between runs mismatches every manifest and forces one full re-run,
    by design."""
    import hashlib

    files = docs.inputFiles()
    if not files:
        return None
    seg = f"/{part_col}="
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    entries: dict[str, list] = {}
    for f in files:
        idx = f.find(seg)
        if idx < 0:
            return None  # not hive-partitioned on part_col
        val = unescape_partition_value(
            f[idx + len(seg):].split("/", 1)[0])
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        entries.setdefault(val, []).append(
            (f, st.getLen(), st.getModificationTime()))
    fps = {}
    for val, ents in entries.items():
        digest = hashlib.md5(
            json.dumps(sorted(ents)).encode()).hexdigest()
        fps[val] = (f"md:{digest}", None)  # doc count unknown (no scan)
    return fps


def _snapshot_marker_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, "_table_snapshot.json")


def _manifest_path(out_dir: str, part_id) -> str:
    # escape like the data partition dirs: '/' (→%2F) and friends can
    # appear in part_col values and must not create subdirectories (or
    # traverse out of _manifests/) in the manifest filename
    return os.path.join(out_dir, MANIFEST_DIR,
                        f"{escape_partition_value(str(part_id))}.json")


def read_manifests(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out


def run_checkpointed(spark: SparkSession, docs: DataFrame, out_dir: str,
                     n_buckets: int = 64, run_id: str = "run0",
                     part_col: str | None = None,
                     fingerprint_mode: str = "auto",
                     snapshot_path: str | None = None,
                     transform=None,
                     commit_output_snapshots: bool = False) -> dict:
    """Extract ``docs`` to ``out_dir`` (parquet, partitioned by
    part_id), resuming past completed buckets. Returns a summary dict.

    Restart-safety: kill this at any point and re-invoke — completed
    buckets are skipped (manifest + fingerprint match), the interrupted
    bucket is rewritten from scratch via overwrite.

    ``part_col``: when the input is already partitioned on disk by this
    column (the normal case for an Iceberg corpus), buckets are its
    distinct values and each bucket's filter prunes the SCAN to that
    partition's files — no repeated full-input passes. Without it,
    part_id = pmod(xxhash64(doc_id), n_buckets) is stable but every
    bucket job must rescan the input (fine at sandbox scale; at 10^12
    docs always feed a partitioned table).

    ``transform``: DataFrame -> DataFrame applied per bucket; defaults
    to the extraction pipeline (flatten_output . extract_documents).
    Passing e.g. ``ops.prepare.prepare_corpus`` makes the composed
    clean/near-dedup/model program resumable the same way. NOTE:
    any cross-document step inside the transform (near-dedup) then
    runs WITHIN each bucket — the right semantics when partitions are
    crawls/snapshots (the usual Iceberg layout); run a global pass
    instead when duplicates straddle partitions.

    ``snapshot_path``: root of an Iceberg-layout input table. The
    resume then fingerprints the TABLE first: when the current
    snapshot id equals the one recorded at the last fully-successful
    run, every bucket is provably unchanged (an Iceberg snapshot is
    the transactional table version) and the whole run skips O(1) —
    no listings, no scans, zero Spark jobs. On snapshot change (or on
    partial previous runs) it falls through to the per-bucket
    fingerprints below, and re-records the marker only after a run
    with no failed buckets.

    ``commit_output_snapshots``: commit every completed bucket as a
    transactional snapshot on the OUTPUT table (``iceberg_meta`` —
    atomic version swap, optimistic concurrency, per-snapshot file
    manifests), replacing that bucket's previous files. The output
    then carries a table version a downstream
    ``run_checkpointed(snapshot_path=<this out_dir>)`` can skip on
    O(1), and ``iceberg_meta.read_current`` plans its scan from the
    snapshot's file list instead of a directory walk. Read the
    committed table through the snapshot (or per-partition paths) —
    naive whole-root partition discovery sees the ``metadata/`` dir.

    ``fingerprint_mode``: 'metadata' fingerprints each partition from
    its files' (path, size, mtime) — a listing, NO input scan, so a
    fully-skipped resume runs zero Spark jobs; requires ``part_col``
    with a Hive-layout scan. 'content' is the order-insensitive per-doc
    content hash (a full input pass per resume — the 100 TB resume
    killer, but layout-independent). 'auto' (default) uses metadata
    when the input layout allows it, else content. Modes don't mix:
    switching re-runs every bucket once.
    """
    os.makedirs(os.path.join(out_dir, MANIFEST_DIR), exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if fingerprint_mode not in ("auto", "metadata", "content"):
        raise ValueError(f"unknown fingerprint_mode {fingerprint_mode!r}")

    snap = None
    if snapshot_path is not None:
        snap = read_table_snapshot(snapshot_path)
        marker = _snapshot_marker_path(out_dir)
        if snap is not None and os.path.exists(marker):
            with open(marker) as f:
                prev = json.load(f)
            if (prev.get("snapshot_id") == snap["snapshot_id"]
                    and prev.get("run_complete")):
                return {"done": [], "skipped": prev.get("part_ids", []),
                        "failed": [], "n_buckets": n_buckets,
                        "snapshot_skip": True,
                        "snapshot_id": snap["snapshot_id"]}

    if part_col is not None:
        # keep the partition values as-is (string form): dates/strings
        # are the normal Iceberg case; an int cast would NULL them out
        bucketed = docs.withColumn(
            "part_id", F.col(part_col).cast("string"))
    else:
        bucketed = with_part_id(docs, n_buckets)

    fps = None
    if part_col is not None and fingerprint_mode in ("auto", "metadata"):
        fps = metadata_fingerprints(spark, docs, part_col)
    if fps is None:
        if fingerprint_mode == "metadata":
            raise ValueError(
                "fingerprint_mode='metadata' needs a Hive-layout scan "
                f"partitioned on {part_col!r}; this input is not")
        # 'c2:' marks the all-columns fingerprint formula (the original
        # hashed (doc_id, spans) only); manifests written under either
        # formula mismatch the other EXPLICITLY and re-run once, same
        # as the documented metadata<->content mode switch
        fps = {r["part_id"]: (f"c2:{r['fp']}", r["n_docs"])
               for r in input_fingerprint(bucketed).collect()}
    if None in fps:
        raise ValueError(
            f"NULL values in partition column {part_col!r}: "
            "every document needs a bucket for resumable runs")
    # escaping handles ':' '=' '%' etc.; an EMPTY value would become
    # __HIVE_DEFAULT_PARTITION__ on disk and a leading '.' a hidden dir
    # the reader skips — reject both.
    bad = [p for p in fps if str(p) == "" or str(p).startswith(".")]
    if bad:
        raise ValueError(f"non-path-safe partition values: {bad[:5]}")

    done, skipped, failed = [], [], []
    for part_id in sorted(fps):
        fp, n_docs = fps[part_id]
        mpath = _manifest_path(out_dir, part_id)
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            if (m.get("input_fingerprint") == fp
                    and m.get("status") == "ok"):
                skipped.append(part_id)
                continue  # unchanged bucket → skip (idempotent resume)
        t0 = time.perf_counter()
        manifest = {
            "run_id": run_id,
            "partition_id": part_id,
            "input_fingerprint": fp,
            "doc_count": n_docs,
        }
        try:
            bucket = bucketed.filter(
                F.col("part_id") == part_id).drop("part_id")
            fn = transform if transform is not None else (
                lambda d: flatten_output(extract_documents(d)))
            out = fn(bucket).withColumn("part_id", F.lit(part_id))
            (out.write.mode("overwrite")
                .partitionBy("part_id")
                .parquet(out_dir))
            # read back ONLY this bucket's partition directory — reading
            # the table root here would rescan every finished bucket and
            # turn the loop O(buckets^2). The dir name is the value as
            # Spark's writer escaped it.
            n_rows = spark.read.parquet(os.path.join(
                out_dir,
                f"part_id={escape_partition_value(str(part_id))}")).count()
        except Exception as e:  # noqa: BLE001 — bucket-granular isolation
            manifest.update(status="failed", error=f"{type(e).__name__}: {e}")
            failed.append(part_id)
        else:
            manifest.update(
                output_rows=n_rows,
                wall_sec=round(time.perf_counter() - t0, 3),
                completed_at=time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                status="ok")
            done.append(part_id)
            if commit_output_snapshots:
                pdir = os.path.join(
                    out_dir,
                    f"part_id={escape_partition_value(str(part_id))}")
                added = [
                    {"path": os.path.join(pdir, n),
                     "size": os.path.getsize(os.path.join(pdir, n)),
                     "rows": None, "partition": str(part_id)}
                    for n in sorted(os.listdir(pdir))
                    if n.endswith(".parquet")]
                snap_committed = commit_snapshot(
                    out_dir, added, operation="overwrite",
                    replace_partition=str(part_id),
                    summary={"run-id": run_id, "partition": part_id,
                             "output-rows": n_rows})
                manifest["output_snapshot_id"] = \
                    snap_committed["snapshot-id"]
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic: ok-manifest exists ⇔ committed
    if snap is not None and not failed:
        # record the table version only behind a fully-successful run:
        # a partial run must keep re-checking per-bucket manifests
        tmp = _snapshot_marker_path(out_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({**snap, "run_complete": True,
                       "part_ids": sorted(map(str, fps))}, f)
        os.replace(tmp, _snapshot_marker_path(out_dir))
    return {"done": done, "skipped": skipped, "failed": failed,
            "n_buckets": n_buckets}
