"""Corpus sources/sinks for the interleaved documents table.

The engine's canonical layout is parquet/Iceberg-style directories of
``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``; real
corpora also arrive as JSONL dumps (one document object per line, the
common interchange format for web-scale text corpora). Both read into
the identical DataFrame, so every downstream operator is
format-agnostic.

The explicit schema matters at scale: schema inference on JSON is a
FULL extra pass over the data — at 100 TB that is a second read of the
corpus before the first real job. ``read_corpus`` always supplies the
schema, so the scan starts immediately and malformed lines land in
Spark's PERMISSIVE corrupt-record handling instead of failing the job
(the source-level analogue of the pipeline's poison containment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the span corpus, spelled once: every reader, writer and generator of
# (doc_id, spans) imports these
SPAN_STRUCT = ("struct<kind:string,text:string,media_ref:string,"
               "offset:int>")
CORPUS_SCHEMA = f"doc_id string, spans array<{SPAN_STRUCT}>"

_FORMATS = ("parquet", "json")


def _sniff(path: str) -> str:
    import os
    names = []
    if os.path.isdir(path):
        names = os.listdir(path)
    elif os.path.exists(path):
        names = [path]
    else:
        # remote URI (s3://, hdfs://, …) or not-yet-mounted path: the
        # local filesystem can't enumerate it, so sniff the path string
        # itself rather than silently defaulting to parquet
        names = [path.rstrip("/")]
    for n in names:
        if n.endswith((".json", ".jsonl", ".ndjson")):
            return "json"
        if n.endswith(".parquet"):
            return "parquet"
    if not os.path.exists(path):
        raise ValueError(
            f"fmt='auto' cannot sniff {path!r}: the local filesystem "
            "cannot see it and the path carries no format extension; "
            "pass fmt='parquet' or fmt='json' explicitly")
    return "parquet"


# fan_small_scan: total-size ceiling below which a small scan is
# fanned out to the session's parallelism. One round-robin exchange of
# ≤ this many bytes buys every core a share of the downstream per-row
# CPU; above it, Spark's own byte-range split planning already yields
# enough scan partitions and the exchange would be pure waste.
FAN_SMALL_BYTES = 256 * 1024 * 1024


def fan_small_scan(spark: SparkSession, df: DataFrame,
                   path: str) -> DataFrame:
    """Repartition a SMALL local scan to the session's default
    parallelism; return ``df`` unchanged otherwise.

    Scale rationale: parquet splits at row-group granularity, so a
    small table — one file, one row group — scans as ONE task no
    matter how many cores the cluster has, and every narrow per-row
    operator downstream (language ID, shingling, quality gates …)
    runs single-threaded. At web scale the input is thousands of
    row groups and this helper is a no-op (the ``FAN_SMALL_BYTES``
    ceiling and the file-count check both fail); at dim-table /
    sample / test scale it trades one bounded round-robin exchange
    (≤ 256 MiB by construction) for full-cluster parallelism on the
    expensive map work. Remote URIs the local filesystem can't stat
    are left untouched — their split planning is the scan's job.
    Measured at sf0.1 / local[32]: lang_id 2.2 s → 0.5 s, trigram
    lang ID 4.1 s → 0.85 s (the map stage was one task)."""
    import os
    sizes = []
    if os.path.isfile(path):
        sizes = [os.path.getsize(path)]
    elif os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            sizes.extend(os.path.getsize(os.path.join(root, n))
                         for n in names if not n.startswith(("_", ".")))
    if not sizes:
        return df
    par = spark.sparkContext.defaultParallelism
    if sum(sizes) >= FAN_SMALL_BYTES or len(sizes) >= par:
        return df
    return df.repartition(par)


def fan_cpu_bound(df: DataFrame) -> DataFrame:
    """Widen a frame to the session's default parallelism when the
    source handed it fewer partitions; unchanged otherwise.

    Sibling of :func:`fan_small_scan` for CPU-BOUND Arrow stages
    (codec decode, numpy CNN forwards): their cost is per ROW, not
    per byte, so Spark's byte-based split sizing is the wrong lever —
    a small parquet (one file → one row group → one partition)
    serializes the whole stage on a single core (measured:
    score_orient_cnn 3.4 s as ONE task at local[32], 0.35 s fanned).
    The trade is one bounded round-robin exchange of the payload
    bytes, negligible exactly when the condition fires (few, small
    files). At web scale the input arrives as file splits ≥ the core
    count, the condition is false, and no shuffle is added. The
    partition-count test (not bytes) is deliberate: even a large
    single-split input under-parallelizes a per-row-expensive stage,
    and the exchange it buys is amortized by the stage cost.

    The probe sees the PRE-AQE planned count, and AQE's byte-keyed
    coalescing would happily shrink a tiny post-shuffle frame (e.g.
    a ``.distinct()`` feeding a decode) back to one runtime
    partition — so the trigger is ``<=``: when the planned count is
    at-or-below the parallelism, the explicit numPartitions
    repartition is inserted, which AQE respects (user-specified
    counts are never coalesced). A post-shuffle plan whose
    ``shuffle.partitions`` exceeds the core count still bypasses the
    guard — size ``shuffle.partitions`` to the session, as this
    repo's sessions do."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() <= par:
        return df.repartition(par)
    return df


def read_corpus(spark: SparkSession, path: str,
                fmt: str = "auto") -> DataFrame:
    """Load an interleaved documents corpus (parquet or JSONL) with the
    canonical schema. ``fmt='auto'`` sniffs by file extension. Small
    local inputs are fanned to the session parallelism
    (:func:`fan_small_scan`)."""
    if fmt == "auto":
        fmt = _sniff(path)
    if fmt not in _FORMATS:
        raise ValueError(f"unknown corpus format {fmt!r}; one of "
                         f"{_FORMATS} or 'auto'")
    if fmt == "json":
        df = spark.read.schema(CORPUS_SCHEMA).json(path)
    else:
        df = spark.read.schema(CORPUS_SCHEMA).parquet(path)
    return fan_small_scan(spark, df, path)


def write_corpus(docs: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write a corpus back out in either format (JSONL for interchange,
    parquet for everything else), overwriting ``path``."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown corpus format {fmt!r}")
    w = docs.write.mode("overwrite")
    if fmt == "json":
        w.json(path)
    else:
        w.parquet(path)
