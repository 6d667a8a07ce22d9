"""Corpus sources: JSONL and parquet read into the identical DataFrame
and feed the identical extraction."""

import os

import pytest


def test_jsonl_roundtrip_equals_parquet(spark, fixture_root, tmp_path):
    from pdf_table_spark.sources import read_corpus, write_corpus
    from pdf_table_spark.spark.pipeline import (
        extract_documents, flatten_output)

    pq_path = os.path.join(fixture_root, "sf0.001",
                           "documents_spans.parquet")
    docs_pq = read_corpus(spark, pq_path)          # auto-sniffs parquet
    jl_path = str(tmp_path / "corpus_jsonl")
    write_corpus(docs_pq, jl_path, fmt="json")
    docs_jl = read_corpus(spark, jl_path)          # auto-sniffs json

    assert docs_jl.schema == docs_pq.schema
    a = sorted(map(tuple, flatten_output(
        extract_documents(docs_pq)).collect()))
    b = sorted(map(tuple, flatten_output(
        extract_documents(docs_jl)).collect()))
    assert a == b


def test_read_corpus_rejects_unknown_format(spark):
    from pdf_table_spark.sources import read_corpus
    with pytest.raises(ValueError, match="unknown corpus format"):
        read_corpus(spark, "/nonexistent", fmt="xml")


def test_sniff_remote_uri_by_extension():
    """Paths the local filesystem cannot see (s3://, hdfs://) sniff by
    the path string's extension instead of silently defaulting to
    parquet; extension-less remote paths refuse fmt='auto'."""
    from pdf_table_spark.sources.corpus import _sniff
    assert _sniff("s3://bucket/corpus/dump.jsonl") == "json"
    assert _sniff("hdfs://nn/corpus/part-0.parquet") == "parquet"
    with pytest.raises(ValueError, match="cannot sniff"):
        _sniff("s3://bucket/corpus/")


def test_fan_small_scan_policy(spark, tmp_path):
    """Small local single-file scans fan to the session parallelism
    (one round-robin exchange); big inputs, many-file inputs, and
    remote paths the filesystem can't stat pass through untouched —
    the web-scale case never pays the exchange."""
    from pdf_table_spark.sources.corpus import (FAN_SMALL_BYTES,
                                                fan_small_scan)
    p = str(tmp_path / "docs.parquet")
    spark.range(100).selectExpr("cast(id as string) as doc_id") \
        .repartition(1).write.parquet(p)
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism

    fanned = fan_small_scan(spark, df, p)
    assert fanned.rdd.getNumPartitions() == par
    assert "Repartition" in fanned._jdf.queryExecution().toString()
    assert sorted(r.doc_id for r in fanned.collect()) == \
        sorted(r.doc_id for r in df.collect())

    # remote / un-stat-able path: untouched
    assert fan_small_scan(spark, df, "s3://bucket/corpus") is df

    # many files (>= parallelism): the scan already parallelizes
    many = tmp_path / "many"
    many.mkdir()
    for i in range(par):
        (many / f"part-{i}.parquet").write_bytes(b"x")
    assert fan_small_scan(spark, df, str(many)) is df

    # big input: above the ceiling, untouched (fake one big file)
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "part-0.parquet", "wb") as fh:
        fh.truncate(FAN_SMALL_BYTES)
    assert fan_small_scan(spark, df, str(big)) is df


def test_fan_cpu_bound_policy(spark):
    from pdf_table_spark.sources.corpus import fan_cpu_bound
    par = spark.sparkContext.defaultParallelism

    # single-partition frame: widened to the session parallelism
    narrow = spark.range(100).coalesce(1)
    fanned = fan_cpu_bound(narrow)
    assert fanned.rdd.getNumPartitions() == par
    # rows preserved
    assert fanned.count() == 100

    # frame planned AT the parallelism still widens: the planned
    # count is pre-AQE, and byte-keyed coalescing would shrink a tiny
    # post-shuffle frame to one runtime partition — the explicit
    # numPartitions repartition pins it (AQE respects user counts)
    at_par = spark.range(100).repartition(par)
    assert fan_cpu_bound(at_par) is not at_par

    # genuinely wider frame: untouched (no added exchange)
    wide = spark.range(100).repartition(par + 1)
    assert fan_cpu_bound(wide) is wide
