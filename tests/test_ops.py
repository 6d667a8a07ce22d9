"""Training-data ops: properties the SQL oracle can't express.

* MinHash-LSH candidates must cover all high-Jaccard pairs (recall on
  the exact n-gram pairs).
* ANN (LSH-bucketed) results are a subset of brute-force rankings and
  achieve reasonable top-k recall.
* Media decode plumbing is deterministic with the declared schema.
"""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def test_exact_dedup_self_duplicates(spark, docs):
    from pdf_table_spark.ops.dedup import exact_dedup
    from pyspark.sql import functions as F
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    groups = exact_dedup(doubled)
    assert groups.count() == docs.select("text").distinct().count()
    assert groups.agg({"n_docs": "min"}).collect()[0][0] >= 2


def test_minhash_lsh_covers_high_jaccard_pairs(spark, docs):
    from pdf_table_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    exact = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    # 16 bands x 4 rows: P(candidate | j=0.8) = 1-(1-0.8^4)^16 ≈ 0.9998
    missed = exact - lsh
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_identical_docs_equal(spark, docs):
    from pdf_table_spark.ops.dedup import simhash
    from pyspark.sql import functions as F
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    sh = simhash(docs.limit(5).union(dup))
    rows = {r.doc_id: r.simhash for r in sh.collect()}
    for base_id in list(rows):
        if base_id < 100000 and base_id + 100000 in rows:
            assert rows[base_id] == rows[base_id + 100000]


def test_ann_lsh_equals_probe_restricted_bruteforce(spark, emb):
    """ANN must be *exactly* the brute-force ranking restricted to the
    query's multi-probe set (own bucket + every 1-bit flip) — same
    cosines, same order."""
    import numpy as np
    from pdf_table_spark.ops.similarity import ann_topk_lsh, lsh_bucket

    rows = lsh_bucket(emb).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    bucket = {r.vec_id: r.bucket for r in rows}
    expected = []
    for q in sorted(v for v in vecs if v < 10):
        probes = {bucket[q]} | {bucket[q] ^ (1 << i) for i in range(8)}
        cands = []
        for n in vecs:
            if n == q or bucket[n] not in probes:
                continue
            a, b = vecs[q], vecs[n]
            cos = float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))
            cands.append((round(cos, 9), n))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, n) in enumerate(cands[:5], 1):
            expected.append((q, n, rank))
    got = [(r.query_id, r.neighbor_id, r.rank)
           for r in ann_topk_lsh(emb, k=5).collect()]
    assert sorted(got) == sorted(expected)


def test_media_decode_deterministic_schema(spark, fixture_root):
    from pdf_table_spark.ops.multimodal import (
        decode_media, media_refs_with_payloads)
    spans = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    media = media_refs_with_payloads(spans)
    a = sorted(map(tuple, decode_media(media).collect()))
    b = sorted(map(tuple, decode_media(media).collect()))
    assert a == b and len(a) > 0
    row = a[0]
    assert len(row) == 6 and len(row[5]) == 16  # feature dim


def test_lang_id_has_und_for_stopwordless(spark):
    from pdf_table_spark.ops.text import lang_id
    df = spark.createDataFrame(
        [(1, "zzz qqq xxx"), (2, "the cat and the hat is on it")],
        "doc_id long, text string")
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert got[1] == "und" and got[2] == "en"


def test_resize_media_fits_box_preserving_aspect(spark, fixture_root):
    from pdf_table_spark.ops.multimodal import (
        media_refs_with_payloads, resize_media)
    spans = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    media = media_refs_with_payloads(spans)
    rows = resize_media(media, max_w=128, max_h=128).collect()
    assert rows
    for r in rows:
        assert r.width <= 128 and r.height <= 128
        assert r.width <= r.src_width and r.height <= r.src_height
        # aspect preserved within integer truncation
        if r.src_width >= r.src_height:
            assert r.width >= r.height - 1
        # no upscaling
        if r.src_width <= 128 and r.src_height <= 128:
            assert (r.width, r.height) == (r.src_width, r.src_height)


def test_describe_media_matches_composed_shape(spark, fixture_root):
    # one-pass describe == decode + resize + join, column for column
    from pdf_table_spark.ops.multimodal import (
        decode_media, describe_media, media_refs_with_payloads,
        resize_media)
    spans = spark.read.parquet(os.path.join(
        fixture_root, "sf0.001", "documents_spans.parquet"))
    media = media_refs_with_payloads(spans)
    one = {r.media_ref: r for r in describe_media(media).collect()}
    feat = {r.media_ref: r.n_bytes
            for r in decode_media(media).collect()}
    two = {r.media_ref: r for r in resize_media(media).collect()}
    assert set(one) == set(two)
    for ref, r in one.items():
        t = two[ref]
        assert (r.width, r.height, r.src_width, r.src_height,
                r.format) == (t.width, t.height, t.src_width,
                              t.src_height, t.format)
        assert r.n_bytes == feat[ref]


def test_sample_frames_enumeration_and_determinism(spark):
    from pdf_table_spark.ops.multimodal import sample_frames
    vids = spark.createDataFrame(
        [("vid://a", 23, 10.0), ("vid://b", 1, 24.0), ("vid://c", 0, 30.0)],
        "media_ref string, n_frames int, fps double")
    got = sample_frames(vids, every_n=5).collect()
    by_ref = {}
    for r in got:
        by_ref.setdefault(r.media_ref, []).append(r)
    assert [r.frame_idx for r in sorted(by_ref["vid://a"],
            key=lambda r: r.frame_idx)] == [0, 5, 10, 15, 20]
    assert [r.ts_sec for r in sorted(by_ref["vid://a"],
            key=lambda r: r.frame_idx)] == [0.0, 0.5, 1.0, 1.5, 2.0]
    assert [r.frame_idx for r in by_ref["vid://b"]] == [0]
    assert "vid://c" not in by_ref  # zero frames → no phantom frame 0
    for r in got:
        assert len(r.frame_feature) == 16
    again = sample_frames(vids, every_n=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))


def test_sample_frames_null_fps_falls_back(spark):
    """NULL fps arrives in the Arrow row stage as None, and a NaN fps
    is truthy (so ``fps or 1.0`` would keep it) — either way ts must
    fall back to 1.0 fps, not become NaN."""
    import math

    from pdf_table_spark.ops.multimodal import sample_frames
    vids = spark.createDataFrame(
        [("vid://n", 6, None), ("vid://z", 6, 0.0)],
        "media_ref string, n_frames int, fps double")
    got = sample_frames(vids, every_n=5).collect()
    for r in got:
        assert not math.isnan(r.ts_sec)
        assert r.ts_sec == float(r.frame_idx)  # 1.0 fps fallback


def test_parse_page_spec():
    from pdf_table_spark.ops.pages import END, parse_page_spec
    assert parse_page_spec("all") == [(1, END)]
    assert parse_page_spec("1,3,4") == [(1, 1), (3, 3), (4, 4)]
    assert parse_page_spec("1,4-end") == [(1, 1), (4, END)]
    assert parse_page_spec("2-5") == [(2, 5)]


def test_select_pages_keeps_nonpage_spans(spark):
    from pdf_table_spark.ops.pages import select_pages
    spans = [
        {"kind": "text", "text": "intro", "media_ref": "", "offset": 0},
        {"kind": "pdf_page", "text": "{}", "media_ref": "p1", "offset": 1},
        {"kind": "image", "text": "", "media_ref": "i1", "offset": 2},
        {"kind": "pdf_page", "text": "{}", "media_ref": "p2", "offset": 3},
        {"kind": "pdf_page", "text": "{}", "media_ref": "p3", "offset": 4},
        {"kind": None, "text": "", "media_ref": "", "offset": 5},
    ]
    docs = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")

    def refs(spec):
        row = select_pages(docs, spec).collect()[0]
        return [s.media_ref for s in row.spans if s.kind == "pdf_page"], \
               [s.kind for s in row.spans if s.kind != "pdf_page"]

    # NULL-kind spans are non-page spans and must survive every spec
    assert refs("all") == (["p1", "p2", "p3"], ["text", "image", None])
    assert refs("2") == (["p2"], ["text", "image", None])
    assert refs("1,3") == (["p1", "p3"], ["text", "image", None])
    assert refs("2-end") == (["p2", "p3"], ["text", "image", None])


def test_export_tables_formats(spark):
    from pdf_table_spark.ops.export import export_tables
    flat = spark.createDataFrame(
        [("d1", 0, "table_html",
          '<table border="1"><tbody><tr><td>h1</td><td>h2</td></tr>'
          '<tr><td colspan="2">wide</td></tr></tbody></table>', ""),
         ("d1", 1, "paragraph", "not a table", "")],
        "doc_id string, offset int, kind string, text string, "
        "media_ref string")
    rows = export_tables(flat).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_rows, r.n_cols) == (2, 2)
    assert r.csv == "h1,h2\nwide,wide\n"
    assert r.markdown.splitlines()[0] == "| h1 | h2 |"
    import json as _json
    assert _json.loads(r.json_rows) == [["h1", "h2"], ["wide", "wide"]]
    # sqlite dump: DDL + one INSERT per row, quotes escaped
    assert r.sqlite_sql.splitlines()[0] == \
        'CREATE TABLE "table" ("c0" TEXT, "c1" TEXT);'
    assert "INSERT INTO \"table\" VALUES ('h1', 'h2');" in r.sqlite_sql
    # excel: SpreadsheetML with one <Row> per grid row
    assert r.excel_xml.count("<Row>") == 2
    assert '<Data ss:Type="String">h1</Data>' in r.excel_xml
    # db-html: width-less canonical form
    assert 'colspan="2"' in r.html_db and "width" not in r.html_db


def test_dedup_scale_caps_subset_semantics(spark):
    """max_df / max_bucket results are subsets of the exhaustive ones."""
    from pdf_table_spark.ops.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs)
    docs = spark.createDataFrame(
        [(f"d{i}", "common boiler plate words here " * 3
          + ("alpha beta gamma" if i % 2 else "alpha beta delta"))
         for i in range(8)],
        "doc_id string, text string")

    full = {(r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(docs, 0.3, cache=False).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in ngram_jaccard_pairs(
                  docs, 0.3, cache=False, max_df=4).collect()}
    assert full  # boilerplate makes everything similar
    # with ubiquitous shingles dropped, only genuinely-shared tails pair
    assert capped <= full or capped == set()

    lsh_full = {(r.doc_a, r.doc_b)
                for r in minhash_lsh_pairs(docs).collect()}
    lsh_capped = {(r.doc_a, r.doc_b)
                  for r in minhash_lsh_pairs(docs, max_bucket=3).collect()}
    assert lsh_capped <= lsh_full


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from pdf_table_spark.ops.skew import salted_join
    # one hot key ('hot' owns 90% of rows) + uniform tail
    big = spark.createDataFrame(
        [("hot" if i % 10 else f"k{i}", i) for i in range(2000)],
        "domain string, v long")
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", i / 10.0) for i in range(0, 2000, 10)],
        "domain string, w double")

    plain = big.join(small, "domain").groupBy("domain").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"),
        F.sum("w").alias("sw"))
    salted = salted_join(big, small, "domain", salt=8) \
        .groupBy("domain").agg(
            F.count("*").alias("n"), F.sum("v").alias("sv"),
            F.sum("w").alias("sw"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))

    # the hot key's rows really split across many shuffle keys (AQE
    # re-coalesces post-join partitions at this tiny scale, so assert
    # on the salt diversity that feeds the join's hash partitioning)
    n_salts = (big.filter(F.col("domain") == "hot")
               .select(F.pmod(F.xxhash64(*big.columns), F.lit(8))
                       .alias("s"))
               .distinct().count())
    assert n_salts == 8


def test_select_pages_500_page_doc_linear_plan(spark):
    """The page-number expression must be O(spans x pages), stay a pure
    array transform (no shuffle, no Python), and keep NULL-kind spans."""
    from pdf_table_spark.ops.pages import select_pages
    spans = []
    off = 0
    for pg in range(500):
        spans.append(("pdf_page", f"p{pg}", "", off)); off += 1
        for i in range(3):
            spans.append(("text", f"t{pg}-{i}", "", off)); off += 1
    spans.append((None, "orphan", "", off))
    docs = spark.createDataFrame(
        [("big", spans)],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")
    out = select_pages(docs, "100-199").collect()[0]
    kept = out.spans
    pages = [s for s in kept if s.kind == "pdf_page"]
    assert len(pages) == 100
    assert pages[0].text == "p99"  # 1-based: page 100 is the 100th span
    assert any(s.kind is None for s in kept)  # null-kind survives
    assert sum(1 for s in kept if s.kind == "text") == 1500

    plan = select_pages(docs, "100-199")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing theorem: docs sharing a substring of length >= k+w-1
    (= 11 at k=8, w=4) share at least one fingerprint; fully disjoint
    texts share none (whp)."""
    from pdf_table_spark.ops.text import winnow_fingerprint_rows
    shared = "identical boilerplate passage"
    docs = spark.createDataFrame(
        [(1, f"aaa bbb {shared} ccc ddd"),
         (2, f"xxx yyy zzz {shared} qqq"),
         (3, "totally unrelated content 0123456789")],
        "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprint_rows(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_simhash_pairs_banding_has_perfect_recall(spark):
    """Pigeonhole guarantee: with max_hamming+1 bands, the banded join
    finds EVERY pair within hamming distance max_hamming — banded
    output equals the brute-force self-join on crafted fingerprints."""
    from itertools import combinations

    from pdf_table_spark.ops.dedup import simhash_pairs_from_fingerprints
    base = 0b101010101010101010101010101010101010101010101010101010101010
    sigs = [
        ("a", base),
        ("b", base ^ 0b111),                  # d=3 from a, same band 1-3
        ("c", base ^ (1 << 14) ^ (1 << 15) ^ (1 << 29)),  # d=3, spread
        ("d", base ^ ((1 << 4) - 1)),         # d=4 from a — excluded
        ("e", 0),                             # far from everything
    ]
    sig = spark.createDataFrame(sigs, "doc_id string, simhash long")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs_from_fingerprints(
               sig, max_hamming=3).collect()}
    brute = set()
    for (ida, sa), (idb, sb) in combinations(sigs, 2):
        d = bin(sa ^ sb).count("1")
        if d <= 3:
            a, b = sorted((ida, idb))
            brute.add((a, b, d))
    assert got == brute
    assert ("a", "b", 3) in got and ("a", "c", 3) in got
    assert not any({p[0], p[1]} == {"a", "d"} for p in got)


def test_simhash_pairs_max_bucket_cap(spark):
    """A degenerate bucket above the cap is dropped whole; its members
    still pair through their other bands when they truly are close."""
    from pdf_table_spark.ops.dedup import simhash_pairs_from_fingerprints
    # 12 docs all sharing band 0 (low 15 bits identical) but far apart
    # in the upper bits (d > 3 pairwise) plus one true near-dup pair
    rows = [(f"far{i}", (i * 0b1001001 << 20) | 0x1234) for i in range(12)]
    rows += [("n1", 0x7000000001234), ("n2", 0x7000000001234 ^ 0b11)]
    sig = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {(r.doc_a, r.doc_b)
           for r in simhash_pairs_from_fingerprints(
               sig, max_hamming=3, max_bucket=5).collect()}
    assert ("n1", "n2") in got  # survives: close in EVERY band


def test_winnowing_xxhash64_variant_same_guarantee(spark):
    """The production hash (xxhash64, native JVM — no per-gram md5 +
    hex conversion) keeps the winnowing guarantee; md5 stays only as
    the DuckDB-comparable oracle contract."""
    from pdf_table_spark.ops.text import winnow_fingerprint_rows
    shared = "identical boilerplate passage"
    docs = spark.createDataFrame(
        [(1, f"aaa bbb {shared} ccc ddd"),
         (2, f"xxx yyy zzz {shared} qqq"),
         (3, "totally unrelated content 0123456789")],
        "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprint_rows(docs, hash_fn="xxhash64").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="hash_fn"):
        winnow_fingerprint_rows(docs, hash_fn="sha1")


def test_chunk_audio_window_semantics(spark):
    """Audio chunk enumeration: JVM-side windows, tail kept, degenerate
    rows dropped, features only for enumerated chunks."""
    from pdf_table_spark.ops.multimodal import chunk_audio
    audio = spark.createDataFrame(
        [("a61", 61 * 16000, 16000),   # 61s → chunks at 0/30/60 (1s tail)
         ("a60", 60 * 16000, 16000),   # exact multiple → 0/30 only
         ("a10", 10 * 16000, 16000),   # shorter than window → one chunk
         ("bad", 0, 16000), ("bad2", 16000, 0)],  # dropped
        "media_ref string, n_samples long, sample_rate int")
    rows = {(r.media_ref, r.chunk_idx): (r.start_sec, r.end_sec)
            for r in chunk_audio(audio, 30.0, 30.0).collect()}
    assert rows[("a61", 0)] == (0.0, 30.0)
    assert rows[("a61", 2)] == (60.0, 61.0)        # tail window kept
    assert ("a60", 2) not in rows                   # no empty window
    assert rows[("a60", 1)] == (30.0, 60.0)
    assert rows[("a10", 0)] == (0.0, 10.0)
    assert not any(ref.startswith("bad") for ref, _ in rows)
    feats = chunk_audio(audio, 30.0, 30.0).select("chunk_feature").collect()
    assert all(len(r.chunk_feature) == 16 for r in feats)


def test_salted_join_rejects_bad_salt_and_outer_joins(spark):
    import pytest

    from pdf_table_spark.ops.skew import salted_join
    big = spark.createDataFrame([("k", 1)], "domain string, v long")
    small = spark.createDataFrame([("k", 1.0)], "domain string, w double")
    with pytest.raises(ValueError, match="salt must be >= 1"):
        salted_join(big, small, "domain", salt=0)
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "domain", salt=2, how="full_outer")


def test_ngram_jaccard_prefix_filter_is_exact(spark):
    """Prefix-filtered candidates (SSJoin/PPJoin lemma) must reproduce
    the brute-force all-pairs result exactly — every threshold, every
    doc-length mix, including docs shorter than one shingle window."""
    import itertools
    import random

    from pdf_table_spark.ops.dedup import ngram_jaccard_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        n = rng.randint(2, 60)
        rows.append((f"d{i:02d}", " ".join(rng.choice(vocab)
                                           for _ in range(n))))
    # planted near-pairs: shared long body, distinct suffix
    body = " ".join(rng.choice(vocab) for _ in range(50))
    rows += [(f"p{i}", body + f" tail{i}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    # brute-force oracle on the driver (k=3 shingles, like SHINGLE_K)
    def shingles(t):
        toks = t.lower().split()
        if len(toks) <= 3:
            return {" ".join(toks[:3])}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sets = {d: shingles(t) for d, t in rows}
    for t in (0.2, 0.5, 0.8):
        want = set()
        for (da, sa), (db, sb) in itertools.combinations(
                sorted(sets.items()), 2):
            inter = len(sa & sb)
            if inter and round(
                    inter / (len(sa) + len(sb) - inter), 6) >= t:
                want.add((da, db))
        got = {(r.doc_a, r.doc_b)
               for r in ngram_jaccard_pairs(docs, t, cache=False)
               .collect()}
        assert got == want, (t, got ^ want)


def test_exact_substring_dedup(spark):
    """Lee et al. ExactSubstr: non-canonical occurrences of any
    duplicated n-token span are cut; the canonical (smallest
    (doc_id, start)) survives; overlapping cut windows merge."""
    from pdf_table_spark.ops.dedup import exact_substring_dedup

    boiler = " ".join(f"b{i}" for i in range(6))        # 6 tokens
    rows = [
        ("d1", f"{boiler} unique one text here"),
        ("d2", f"other words first {boiler} trailing"),
        ("d3", "completely different text with no repeats at all"),
        ("d4", "tiny"),                                  # < n tokens
        ("d5", f"{boiler} {boiler} double"),             # intra-doc dup
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in
           exact_substring_dedup(docs, n=6).collect()}

    # d1 holds the canonical (smallest doc_id) occurrence: kept whole
    assert out["d1"].n_removed == 0
    assert out["d1"].clean_text.startswith("b0 b1")
    # d2's copy is cut, surrounding text survives
    assert out["d2"].n_removed == 6
    assert "b0" not in out["d2"].clean_text
    assert out["d2"].clean_text == "other words first trailing"
    # untouched docs
    assert out["d3"].n_removed == 0
    assert out["d4"].n_removed == 0 and out["d4"].clean_text == "tiny"
    # d5: every 6-gram window covering the repeated boiler region is
    # non-canonical; overlapping windows merge via the distinct index
    # set and the whole 12-token run is cut
    assert out["d5"].n_removed == 12
    assert out["d5"].clean_text == "double"

    # md5 and xxhash64 paths agree
    out2 = {r.doc_id: (r.n_removed, r.clean_text) for r in
            exact_substring_dedup(docs, n=6, hash_fn="xxhash64")
            .collect()}
    assert out2 == {k: (v.n_removed, v.clean_text)
                    for k, v in out.items()}


def test_exact_substring_dedup_pathological_long_doc(spark):
    """The scale caveat closed in round 5: a heavily-duplicated
    100k-token doc. The old per-token ``array_contains`` probe was
    O(n_tokens x |cut|) ≈ 5e9 comparisons inside one task (did not
    finish interactively); the mask-scatter Arrow stage is linear and
    must complete in seconds with every duplicated token cut."""
    import time

    from pdf_table_spark.ops.dedup import exact_substring_dedup

    block = " ".join(f"w{i}" for i in range(100))       # 100 tokens
    long_doc = " ".join([block] * 1000)                 # 100k tokens
    rows = [("a", f"{block} canonical tail"),
            ("z", long_doc)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    t0 = time.monotonic()
    out = {r.doc_id: r for r in
           exact_substring_dedup(docs, n=50).collect()}
    wall = time.monotonic() - t0
    # doc a holds the canonical occurrences; z is one giant repeat of
    # the same 100-token block, so EVERY z window is non-canonical
    # and the whole 100k tokens are cut
    assert out["z"].n_tokens == 100_000
    assert out["z"].n_removed == 100_000
    assert out["z"].clean_text == ""
    assert out["a"].n_removed == 0
    assert wall < 120, f"pathological doc took {wall:.1f}s"


def test_exact_substring_dedup_cross_branch_collision(spark):
    """A span duplicated between a short doc and a long doc must
    collide: both docs' windows hash the identical space-joined tokens
    into one key space, or cross-length dedup silently stops
    working."""
    from pdf_table_spark.ops.dedup import exact_substring_dedup

    span = " ".join(f"tok{i}" for i in range(20))
    short_doc = " ".join(f"s{i}" for i in range(200)) + " " + span
    long_doc = " ".join(
        f"l{i}" for i in range(1024)) + " " + span
    docs = spark.createDataFrame(
        [("a", short_doc), ("b", long_doc)],
        "doc_id string, text string")
    for hash_fn in ("md5", "xxhash64"):
        out = {r.doc_id: (r.n_tokens, r.n_removed) for r in
               exact_substring_dedup(docs, n=20,
                                     hash_fn=hash_fn).collect()}
        assert out["a"] == (220, 0), (hash_fn, out)
        assert out["b"] == (1024 + 20, 20), (hash_fn, out)
