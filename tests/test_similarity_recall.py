"""Measured recall gates for the approximate similarity ops.

The sf testdata embeddings are near-uniform random (zero true
near-dups at cosine 0.95), so recall is measured on a planted corpus:
unit base vectors plus noisy copies at cosine ≈0.99. Ground truth is
numpy brute force; the gates assert the documented recall targets
(≥0.9) actually hold, which the oracle twins cannot see (they encode
the same approximation on both sides)."""

import numpy as np
import pytest

DIM = 64
N_BASE = 260
N_DUP = 60
NOISE = 0.012  # per-dim sigma → cosine ≈ 1/sqrt(1+64σ²) ≈ 0.995


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.RandomState(7)
    vecs = []
    base = rng.randn(N_BASE, DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs.extend(base)
    dup_src = rng.randint(0, N_BASE, size=N_DUP)
    for i in dup_src:
        w = base[i] + rng.randn(DIM) * NOISE
        vecs.append(w / np.linalg.norm(w))
    arr = np.asarray(vecs, dtype=np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(arr)],
        "vec_id int, embedding array<float>")
    return df, arr, dup_src


def _true_pairs(arr, threshold):
    sims = arr @ arr.T
    out = set()
    n = len(arr)
    for i in range(n):
        for j in range(i + 1, n):
            if sims[i, j] >= threshold:
                out.add((i, j))
    return out


def test_neardup_banded_recall(planted):
    from pdf_table_spark.ops.similarity import embedding_neardup_pairs
    df, arr, _ = planted
    truth = _true_pairs(arr.astype(np.float64), 0.95)
    assert len(truth) >= N_DUP  # the plant worked
    got = {(r.vec_a, r.vec_b)
           for r in embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert got <= truth or all(  # precision: every found pair is real
        (a, b) in truth for a, b in got)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"banded near-dup recall {recall:.3f} < 0.9"


def test_ann_multiprobe_nn_recall(planted):
    """Recall@1 of the true nearest neighbor for the planted dup
    vectors (their source sits at cosine ≈0.995)."""
    from pdf_table_spark.ops.similarity import ann_topk_lsh
    df, arr, dup_src = planted
    a64 = arr.astype(np.float64)
    sims = a64 @ a64.T
    np.fill_diagonal(sims, -2.0)
    query_ids = list(range(N_BASE, N_BASE + N_DUP))
    true_nn = {q: int(np.argmax(sims[q])) for q in query_ids}
    rows = ann_topk_lsh(df, query_ids=query_ids, k=5).collect()
    got_nn = {}
    for r in rows:
        if r.rank == 1:
            got_nn[r.query_id] = r.neighbor_id
    hits = sum(1 for q in query_ids if got_nn.get(q) == true_nn[q])
    recall = hits / len(query_ids)
    assert recall >= 0.9, f"multi-probe ANN recall@1 {recall:.3f} < 0.9"


def test_ann_ivf_nn_recall(planted):
    """IVF-Flat recall@1 on the planted dups: a near-copy lands in (or
    one probe away from) its source's centroid cell, so probing the 4
    nearest of 16 cells recovers the true nearest neighbor."""
    from pdf_table_spark.ops.similarity import ann_topk_ivf
    df, arr, dup_src = planted
    a64 = arr.astype(np.float64)
    sims = a64 @ a64.T
    np.fill_diagonal(sims, -2.0)
    query_ids = list(range(N_BASE, N_BASE + N_DUP))
    true_nn = {q: int(np.argmax(sims[q])) for q in query_ids}
    rows = ann_topk_ivf(df, query_ids=query_ids, k=5,
                        n_centroids=16, n_probe=4).collect()
    got_nn = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    hits = sum(1 for q in query_ids if got_nn.get(q) == true_nn[q])
    recall = hits / len(query_ids)
    assert recall >= 0.9, f"IVF ANN recall@1 {recall:.3f} < 0.9"


def test_ann_ivf_search_space_shrinks(planted):
    """The point of IVF: probing 4 of 16 cells must examine a strict
    subset of the corpus per query (scale path, not a rename of brute
    force)."""
    from pyspark.sql import functions as F

    from pdf_table_spark.ops.similarity import (
        _cell_structs, ivf_centroids)
    df, arr, _ = planted
    cents = ivf_centroids(df, 16)
    cells = df.withColumn(
        "cell",
        F.expr(f"(array_max(array({_cell_structs(cents)})).nid * -1L)"))
    sizes = {r.cell: r.n for r in
             cells.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) > 4  # vectors actually spread over cells
    # any 4 cells cover well under the whole corpus
    top4 = sum(sorted(sizes.values(), reverse=True)[:4])
    assert top4 < len(arr)


def test_semdedup_keeps_one_per_embedding_cluster(spark):
    """Planted identical/near-identical vectors collapse to one
    canonical vec_id; unrelated vectors all survive."""
    import random

    from pdf_table_spark.ops.similarity import semdedup
    rng = random.Random(7)
    dim = 64

    def vec(seed=None):
        r = random.Random(seed) if seed is not None else rng
        return [r.uniform(-1, 1) for _ in range(dim)]

    base = vec(1)
    near = list(base)
    near[0] += 1e-4          # cosine ~1.0 with base
    rows = [(0, base), (1, near), (2, list(base))]   # cluster {0,1,2}
    rows += [(10 + i, vec()) for i in range(20)]     # unrelated
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, threshold=0.99)
    comp = {r.vec_id: r.component for r in out["components"].collect()}
    assert comp == {0: 0, 1: 0, 2: 0}
    kept = {r.vec_id for r in out["keep"].collect()}
    assert kept == {0} | {10 + i for i in range(20)}


def test_cosine_topk_np_matches_interpreted(spark, planted):
    """The vectorized brute force is EXACT: same (query, neighbor)
    top-k sets and cosines (to 9dp) as the oracle-checked interpreted
    baseline on the planted corpus."""
    from pdf_table_spark.ops.similarity import cosine_topk, cosine_topk_np
    df, _, _ = planted
    a = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
         for r in cosine_topk(df, k=5).collect()}
    b = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
         for r in cosine_topk_np(df, k=5).collect()}
    assert set(a) == set(b)
    for key, (nid, cos) in a.items():
        nid_b, cos_b = b[key]
        assert abs(cos - cos_b) < 1e-8
        # ids may differ only on exact-cosine ties
        if nid != nid_b:
            assert abs(cos - cos_b) < 1e-9


def test_ann_ivf_np_kmeans_recall(spark, planted):
    """k-means-trained IVF with numpy assignment/scoring: recall@1
    ≥0.9 vs the exact brute force on the planted corpus (8 centroids,
    6 probes — the planted base vectors are near-uniform random, the
    worst case for a coarse quantizer, so the cell-shrink factor is
    modest here; the clustered-data regime where IVF earns its keep is
    measured at 10^6 vectors by scripts/bench_ann_scale.py, last in
    commit 0232b5d; the result is BENCH_ann.json)."""
    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                cosine_topk_np,
                                                ivf_centroids_kmeans)
    df, _, _ = planted
    cents = ivf_centroids_kmeans(df, n_centroids=8, max_iter=5)
    assert len(cents) == 8 and len(cents[0][1]) == DIM
    qids = list(range(20))
    truth = {r.query_id: r.neighbor_id
             for r in cosine_topk_np(df, qids, k=1).collect()}
    got = {r.query_id: r.neighbor_id
           for r in ann_topk_ivf_np(df, cents, qids, k=1,
                                    n_probe=6).collect()}
    hits = sum(1 for q in truth if got.get(q) == truth[q])
    assert hits / len(truth) >= 0.9, (hits, len(truth))


def test_semdedup_kmeans_paper_variant(spark, planted):
    """The published SemDeDup shape: within-k-means-cell exact
    pairwise dedup keeping the member FARTHEST from its centroid.
    Every planted duplicate pair that lands in the same cell must be
    collapsed; distinct vectors all survive; exactly one keeper per
    component, and it is the argmin centroid-cosine member."""
    from pdf_table_spark.ops.similarity import semdedup_kmeans
    df, arr, dup_src = planted
    out = semdedup_kmeans(df, n_clusters=4, threshold=0.98,
                          chunk=37).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(by_id) == len(arr)                 # nothing lost
    # exact ground truth, honouring the paper's same-cell restriction
    cell = {r.vec_id: r.cell for r in out}
    sims = arr @ arr.T
    for j, src in enumerate(dup_src):
        a, b = int(src), N_BASE + j
        if cell[a] == cell[b] and sims[a, b] >= 0.98:
            assert by_id[a].component == by_id[b].component
    comps = {}
    for r in out:
        comps.setdefault(r.component, []).append(r)
    for members in comps.values():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        far = min(members, key=lambda m: (m.cent_cos, m.vec_id))
        assert keepers[0].vec_id == far.vec_id
    # singleton components always keep themselves
    singles = [ms[0] for ms in comps.values() if len(ms) == 1]
    assert singles and all(m.keep for m in singles)


def test_semdedup_kmeans_deterministic(spark, planted):
    """Given a quantizer (trained once per corpus snapshot in
    production), the dedup stage is partitioning-invariant: the
    per-cell sort pins union-find and tie-break order. (MLlib
    k-means|| itself is partitioning-SENSITIVE even when seeded —
    train once, persist the centroids.)"""
    from pdf_table_spark.ops.similarity import (ivf_centroids_kmeans,
                                                semdedup_kmeans)
    df, _, _ = planted
    cents = ivf_centroids_kmeans(df, n_centroids=4)
    a = sorted(map(tuple, semdedup_kmeans(
        df, threshold=0.98, centroids=cents).collect()))
    b = sorted(map(tuple, semdedup_kmeans(
        df.repartition(7), threshold=0.98, centroids=cents,
        chunk=11).collect()))
    assert a == b


def test_semdedup_kmeans_max_cell_guard(spark, planted):
    """A skewed cell fails fast with the cell id + population in the
    message instead of silently OOMing the executor."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from pdf_table_spark.ops.similarity import semdedup_kmeans
    df, arr, _ = planted
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        semdedup_kmeans(df, n_clusters=2, threshold=0.98,
                        max_cell=3).collect()
    assert "max_cell=3" in str(ei.value)
    assert "raise n_clusters" in str(ei.value)


def test_ivf_index_at_rest_prunes_unprobed_cells(spark, planted,
                                                 tmp_path):
    """The at-rest pruning proof (round 5): the IVF index persisted
    partitionBy(cell) must physically SKIP unprobed cells' files —
    asserted from the executed scan's numFiles/numPartitions metrics,
    not just the plan text — and the search over the partitioned
    layout must return exactly what the in-memory cells frame
    returns."""
    from pyspark.sql import functions as F

    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                ivf_assign,
                                                ivf_centroids_kmeans,
                                                read_ivf_index,
                                                scan_file_metrics,
                                                write_ivf_index)
    df, _, _ = planted
    cents = ivf_centroids_kmeans(df, n_centroids=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(ivf_assign(df, cents), path)

    full = read_ivf_index(spark, path)
    full.collect()
    total = scan_file_metrics(full)
    assert total["numPartitions"] == 8

    probed = read_ivf_index(spark, path).filter(
        F.col("cell").isin([0, 1]))
    probed.collect()
    got = scan_file_metrics(probed)
    assert got["numPartitions"] == 2
    assert 0 < got["numFiles"] < total["numFiles"]

    # end-to-end: few queries + n_probe < n_cells leaves cells
    # unprobed; results from the partitioned layout == in-memory
    qids = [3, 11]
    mem = sorted(map(tuple, ann_topk_ivf_np(
        df, cents, qids, k=3, n_probe=2,
        cells=ivf_assign(df, cents)).collect()))
    disk = sorted(map(tuple, ann_topk_ivf_np(
        df, cents, qids, k=3, n_probe=2,
        cells=read_ivf_index(spark, path)).collect()))
    assert mem == disk


def test_zero_norm_vectors_match_duckdb_twins(spark):
    """An all-zero embedding has no cosine: every arm gives it a NULL
    cosine, as the DuckDB twins do, instead of failing the job on an
    ANSI-mode divide by zero. One zero vector is a query (and an IVF
    seed centroid), one a candidate; a planted near-dup pair keeps the
    near-dup output non-empty."""
    import duckdb
    import pyarrow as pa

    from pdf_table_spark.ops.similarity import (ann_topk_ivf, ann_topk_lsh,
                                                cosine_topk,
                                                embedding_neardup_pairs)
    from pdf_table_spark.queries.duplicates import ann_topk_sql, neardup_sql

    rng = np.random.RandomState(11)
    arr = rng.randn(42, DIM).astype(np.float32)
    arr[3] = 0.0
    arr[25] = 0.0
    arr[31] = arr[30] + np.float32(0.01) * rng.randn(DIM).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(arr)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with duckdb.connect() as con:
        con.register("embeddings", pa.table({
            "vec_id": pa.array(range(len(arr)), pa.int64()),
            "embedding": pa.array([list(v) for v in arr],
                                  pa.list_(pa.float32()))}))
        twins = sorted(con.execute(ann_topk_sql()).fetchall())
        neardup_twin = sorted(con.execute(neardup_sql()).fetchall())

    def spark_rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    for method, topk in (("brute", cosine_topk), ("lsh", ann_topk_lsh),
                         ("ivf", ann_topk_ivf)):
        got = spark_rows(topk(df, k=5))
        assert got == [r[1:] for r in twins if r[0] == method], method
        if method == "brute":
            assert [c for q, _, c, _ in got if q == 3] == [None] * 5
    pairs = spark_rows(embedding_neardup_pairs(df))
    assert pairs == neardup_twin
    assert [(a, b) for a, b, _ in pairs] == [(30, 31)]


def test_ann_ivf_np_all_probes_equals_brute_np(spark, planted):
    """IVF probing every cell searches the whole corpus, so the block
    kernel's two callers must agree: same (query, rank) -> neighbor and
    cosines within 1e-9."""
    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                cosine_topk_np,
                                                ivf_centroids)
    df, _, _ = planted
    cents = ivf_centroids(df, 8)
    qids = list(range(56))
    brute = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in cosine_topk_np(df, qids, k=5).collect()}
    ivf = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
           for r in ann_topk_ivf_np(df, cents, qids, k=5,
                                    n_probe=len(cents)).collect()}
    assert len(brute) == 56 * 5
    assert set(ivf) == set(brute)
    for key, (nid, cos) in brute.items():
        assert ivf[key][0] == nid, key
        assert abs(ivf[key][1] - cos) <= 1e-9, key


@pytest.fixture(scope="module")
def zero_norm(spark):
    """20 random 8-d vectors; vec_ids 3 (a default query and an IVF
    seed centroid) and 12 are all-zero."""
    arr = np.random.default_rng(0).standard_normal((20, 8))
    arr[[3, 12]] = 0.0
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(arr)],
        "vec_id long, embedding array<double>")


@pytest.mark.parametrize("k", [20, 5])
def test_zero_norm_np_matches_interpreted(spark, zero_norm, k):
    """A pair with a zero-norm side has a NULL cosine in the numpy half
    too, and ranks after every scored neighbour by neighbor_id, both
    for a zero candidate (query 0 → 3, 12) and a zero query (3)."""
    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                cosine_topk, cosine_topk_np,
                                                ivf_centroids)
    cents = ivf_centroids(zero_norm, 4)

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    want = rows(cosine_topk(zero_norm, k=k))

    def ranked(query):
        return sorted((r, n, c) for q, n, c, r in want if q == query)

    assert ranked(3) == [(r, n, None) for r, n in enumerate(
        [n for n in range(20) if n != 3][:k], 1)]
    if k == 20:
        assert ranked(0)[-2:] == [(18, 3, None), (19, 12, None)]
    assert rows(cosine_topk_np(zero_norm, k=k)) == want
    assert rows(ann_topk_ivf_np(zero_norm, cents, k=k,
                                n_probe=len(cents))) == want


def test_np_empty_query_set_gives_empty_frame(spark, zero_norm):
    """No vector matches the query set: the numpy searches return an
    empty frame, as ``cosine_topk`` does, instead of failing on the
    driver."""
    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                cosine_topk, cosine_topk_np,
                                                ivf_centroids)
    cents = ivf_centroids(zero_norm, 4)
    assert cosine_topk(zero_norm, query_ids=[99]).collect() == []
    assert cosine_topk_np(zero_norm, query_ids=[99]).collect() == []
    assert ann_topk_ivf_np(zero_norm, cents, query_ids=[99]).collect() == []


def _nan_table(spark):
    """The 42 vectors of ``test_zero_norm_vectors_match_duckdb_twins``
    (zero vectors 3 and 25, near-dup pair 30/31) with one NaN component
    in vec_id 5, a default query and an IVF seed centroid."""
    rng = np.random.RandomState(11)
    arr = rng.randn(42, DIM).astype(np.float32)
    arr[3] = 0.0
    arr[25] = 0.0
    arr[31] = arr[30] + np.float32(0.01) * rng.randn(DIM).astype(np.float32)
    arr[5, 7] = np.nan
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(arr)]
    return arr, spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def _reprs(rows):
    """Rows as sorted tuples of ``repr``s: NaN equals NaN only so."""
    return sorted(tuple(repr(x) for x in r) for r in rows)


def test_nan_component_matches_duckdb_twins(spark):
    """A NaN embedding component gives NaN cosines in every arm, as in
    the DuckDB twins, and ranks first; the IVF arm renders the NaN seed
    centroid as a SQL literal instead of failing the job."""
    import duckdb
    import pyarrow as pa

    from pdf_table_spark.ops.similarity import (ann_topk_ivf, ann_topk_lsh,
                                                cosine_topk,
                                                embedding_neardup_pairs)
    from pdf_table_spark.queries.duplicates import ann_topk_sql, neardup_sql

    arr, df = _nan_table(spark)
    with duckdb.connect() as con:
        con.register("embeddings", pa.table({
            "vec_id": pa.array(range(len(arr)), pa.int64()),
            "embedding": pa.array([list(v) for v in arr],
                                  pa.list_(pa.float32()))}))
        twins = con.execute(ann_topk_sql()).fetchall()
        neardup_twin = con.execute(neardup_sql()).fetchall()
    for method, topk in (("brute", cosine_topk), ("lsh", ann_topk_lsh),
                         ("ivf", ann_topk_ivf)):
        got = topk(df, k=5).collect()
        assert _reprs(got) == _reprs(
            r[1:] for r in twins if r[0] == method), method
    first = [r for r in cosine_topk(df, k=5).collect()
             if r.query_id == 0 and r.rank == 1]
    assert _reprs(first) == _reprs([(0, 5, float("nan"), 1)])
    assert _reprs(embedding_neardup_pairs(df).collect()) == \
        _reprs(neardup_twin)


def test_nan_component_np_matches_interpreted(spark):
    """The numpy half ranks a NaN pair as Spark orders NaN, above every
    cosine in neighbor-id order, and returns it as NaN: both searches
    equal ``cosine_topk`` row for row, NULL (zero-norm) pairs included."""
    from pdf_table_spark.ops.similarity import (ann_topk_ivf_np,
                                                cosine_topk, cosine_topk_np,
                                                ivf_centroids)
    _, df = _nan_table(spark)
    cents = ivf_centroids(df, 4)
    assert all(np.isfinite(c).all() for _, c in cents)
    want = _reprs(cosine_topk(df, k=8).collect())
    assert ("5", "0", "nan", "1") in want
    assert _reprs(cosine_topk_np(df, k=8).collect()) == want
    assert _reprs(ann_topk_ivf_np(df, cents, k=8,
                                  n_probe=len(cents)).collect()) == want
