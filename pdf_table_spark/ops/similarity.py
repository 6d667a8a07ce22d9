"""Similarity search over ``embeddings(vec_id, embedding float[], label)``.

  * brute-force cosine top-k — the exactness baseline: broadcast the
    (small) query set, JVM-side zip_with/aggregate dot products, window
    top-k. No Python, no cartesian shuffle (broadcast join).
  * LSH-bucketed ANN — the scale path: sign-of-dot-product against
    ``LSH_PLANES`` deterministic hyperplanes → bucket key; candidates
    searched in the query's bucket AND every bucket at Hamming
    distance 1 (multi-probe: LSH_PLANES+1 probes). For a neighbor at
    cosine c, P(agree per plane) = 1 - acos(c)/π, so at c=0.99 the
    probe set catches ~0.98 of true nearest neighbors while still
    shrinking the search space ~2^n/(n+1)-fold.
  * IVF-Flat ANN — every vector joins its max-cosine centroid cell and
    each query searches its ``n_probe`` nearest cells.
  * embedding near-dup — OR-of-bands (the MinHash-LSH shape applied to
    hyperplane signs): NEARDUP_BANDS bands × NEARDUP_ROWS planes; a
    pair is a candidate when ANY band's sign-pattern matches. At
    cosine 0.95 (p≈0.899/plane) recall = 1-(1-p^8)^6 ≈ 0.96, vs ~0.5
    for the previous single-bucket probe; random pairs still collide
    at only ~bands/2^rows ≈ 2.3%, so the quadratic step stays bounded.

The three top-k operators differ only in their candidate rows and
probes: ``_topk`` is their one search body (broadcast probe join,
staged-norm cosine, window top-k), and ``_sign_key`` builds both the
LSH bucket and the near-dup band keys. Dot products are computed as a
sequential left fold in double precision — the same order DuckDB's
list_dot_product uses — so oracle values match bit-for-bit. A
zero-norm vector gets a NULL cosine (``try_divide``), as in the DuckDB
twins, instead of failing an ANSI-mode job. A measured
recall-vs-brute-force gate lives in tests/test_similarity_recall.py.

The numpy half (``cosine_topk_np``, ``ivf_assign``, ``ann_topk_ivf_np``,
``semdedup_kmeans``) is the same search with the inner loop in one
matmul per Arrow batch: interpreted lambdas cost ~10 ns per
multiply-add, too slow at 10^6+ vectors. Its two searches share one
block kernel, ``_block_topk``, which gives a zero-norm vector the same
NULL cosine and last-place rank, and a vector with a NaN component the
same NaN cosine and first-place rank. It has no oracle twin; the tests
compare it against the interpreted operators.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# staged-norm building blocks: the pair scorers compute each row's
# norm ONCE as a column and divide the dot product by the product of
# staged norms — the same IEEE operation sequence as folding both
# norms per pair (dot / (sqrt(Σa²) · sqrt(Σb²)), all left folds), so
# cosines are bit-identical, but the two norm folds stop being
# recomputed per PAIR (for brute force that was 2/3 of the
# interpreted flops: 128 of 192 multiply-adds per pair).
DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0D, (acc, v) -> acc + v)"
)
NORM_EXPR = ("sqrt(aggregate({a}, 0D, (acc, v) -> "
             "acc + cast(v as double) * cast(v as double)))")


def _cosine(a: str, b: str, na: str, nb: str) -> str:
    """dot(a, b) / (na * nb); NULL when a norm is zero."""
    return f"try_divide({DOT_EXPR.format(a=a, b=b)}, {na} * {nb})"


COS_EXPR = _cosine("{a}", "{b}", NORM_EXPR.format(a="{a}"),
                   NORM_EXPR.format(a="{b}"))

DIM = 64          # embedding width the hyperplane literals are built for
LSH_PLANES = 8    # sign bits of the ANN bucket key


def _double(v) -> str:
    """SQL double literal of ``v``: ``repr`` for a finite value, the
    quoted name for NaN and ±Infinity (a bare ``nan`` or ``inf`` would
    parse as a column name)."""
    v = float(v)
    if math.isnan(v):
        return "cast('NaN' as double)"
    if math.isinf(v):
        return f"cast('{'-' if v < 0 else ''}Infinity' as double)"
    return f"cast({v!r} as double)"


def _fold_norm(vec) -> float:
    """Driver-side twin of NORM_EXPR: the identical sequential left
    fold in IEEE doubles, for embedding centroid norms as literals."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def _query_rows(df: DataFrame, query_ids) -> DataFrame:
    """The query subset of ``df``: ``query_ids``, by default vec_id < 10."""
    return df.filter(F.col("vec_id").isin([int(q) for q in query_ids])
                     if query_ids is not None else F.col("vec_id") < 10)


def _probes(rows: DataFrame, query_ids, probe: str | None = None,
            *extra) -> DataFrame:
    """(query_id, q_emb, _qn, *extra) of the query subset of ``rows``;
    with ``probe``, one row per element of that array expression, as
    column ``probe``."""
    queries = _query_rows(rows, query_ids).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        F.col("_n").alias("_qn"), *extra)
    if probe is None:
        return queries
    return queries.select("query_id", "q_emb", "_qn",
                          F.explode(F.expr(probe)).alias("probe"))


def _rank(pairs: DataFrame, k: int, cosine="cosine") -> DataFrame:
    """Each query's top ``k`` pairs by cosine desc, neighbor_id asc."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", cosine,
                    F.col("rank").cast("int").alias("rank")))


def _topk(rows: DataFrame, probes: DataFrame, k: int,
          key: str | None = None) -> DataFrame:
    """The one interpreted search body: candidate ``rows`` (vec_id,
    embedding, _n) join the broadcast ``probes`` (query_id, q_emb,
    _qn, and ``probe`` when ``key`` is set) on ``key == probe`` and
    vec_id != query_id; each pair is scored by the staged-norm cosine
    rounded to 9 places and each query keeps its top ``k``. A
    candidate holds one key, so the join yields no duplicate
    (query, neighbor) rows."""
    on = F.col("vec_id") != F.col("query_id")
    if key is not None:
        on = (F.col(key) == F.col("probe")) & on
    pairs = rows.join(F.broadcast(probes), on).select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        F.expr(f"round({_cosine('q_emb', 'embedding', '_qn', '_n')}, 9)")
        .alias("cosine"))
    return _rank(pairs, k)


def cosine_topk(emb: DataFrame, query_ids=None, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``query_ids`` defaults to vec_id < 10. The query side is broadcast
    (it is small by construction); ranking ties break on neighbor id so
    results are total-ordered and oracle-stable.
    """
    rows = emb.select("vec_id", "embedding",
                      F.expr(NORM_EXPR.format(a="embedding")).alias("_n"))
    return _topk(rows, _probes(rows, query_ids), k)


def hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is +1/-1 by
    the parity of md5('p<plane>:<j>') — reproducible in any engine (the
    DuckDB oracle embeds the identical literals)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"p{plane_idx}:{j}".encode()).hexdigest()[:8],
                   16) % 2 == 0 else -1.0
        for j in range(dim)
    ]


def _plane_literal(plane_idx: int) -> str:
    comps = ", ".join(
        f"{'1.0D' if c > 0 else '-1.0D'}" for c in hyperplane(DIM, plane_idx))
    return f"array({comps})"


def _sign_key(planes) -> str:
    """Bigint key whose bit i is the sign of dot(embedding, planes[i])."""
    return " + ".join(
        f"if(aggregate(zip_with(embedding, {_plane_literal(p)},"
        f" (x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v) > 0,"
        f" cast({1 << i} as bigint), 0L)" for i, p in enumerate(planes))


def lsh_bucket(emb: DataFrame) -> DataFrame:
    """Bucket id per vector: bit i = sign of dot(embedding, plane_i).
    Buckets ~ 2^LSH_PLANES; the ANN search space shrinks ~256x."""
    return emb.withColumn("bucket", F.expr(_sign_key(range(LSH_PLANES))))


def ann_topk_lsh(emb: DataFrame, query_ids=None, k: int = 5) -> DataFrame:
    """Approximate top-k: multi-probe LSH — candidates from the query's
    bucket plus the LSH_PLANES buckets one bit-flip away. Same output
    schema as cosine_topk."""
    bucketed = lsh_bucket(emb).withColumn(
        "_n", F.expr(NORM_EXPR.format(a="embedding")))
    probe_list = ", ".join(
        ["q_bucket"] + [f"q_bucket ^ {1 << i}L" for i in range(LSH_PLANES)])
    probes = _probes(bucketed, query_ids, f"array({probe_list})",
                     F.col("bucket").alias("q_bucket"))
    return _topk(bucketed, probes, k, key="bucket")


def _vec_literal(vals) -> str:
    return f"array({', '.join(_double(v) for v in vals)})"


def ivf_centroids(emb: DataFrame, n_centroids: int = 16) -> list:
    """IVF coarse quantizer: the ``n_centroids`` vectors with the
    smallest vec_id, collected to the driver (16 x dim floats — the
    same driver-held-small-model shape as broadcast weights). A
    deterministic seed-vector quantizer rather than k-means: FAISS
    would Lloyd-refine these seeds, which only moves the centroids —
    the plan (assign → probe → search-within-cells) is identical, and
    determinism is what lets the DuckDB oracle replicate the cells.
    Returns [(centroid_id, [float, ...]), ...]."""
    rows = (emb.orderBy("vec_id").limit(n_centroids)
            .select("vec_id", "embedding").collect())
    return [(int(r.vec_id), [float(x) for x in r.embedding])
            for r in rows]


def _cell_structs(cents, col: str = "embedding",
                  norm_col: str | None = None) -> str:
    """Per-centroid (cosine, -centroid_id) structs; array_max picks the
    max cosine and, on a rounded tie, the SMALLEST centroid id.

    ``norm_col`` names a staged row-norm column: the per-centroid
    cosine then divides one dot product by (row norm × a driver-
    computed centroid-norm literal — the identical IEEE fold, see
    ``_fold_norm``) instead of re-folding both norms per centroid;
    with 16 centroids that removes 32 of 48 interpreted array folds
    per row, bit-identically."""
    structs = []
    for cid, vec in cents:
        if norm_col is None:
            cos = COS_EXPR.format(a=col, b=_vec_literal(vec))
        else:
            cos = _cosine(col, _vec_literal(vec), norm_col,
                          _double(_fold_norm(vec)))
        structs.append(f"struct(round({cos}, 9) as c, {-cid}L as nid)")
    return ", ".join(structs)


def ann_topk_ivf(emb: DataFrame, query_ids=None, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF-Flat approximate top-k: every vector is assigned to its
    max-cosine centroid cell (a NARROW projection against driver-held
    centroid literals — no shuffle, no join), each query probes its
    ``n_probe`` nearest cells, and the exact search runs only inside
    the probed cells. Same output schema as cosine_topk.

    The 100 TB plan: assignment is embarrassingly parallel scan work;
    the candidate join keys on the cell id with the tiny probe set
    broadcast — the search space shrinks ~n_centroids/n_probe-fold and
    no cross join ever materializes."""
    cents = ivf_centroids(emb, n_centroids)
    cells = emb.withColumn(
        "_n", F.expr(NORM_EXPR.format(a="embedding"))
    ).withColumn(
        "cell",
        F.expr(f"(array_max(array("
               f"{_cell_structs(cents, norm_col='_n')})).nid * -1L)"))
    # n_probe nearest cells per query: sort (cosine asc, -cid asc) then
    # reverse → cosine desc with centroid_id asc on rounded ties
    probes = _probes(
        cells, query_ids,
        f"transform(slice(reverse(array_sort(array("
        f"{_cell_structs(cents, col='q_emb', norm_col='_qn')}"
        f"))), 1, {n_probe}), s -> s.nid * -1L)")
    return _topk(cells, probes, k, key="cell")


NEARDUP_BANDS = 6
NEARDUP_ROWS = 8  # planes per band


def lsh_band_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, band, key): one row per band, key = the
    band's NEARDUP_ROWS sign bits. Plane index = band*rows + row, so
    bands use disjoint hyperplane sets."""
    structs = [
        F.struct(F.lit(b).alias("band"), F.expr(_sign_key(
            range(b * NEARDUP_ROWS, (b + 1) * NEARDUP_ROWS)))
            .alias("key"))
        for b in range(NEARDUP_BANDS)]
    # the row norm is staged BEFORE the band explode (once per vector,
    # not once per band row, and never per candidate pair) — the
    # staged-norm scorer in embedding_neardup_pairs divides by it
    return (
        emb.select("vec_id", "embedding",
                   F.expr(NORM_EXPR.format(a="embedding")).alias("_n"),
                   F.explode(F.array(*structs)).alias("bk"))
        .select("vec_id", "embedding", "_n",
                F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    )


def embedding_neardup_pairs(emb: DataFrame,
                            threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via OR-of-bands LSH: a
    pair is compared when ANY band's sign pattern matches (recall ≈
    1-(1-p^rows)^bands, measured ≥0.9 in the recall gate), and the
    quadratic step never leaves a (band, key) bucket. Pairs colliding
    in several bands are deduped by the final distinct (cosine is
    deterministic, so the rows are identical). Returns (vec_a, vec_b,
    cosine >= threshold)."""
    banded = lsh_band_rows(emb)
    a = banded.alias("a")
    b = banded.alias("b")
    cos = _cosine("a.embedding", "b.embedding", "a._n", "b._n")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(f"round({cos}, 9)").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def semdedup(emb: DataFrame, threshold: float = 0.95) -> dict:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): embedding-
    cosine near-dup pairs (OR-of-bands LSH, measured recall ≥0.9) →
    connected components → keep exactly one vector (the minimum
    vec_id) per semantic-duplicate cluster. The embedding-space
    counterpart of ``dedup.dedup_corpus_clusters``: pairwise drops
    split chains, components don't.

    Returns {"pairs": (vec_a, vec_b, cosine), "components":
    (vec_id, component), "keep": surviving vec_ids}.
    """
    from .dedup import connected_components

    pairs = embedding_neardup_pairs(emb, threshold)
    comp = (connected_components(pairs, a="vec_a", b="vec_b")
            .withColumnsRenamed({"doc_id": "vec_id"}))
    dropped = (comp.filter(F.col("vec_id") != F.col("component"))
               .select("vec_id"))
    keep = emb.join(dropped, "vec_id", "left_anti").select("vec_id")
    return {"pairs": pairs, "components": comp, "keep": keep}


# ---------------------------------------------------------------------------
# Vectorized scale path: numpy over Arrow batches for corpus-size vector
# tables — the same candidate-generation plans (broadcast probes, keyed
# cells, never a cartesian) with one matmul per batch instead of
# per-element lambdas. Query SETS stay driver-collected and broadcast
# (bounded, the same small-model shape as ivf_centroids).
# ---------------------------------------------------------------------------

TOPK_SCHEMA = "query_id long, neighbor_id long, cosine double"


def _unit(vecs) -> np.ndarray:
    """The vectors as float64 rows scaled to unit length; an all-zero
    row stays zero, and no vectors give a (0, 0) matrix."""
    m = np.array(list(vecs), dtype="float64")
    if not len(m):
        return m.reshape(0, 0)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
    return m


def _block_topk(m, vid, q, qids, k: int):
    """The numpy search kernel: unit rows ``m`` (ids ``vid``) scored
    against unit queries ``q`` (ids ``qids``), each query's own row
    excluded; each query keeps its top min(k, rows) rows (argpartition,
    unordered) as a (query_id, neighbor_id, cosine) frame.

    Pairs without a cosine rank as ``cosine_topk`` ranks them, in
    neighbor-id order among themselves: a pair with an all-zero side
    (NULL in Spark) after every scored row, leaving as NaN, which the
    Arrow boundary turns into NULL; a pair with a NaN or infinite
    component (NaN in Spark, which orders NaN above every double)
    before every scored row, leaving as +inf, which ``_np_cosine``
    turns back into NaN."""
    import pandas as pd
    s = m @ q.T                                 # (rows, queries)
    nan = np.isnan(s)
    zero_row, zero_q = ~m.any(axis=1), ~q.any(axis=1)
    if nan.any() or zero_row.any() or zero_q.any():
        # selection scores: NULL pairs in (-3, -2], NaN pairs in
        # (2, 3], both in neighbor-id order; a NaN side wins over a
        # zero one, as in Spark's 0 * NaN
        order = np.argsort(np.argsort(vid, kind="stable")) / len(vid)
        null = -2.0 - order
        s[zero_row] = null[zero_row, None]
        s[:, zero_q] = null[:, None]
        s[nan] = np.broadcast_to(3.0 - order[:, None], s.shape)[nan]
    pos = {int(x): j for j, x in enumerate(qids)}
    for i in np.nonzero(np.isin(vid, qids))[0]:
        s[i, pos[int(vid[i])]] = -np.inf
    kk = min(k, len(vid))
    top = np.argpartition(-s, kth=kk - 1, axis=0)[:kk]
    cos = np.take_along_axis(s, top, axis=0).T.ravel()
    out = pd.DataFrame({
        "query_id": np.repeat(qids, kk),
        "neighbor_id": vid[top.T.ravel()],
        "cosine": np.select([cos <= -2.0, cos > 2.0], [np.nan, np.inf],
                            cos)})
    return out[np.isfinite(cos)]


def _np_cosine():
    """The output cosine of the numpy searches: rounded like the
    interpreted ones, with the block kernel's +inf back to NaN."""
    return (F.when(F.col("cosine") == math.inf, F.expr(_double(math.nan)))
            .otherwise(F.round("cosine", 9)).alias("cosine"))


def _query_matrix(emb: DataFrame, query_ids):
    """Collect the (small) query set to the driver as a normalized
    numpy matrix + id vector."""
    rows = (_query_rows(emb, query_ids)
            .select("vec_id", "embedding").collect())
    qids = np.array([int(r.vec_id) for r in rows], dtype="int64")
    return qids, _unit(r.embedding for r in rows)


def cosine_topk_np(emb: DataFrame, query_ids=None,
                   k: int = 5) -> DataFrame:
    """Exact brute-force top-k, vectorized: mapInPandas computes one
    (batch x dim) @ (dim x n_queries) matmul per Arrow batch and emits
    only each batch's top-k rows per query — the shuffle carries
    n_partitions x n_queries x k rows, never the full score matrix.
    Same output schema and tie rule as ``cosine_topk`` (which remains
    the oracle contract); this is the 10^6+-vector baseline the
    approximate paths are measured against."""
    bq = emb.sparkSession.sparkContext.broadcast(
        _query_matrix(emb, query_ids))

    def part(batches):
        ids_b, q_b = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = _unit(pdf["embedding"])
            vid = pdf["vec_id"].to_numpy("int64")
            # chunk the query axis so the (rows x queries) score
            # matrix stays ~32 MB per worker regardless of the query
            # count — 32 workers x an unchunked 16k x several-k
            # matrix was pure allocator churn
            step = max(1, (4 << 20) // len(pdf))
            for lo in range(0, len(ids_b), step):
                yield _block_topk(m, vid, q_b[lo:lo + step],
                                  ids_b[lo:lo + step], k)

    partial = (emb.select("vec_id", "embedding")
               .mapInPandas(part, TOPK_SCHEMA))
    return _rank(partial, k, _np_cosine())


def ivf_centroids_kmeans(emb: DataFrame, n_centroids: int = 64,
                         max_iter: int = 10) -> list:
    """Lloyd-refined IVF coarse quantizer via Spark MLlib's
    distributed k-means|| (seed 42, trained on every vector) — the
    production replacement for the deterministic seed quantizer
    (``ivf_centroids``, kept as the oracle contract). Returns the same
    [(centroid_id, [float, ...])] shape, so both quantizers plug into
    the same search."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    feats = emb.select(array_to_vector(
        F.col("embedding").cast("array<double>")).alias("features"))
    model = KMeans(k=n_centroids, maxIter=max_iter, seed=42,
                   featuresCol="features").fit(feats)
    return [(i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())]


def _centroid_matrix(centroids):
    cids = np.array([cid for cid, _ in centroids], dtype="int64")
    return cids, _unit(c for _, c in centroids)


def ivf_assign(emb: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, embedding, cell): max-cosine centroid per vector, one
    (batch x dim) @ (dim x n_cells) argmax per Arrow batch (a pandas
    UDF — no join, no shuffle). This is the INDEX-BUILD step: a
    production deployment runs it once per corpus snapshot, persists
    the result partitioned by cell, and amortizes it over every query
    wave — pass the persisted frame to ``ann_topk_ivf_np(cells=...)``."""
    from pyspark.sql.functions import pandas_udf
    bc = emb.sparkSession.sparkContext.broadcast(_centroid_matrix(centroids))

    @pandas_udf("long")
    def _cell(embs):
        import pandas as pd
        ids_c, c = bc.value
        if not len(embs):
            return pd.Series([], dtype="int64")
        return pd.Series(ids_c[np.argmax(_unit(embs) @ c.T, axis=1)])

    return emb.select("vec_id", "embedding",
                      _cell("embedding").alias("cell"))


def ann_topk_ivf_np(emb: DataFrame, centroids: list, query_ids=None,
                    k: int = 5, n_probe: int = 8,
                    cells: DataFrame | None = None) -> DataFrame:
    """IVF-Flat search, vectorized: assignment from ``ivf_assign``
    (or a precomputed/persisted ``cells`` frame); each query's
    ``n_probe`` nearest cells are computed driver-side from the same
    centroid matrix; each probed cell's candidates are scored by the
    block kernel against the queries probing it, with per-batch
    top-k, so the final window sees only n_partitions x n_queries x k
    rows. The 100 TB plan shape is identical to ``ann_topk_ivf`` —
    only the per-element lambdas are replaced by numpy."""
    cids, cmat = _centroid_matrix(centroids)
    if cells is None:
        cells = ivf_assign(emb, centroids)

    qids, q = _query_matrix(emb, query_ids)
    probe_cells = (np.argsort(-(q @ cmat.T), axis=1)[:, :n_probe]
                   if len(q) else [])
    # cell -> indices of the queries probing it: a broadcast dict, not
    # a join — a probe JOIN would replicate every candidate's 64-dim
    # embedding once per probing query (n_queries x n_probe/n_cells
    # copies of the corpus through the shuffle); grouping by cell
    # inside each Arrow batch moves the corpus ONCE and still does
    # only the probed fraction of the dot products
    probes_by_cell: dict = {}
    for j, row in enumerate(probe_cells):
        for c in row:
            probes_by_cell.setdefault(int(cids[c]), []).append(j)
    bq = emb.sparkSession.sparkContext.broadcast((qids, q, probes_by_cell))

    def score(batches):
        import pandas as pd
        ids_b, q_b, by_cell = bq.value
        for pdf in batches:
            parts = []
            for cell, g in pdf.groupby("cell"):
                qidx = by_cell.get(int(cell))
                if qidx:
                    parts.append(_block_topk(
                        _unit(g["embedding"]), g["vec_id"].to_numpy("int64"),
                        q_b[qidx], ids_b[qidx], k))
            if parts:
                # per-batch per-query top-k keeps the shuffle at
                # n_batches x n_queries x k rows
                yield (pd.concat(parts)
                       .sort_values(["cosine", "neighbor_id"],
                                    ascending=[False, True])
                       .groupby("query_id", sort=False).head(k))

    # unprobed cells are skipped entirely (partition-pruned when the
    # persisted index is partitioned by cell); with enough queries
    # every cell is probed by someone and the filter is a no-op
    probed = sorted(probes_by_cell)
    searched = cells if len(probed) == len(cids) else cells.filter(
        F.col("cell").isin(probed))
    partial = searched.mapInPandas(score, TOPK_SCHEMA)
    return _rank(partial, k, _np_cosine())


def write_ivf_index(cells: DataFrame, path: str) -> None:
    """Persist an ``ivf_assign`` output AT REST, hive-partitioned by
    cell — the production index layout — overwriting ``path``. Every
    probe-time filter ``cell IN (probes)`` then becomes a PARTITION
    filter at the parquet scan: unprobed cells' files are never opened
    (proved by scan metrics in tests and BENCH_ann — not just by the
    plan text). One directory per cell; rewrite per corpus snapshot.

    The write repartitions by cell first, so each cell directory
    holds one file instead of one per upstream task — without it,
    n_cells x n_partitions tiny files dominate probe-time open cost
    (measured 4.6x slower at 256 cells x 16 partitions)."""
    (cells.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(path))


def read_ivf_index(spark, path: str) -> DataFrame:
    """Read a :func:`write_ivf_index` layout back as the ``cells``
    frame ``ann_topk_ivf_np(cells=...)`` consumes. The partition
    column comes back as its directory-inferred type; cast to long so
    the probe filter compares like-for-like."""
    df = spark.read.parquet(path)
    return df.select("vec_id", "embedding",
                     F.col("cell").cast("long").alias("cell"))


def scan_file_metrics(df: DataFrame) -> dict:
    """numFiles / numPartitions / numOutputRows of ``df``'s leaf file
    scan, read from the EXECUTED plan's SQL metrics — call after an
    action that ran this exact frame (``df.collect()``). This is the
    at-rest pruning proof: a probe-filtered index read must show
    fewer files than the full index holds."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = {}
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        for k in ("numFiles", "numPartitions", "numOutputRows"):
            if m.contains(k):
                out[k] = out.get(k, 0) + m.apply(k).value()
    return out


def semdedup_kmeans(emb: DataFrame, n_clusters: int = 64,
                    threshold: float = 0.95,
                    centroids: list | None = None,
                    chunk: int = 1024,
                    max_cell: int = 1_000_000) -> DataFrame:
    """SemDeDup exactly as published (Abbas et al. 2023,
    arXiv:2303.09540 §3): k-means the embedding space, compute
    pairwise cosine WITHIN each cluster, and from every group of
    semantic duplicates keep the example with the LOWEST cosine to
    its cluster centroid (the paper keeps the member farthest from
    the centroid to preserve diversity; ties break on vec_id).

    The OR-of-bands ``semdedup`` above remains the oracle contract
    (its pair set is SQL-reproducible); this is the production shape:
    one shuffle keyed by cell, then ONE ``applyInPandas`` per cell
    does the chunked similarity matmul, a union-find over
    above-threshold pairs, and the keep rule — duplicate groups never
    span cells by construction (the paper's approximation), so no
    iterative global connected components is needed. Memory is
    bounded by ``chunk`` rows of similarity at a time; cell
    populations are ~n/n_clusters for k-means-balanced corpora (pick
    ``n_clusters`` so cells fit executors — the paper uses 11k
    clusters for 134M points). A skewed cell would otherwise OOM the
    executor as one giant pandas group, so ``max_cell`` fails fast
    with the offending cell id and population instead — raise
    ``n_clusters`` (or ``max_cell`` if the executors really have the
    headroom) when it trips.

    Returns (vec_id, cell, component, cent_cos, keep): every input
    vector with its cell, its within-cell duplicate-component id
    (component == min vec_id of the group), its cosine to the cell
    centroid, and whether SemDeDup keeps it.
    """
    if centroids is None:
        centroids = ivf_centroids_kmeans(emb, n_centroids=n_clusters)
    cells = ivf_assign(emb, centroids)
    cids, cmat = _centroid_matrix(centroids)
    # centroid ids need not be dense row indices — map id -> row
    bc = emb.sparkSession.sparkContext.broadcast(
        ({int(c): i for i, c in enumerate(cids)}, cmat))

    def dedup_cell(pdf):
        import pandas as pd
        # deterministic order: union-find + tie-breaks keyed on the
        # sorted vec_id sequence, not partition arrival order
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semdedup_kmeans: cell {int(pdf['cell'].iloc[0])} "
                f"holds {n} vectors (> max_cell={max_cell}); the "
                f"whole cell materializes as one pandas group — "
                f"raise n_clusters to split it (or max_cell if the "
                f"executors have the memory)")
        m = _unit(pdf["embedding"])
        rows_by_cid, cmat_b = bc.value
        cent = cmat_b[rows_by_cid[int(pdf["cell"].iloc[0])]]
        cent_cos = m @ cent
        parent = np.arange(n)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for lo in range(0, n, chunk):
            s = m[lo:lo + chunk] @ m.T          # (chunk, n)
            for di, dj in zip(*np.nonzero(s >= threshold)):
                i, j = lo + int(di), int(dj)
                if i == j:
                    continue
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
        roots = np.array([find(i) for i in range(n)])
        vid = pdf["vec_id"].to_numpy()
        keep = np.zeros(n, dtype=bool)
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            # farthest from centroid wins; vec_id (== position order,
            # pdf is sorted) breaks ties
            keep[members[np.argmin(cent_cos[members])]] = True
        return pd.DataFrame({
            "vec_id": vid, "cell": pdf["cell"],
            "component": vid[roots],
            "cent_cos": cent_cos, "keep": keep})

    out_schema = ("vec_id long, cell long, component long, "
                  "cent_cos double, keep boolean")
    return cells.groupBy("cell").applyInPandas(dedup_cell, out_schema)
