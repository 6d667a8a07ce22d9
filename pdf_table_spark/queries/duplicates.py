"""Duplicate and neighbour queries over the corpus and embedding
tables — exact dedup, n-gram Jaccard, the capped production near-dup
pipeline and its clusters, MinHash-LSH, SimHash, semantic dedup and
top-k / ANN search — with their DuckDB twins."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_table_spark.ops import dedup, similarity

from .common import DK_H60, DK_SHINGLES, DK_TOKENS, P, _overlap, _t


def exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents", fan=False))


EXACT_DEDUP_SQL = """
            select md5(text) as text_hash, min(doc_id) as keeper_doc_id,
                   count(*) as n_docs
            from documents group by md5(text) having count(*) > 1
        """


def _components(base, comp, key):
    # component per row of ``base`` (itself when unpaired) + the
    # cluster-keep flag
    return (base.select(key).join(comp, key, "left")
            .select(key, F.coalesce("component", key).alias("component"))
            .withColumn("kept", F.col("component") == F.col(key)))


def components_cte(a, b, key):
    """Recursive-CTE connected components over a ``pairs`` CTE of
    (``a``, ``b``) edges: ``comp`` maps each paired ``key`` to its
    smallest reachable id."""
    return f"""
        , edges as (
          select {a} as u, {b} as v from pairs
          union select {b}, {a} from pairs
        ), reach as (
          select u as node, v as r from edges
          union
          select e.u, reach.r from edges e
            join reach on reach.node = e.v
        ), comp as (
          select node as {key}, least(node, min(r)) as component
          from reach group by node
        )"""


def _components_sql(table, t, key):
    return f"""
        select {t}.{key},
               coalesce(c.component, {t}.{key}) as component,
               coalesce(c.component, {t}.{key}) = {t}.{key} as kept
        from {table} {t} left join comp c on {t}.{key} = c.{key}
    """


def semdedup(spark, sf_dir):
    # component assignment over ALL vectors + the keep flag. 0.45: the
    # synthetic embeddings' top pairs sit at cosine ~0.45-0.51 (no
    # planted 0.95 dups), so this exercises the cluster path; the
    # oracle mirrors the same OR-of-bands computation, so the pair set
    # matches exactly either way
    comp = similarity.semdedup(_t(spark, sf_dir, "embeddings"),
                               threshold=0.45)["components"]
    return _components(_t(spark, sf_dir, "embeddings"), comp, "vec_id")


def semdedup_sql():
    return (neardup_sql(0.45, as_cte=True)
            + components_cte("vec_a", "vec_b", "vec_id")
            + _components_sql("embeddings", "e", "vec_id"))


def ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents", fan=False), 0.5)


NGRAM_JACCARD_SQL = f"""
        with toks as (
          select doc_id, {DK_TOKENS} as toks from documents
        ), sh as (
          select distinct doc_id, unnest({DK_SHINGLES}) as shingle from toks
        ), sizes as (
          select doc_id, count(*) as n_sh from sh group by doc_id
        ), inter as (
          select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
          from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
          group by 1, 2
        )
        select doc_a, doc_b,
               round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) as jaccard
        from inter
        join sizes sa on sa.doc_id = doc_a
        join sizes sb on sb.doc_id = doc_b
        where round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
    """

# ---- the capped production dedup pipeline, oracle-checked ----
# hash_fn='md5' swaps the shingle hash for the DuckDB-replicable
# 60-bit md5 prefix; max_df=20 genuinely bites on the word-salad
# corpus (common shingles are dropped before any join), max_bucket
# caps band buckets. The oracle mirrors every cap.
_DC = dict(threshold=0.5, max_df=20, max_bucket=10, hash_fn="md5")


def _minhash_sig_sql():
    """The 64-permutation min-aggregate select list and the per-band
    md5 bucket rows over a ``sig`` CTE."""
    mins = ", ".join(
        f"min(({a} * h % {P} + {b}) % {P}) as s{i}"
        for i, (a, b) in enumerate(dedup.PERM_CONSTS))
    band_rows = " union all ".join(
        "select doc_id, {b} as band, md5({cols}) as bh from sig".format(
            b=b,
            cols=" || ',' || ".join(
                f"cast(s{b * dedup.ROWS_PER_BAND + j} as varchar)"
                for j in range(dedup.ROWS_PER_BAND)))
        for b in range(dedup.BANDS))
    return mins, band_rows


def dedup_corpus_cte(src: str = "documents", lead: str = "with ") -> str:
    """DuckDB twin of ``ops.dedup.dedup_corpus(hash_fn='md5')`` at
    ``_DC`` — the full capped production pipeline: df-capped 60-bit
    shingle hashes → MinHash signatures → band join with bucket cap →
    exact Jaccard verify on candidates. Ends with a ``pairs`` CTE;
    callers select pairs or the anti-joined survivors."""
    mins, band_rows = _minhash_sig_sql()
    # distinct over HASHES (not shingle strings), mirroring the Spark
    # md5 variant of shingle_hash_rows
    sh_hash = DK_H60.format(
        s="array_to_string(list_slice(toks, i, i + 2), ' ')")
    return f"""
        {lead}toks as (
          select doc_id, {DK_TOKENS} as toks from {src}
        ), shs as (
          select doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 2, 1)),
            i -> {sh_hash}))) as sh
          from toks
        ), dfok as (
          select sh from shs group by sh having count(*) <= {_DC["max_df"]}
        ), shc as (
          select s.doc_id, s.sh from shs s join dfok using (sh)
        ), hashed as (
          select doc_id, sh % {P} as h from shc
        ), sig as (
          select doc_id, {mins} from hashed group by doc_id
        ), bands as ({band_rows}
        ), bok as (
          select band, bh from bands
          group by band, bh having count(*) <= {_DC["max_bucket"]}
        ), bandc as (
          select b.doc_id, b.band, b.bh
          from bands b join bok using (band, bh)
        ), cand as (
          select distinct x.doc_id as doc_a, y.doc_id as doc_b
          from bandc x join bandc y
            on x.band = y.band and x.bh = y.bh and x.doc_id < y.doc_id
        ), sizes as (
          select doc_id, count(*) as n_sh from shc group by doc_id
        ), inter as (
          select c.doc_a, c.doc_b, count(*) as n_inter
          from cand c
          join shc a on a.doc_id = c.doc_a
          join shc b on b.doc_id = c.doc_b and b.sh = a.sh
          group by 1, 2
        ), pairs as (
          select doc_a, doc_b,
                 round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6)
                   as jaccard
          from inter
          join sizes sa on sa.doc_id = doc_a
          join sizes sb on sb.doc_id = doc_b
          where round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6)
                >= {_DC["threshold"]}
        )
    """


def dedup_corpus(spark, sf_dir):
    # verified near-dup pairs + pairwise-keep survivors, tagged
    out = dedup.dedup_corpus(_t(spark, sf_dir, "documents"), **_DC)
    pairs = out["pairs"].select(
        F.lit("pair").alias("part"), F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"), F.col("jaccard"))
    keep = out["keep"].select(
        F.lit("keep").alias("part"), F.col("doc_id").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
        F.lit(None).cast("double").alias("jaccard"))
    return pairs.unionByName(keep)


def dedup_corpus_sql():
    return dedup_corpus_cte() + """
        select 'pair' as part, doc_a as a, doc_b as b, jaccard
        from pairs
        union all
        select 'keep', d.doc_id, cast(null as bigint),
               cast(null as double)
        from documents d
        left join (select distinct doc_b from pairs) p
          on d.doc_id = p.doc_b
        where p.doc_b is null
    """


def dedup_clusters(spark, sf_dir):
    # transitive closure: component per doc + cluster-keep flag
    d = _t(spark, sf_dir, "documents")
    comp = dedup.dedup_corpus_clusters(d, **_DC)["components"]
    return _components(d, comp, "doc_id")


def dedup_clusters_sql():
    return (dedup_corpus_cte(lead="with recursive ")
            + components_cte("doc_a", "doc_b", "doc_id")
            + _components_sql("documents", "d", "doc_id"))


def minhash_lsh(spark, sf_dir):
    # signatures + band-join candidate pairs + pairwise survivors.
    # The signature table feeds every arm (sig rows, and the band
    # join behind the pair rows and keep's anti-join side); without
    # a persist each reference re-runs the full shingle explode +
    # 64-perm aggregation. Persisted within the query (released by
    # dedup.release_caches()), so the executed plan reads it
    # through InMemoryTableScans instead of re-scanning shingles.
    d = _t(spark, sf_dir, "documents")
    sig_full = dedup.persist(dedup.minhash_signatures(d))
    sig = sig_full.select(
        F.lit("sig").alias("part"), F.col("doc_id").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
        F.concat_ws(",", *[F.col(f"s{i}").cast("string")
                           for i in range(8)]).alias("val"))
    pairs_df = dedup._lsh_pairs_from_signatures(
        sig_full, max_bucket=None)
    pairs = pairs_df.select(
        F.lit("pair").alias("part"), F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.lit(None).cast("string").alias("val"))
    dupes = pairs_df.select(
        F.col("doc_b").alias("doc_id")).distinct()
    keep = (d.join(dupes, "doc_id", "left_anti")
            .select(F.lit("keep").alias("part"),
                    F.col("doc_id").alias("a"),
                    F.lit(None).cast("bigint").alias("b"),
                    F.lit(None).cast("string").alias("val")))
    return sig.unionByName(pairs).unionByName(keep)


def minhash_lsh_sql():
    mins, band_rows = _minhash_sig_sql()
    sig_concat = " || ',' || ".join(
        f"cast(s{i} as varchar)" for i in range(8))
    return f"""
        with toks as (
          select doc_id, {DK_TOKENS} as toks from documents
        ), sh as (
          select doc_id, unnest({DK_SHINGLES}) as shingle from toks
        ), hashed as (
          select doc_id, {DK_H60.format(s='shingle')} % {P} as h from sh
        ), sig as (
          select doc_id, {mins} from hashed group by doc_id
        ), bands as ({band_rows})
    """ + f"""
        , cand as (
          select distinct x.doc_id as doc_a, y.doc_id as doc_b
          from bands x join bands y
            on x.band = y.band and x.bh = y.bh and x.doc_id < y.doc_id
        )
        select 'pair' as part, doc_a as a, doc_b as b,
               cast(null as varchar) as val from cand
        union all
        select 'keep', d.doc_id, cast(null as bigint),
               cast(null as varchar)
        from documents d
        where d.doc_id not in (select doc_b from cand)
        union all
        select 'sig', doc_id, cast(null as bigint), {sig_concat}
        from sig
    """


def simhash(spark, sf_dir):
    # 60-bit fingerprints + banded-hamming verified pairs, tagged.
    # The fingerprint table feeds both arms (sig rows AND the
    # banded pair join's two sides); persisted within the query so
    # the token explode + 60 vote aggregations run once instead of
    # twice (released by dedup.release_caches()).
    d = _t(spark, sf_dir, "documents", fan=False)
    fp = dedup.persist(dedup.simhash(d))
    sig = fp.select(
        F.lit("sig").alias("part"), F.col("doc_id").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
        F.col("simhash").cast("bigint").alias("val"))
    pr = dedup.simhash_pairs_from_fingerprints(
        fp, max_hamming=3).select(
        F.lit("pair").alias("part"), F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("hamming").cast("bigint").alias("val"))
    return sig.unionByName(pr)


_VOTES = ", ".join(
    f"sum(case when (h // {1 << b}) % 2 = 1 then 1 else -1 end) as v{b}"
    for b in range(60))
_BITS = " + ".join(
    f"case when v{b} > 0 then cast({1 << b} as bigint) else 0 end"
    for b in range(60))
_SIMHASH = f"""
        with toks as (
          select doc_id, unnest(list_distinct({DK_TOKENS})) as tok
          from documents
        ), hashed as (
          select doc_id, {DK_H60.format(s='tok')} as h from toks
        ), votes as (
          select doc_id, {_VOTES} from hashed group by doc_id
        )
        select doc_id, {_BITS} as simhash from votes
    """
SIMHASH_SQL = f"""
        with sims as ({_SIMHASH})
        select 'sig' as part, doc_id as a, cast(null as bigint) as b,
               simhash as val from sims
        union all
        select 'pair', x.doc_id, y.doc_id,
               cast(bit_count(xor(x.simhash, y.simhash)) as bigint)
        from sims x join sims y on x.doc_id < y.doc_id
        where bit_count(xor(x.simhash, y.simhash)) <= 3
    """


def ann_topk(spark, sf_dir):
    # exact brute-force baseline + LSH multi-probe + IVF-Flat.
    # The three arm builders are independent driver work — the IVF
    # arm runs an eager 16-row centroid TakeOrdered job and parses
    # two large centroid-literal expressions, the brute/LSH arms
    # are pure expression construction — so they run from a small
    # thread pool instead of back-to-back; the union
    # order is fixed by the argument order
    emb = _t(spark, sf_dir, "embeddings")

    def arm(method, topk):
        return lambda: topk(emb, k=5).select(
            F.lit(method).alias("method"), "query_id",
            "neighbor_id", "cosine", "rank")

    return reduce(DataFrame.unionByName, _overlap(
        arm("brute", similarity.cosine_topk),
        arm("lsh", similarity.ann_topk_lsh),
        arm("ivf", similarity.ann_topk_ivf)))


def _topk_sql(k):
    # rank each query's neighbours in ``pairs``, keep the top k
    return f"""), ranked as (
          select *, row_number() over (
            partition by query_id order by cosine desc, neighbor_id
          ) as rank from pairs
        )
        select query_id, neighbor_id, cosine, cast(rank as int) as rank
        from ranked where rank <= {k}"""


_COSINE_TOPK = f"""
        with q as (
          select vec_id as query_id, embedding::DOUBLE[] as q_emb
          from embeddings where vec_id < 10
        ), pairs as (
          select q.query_id, e.vec_id as neighbor_id,
                 round(list_dot_product(q.q_emb, e.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                        sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))), 9)
                   as cosine
          from embeddings e, q where e.vec_id <> q.query_id
        {_topk_sql(5)}
    """


def _plane_literal(dim: int, plane_idx: int) -> str:
    return "[" + ", ".join(
        "1.0" if c > 0 else "-1.0"
        for c in similarity.hyperplane(dim, plane_idx)) + "]"


def _ann_lsh_sql(k: int = 5, dim: int = 64, n_planes: int = 8) -> str:
    # multi-probe: the query's bucket plus every 1-bit-flip bucket
    probe_list = ", ".join(
        ["q_bucket"] + [f"xor(q_bucket, {1 << i})" for i in range(n_planes)])
    bucket = " + ".join(
        f"case when list_dot_product(emb, {_plane_literal(dim, p)})"
        f" > 0 then {1 << p}::bigint else 0 end" for p in range(n_planes))
    return f"""
        with bucketed as (
          select vec_id, embedding::DOUBLE[] as emb,
                 {bucket} as bucket
          from embeddings
        ), q as (
          select vec_id as query_id, emb as q_emb, bucket as q_bucket
          from bucketed where vec_id < 10
        ), probes as (
          select query_id, q_emb, unnest([{probe_list}]) as probe from q
        ), pairs as (
          select p.query_id, b.vec_id as neighbor_id,
                 round(list_dot_product(p.q_emb, b.emb) /
                       (sqrt(list_dot_product(p.q_emb, p.q_emb)) *
                        sqrt(list_dot_product(b.emb, b.emb))), 9) as cosine
          from bucketed b, probes p
          where b.bucket = p.probe and b.vec_id <> p.query_id
        {_topk_sql(k)}
    """


def _ann_ivf_sql(k: int = 5, n_centroids: int = 16,
                 n_probe: int = 4) -> str:
    # same deterministic quantizer (smallest-vec_id seeds), assignment
    # and probe ranking by (cosine desc, centroid_id asc) on rounded
    # cosines — mirrors ops.similarity.ann_topk_ivf exactly
    cos = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 9)")
    return f"""
        with emb as (
          select vec_id, embedding::DOUBLE[] as emb from embeddings
        ), cents as (
          select vec_id as cid, emb as c_emb from emb
          order by vec_id limit {n_centroids}
        ), scored as (
          select e.vec_id, e.emb, c.cid,
                 {cos.format(a='e.emb', b='c.c_emb')} as cos
          from emb e cross join cents c
        ), cells as (
          select vec_id, emb, cid from (
            select *, row_number() over (
              partition by vec_id order by cos desc, cid) as rn
            from scored) where rn = 1
        ), qprobes as (
          select vec_id as query_id, emb as q_emb, cid as probe from (
            select *, row_number() over (
              partition by vec_id order by cos desc, cid) as rn
            from scored where vec_id < 10) where rn <= {n_probe}
        ), pairs as (
          select p.query_id, b.vec_id as neighbor_id,
                 {cos.format(a='p.q_emb', b='b.emb')} as cosine
          from cells b, qprobes p
          where b.cid = p.probe and b.vec_id <> p.query_id
        {_topk_sql(k)}
    """


def ann_topk_sql():
    return f"""
        with b as ({_COSINE_TOPK}),
             l as ({_ann_lsh_sql()}),
             i as ({_ann_ivf_sql()})
        select 'brute' as method, * from b
        union all select 'lsh', * from l
        union all select 'ivf', * from i
    """


def embedding_neardup(spark, sf_dir):
    return similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.95)


def neardup_sql(threshold: float = 0.95, dim: int = 64,
                 bands: int = 6, rows_per_band: int = 8,
                 as_cte: bool = False) -> str:
    """``as_cte`` wraps the final select in a ``pairs`` CTE (with a
    ``with recursive`` lead) so callers can append the connected-
    components reachability CTEs (semdedup)."""
    def band_key(band):
        return " + ".join(
            f"case when list_dot_product(emb, "
            f"{_plane_literal(dim, band * rows_per_band + r)})"
            f" > 0 then {1 << r}::bigint else 0::bigint end"
            for r in range(rows_per_band))

    band_rows = " union all ".join(
        f"select vec_id, emb, {b} as band, "
        f"{band_key(b)} as key from base"
        for b in range(bands))
    lead = "with recursive " if as_cte else "with "
    inner = f"""
        select distinct a.vec_id as vec_a, b.vec_id as vec_b,
               round(list_dot_product(a.emb, b.emb) /
                     (sqrt(list_dot_product(a.emb, a.emb)) *
                      sqrt(list_dot_product(b.emb, b.emb))), 9) as cosine
        from banded a join banded b
          on a.band = b.band and a.key = b.key and a.vec_id < b.vec_id
        where round(list_dot_product(a.emb, b.emb) /
                    (sqrt(list_dot_product(a.emb, a.emb)) *
                     sqrt(list_dot_product(b.emb, b.emb))), 9) >= {threshold}
    """
    ctes = f"""
        {lead}base as (
          select vec_id, embedding::DOUBLE[] as emb from embeddings
        ), banded as ({band_rows})"""
    if as_cte:
        return ctes + f", pairs as ({inner})"
    return ctes + inner
