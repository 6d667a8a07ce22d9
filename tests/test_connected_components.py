"""Transitive closure over the near-dup pair graph: alternating
large-star/small-star connected components (ops.dedup). The pairwise
keep rule splits chains; the cluster rule must keep exactly one doc per
component — including on the worst-case path graph that label
propagation would need O(n) rounds for."""

import pytest
from pyspark.sql import functions as F

from pdf_table_spark.ops.dedup import (
    connected_components, dedup_corpus_clusters)


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long")


def _comp_map(df):
    return {r.doc_id: r.component for r in df.collect()}


def test_chain_collapses_to_one_component(spark):
    # A~B, B~C, C~D: no direct A~D pair, still one cluster rooted at A
    got = _comp_map(connected_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4)])))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_clusters_keep_separate_roots(spark):
    got = _comp_map(connected_components(
        _pairs(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)])))
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_path_graph_converges_in_log_rounds(spark):
    # 64-node path: label propagation needs ~63 rounds; large-star/
    # small-star must finish within the max_iter=12 budget (≈2·log2 n)
    n = 64
    got = _comp_map(connected_components(
        _pairs(spark, [(i, i + 1) for i in range(n - 1)]), max_iter=12))
    assert got == {i: 0 for i in range(n)}


def test_superseded_rounds_are_released(spark):
    # only the final round's checkpoint backs the result; every earlier
    # round (and the input checkpoint) is unpersisted as soon as the
    # next round is materialized
    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    base = sc.getPersistentRDDs().size()
    n = 64
    connected_components(
        _pairs(spark, [(i, i + 1) for i in range(n - 1)]),
        max_iter=12).count()
    assert sc.getPersistentRDDs().size() == base + 1


def test_edge_orientation_and_duplicates_are_irrelevant(spark):
    # reversed, duplicated, and self edges must not change the result
    got = _comp_map(connected_components(
        _pairs(spark, [(5, 3), (3, 5), (5, 5), (3, 9), (9, 3)])))
    assert got == {3: 3, 5: 3, 9: 3}


def test_cluster_keep_keeps_one_per_chain(spark):
    # a true chain: one changed token gives Jaccard 35/41 = 0.854,
    # two changed tokens 32/44 = 0.727 — at threshold 0.8 the verified
    # pairs are exactly 1~2 and 2~3 (NOT 1~3); only transitive closure
    # puts all three in one cluster. Zero-padded tokens so replace()
    # can't hit substrings of other tokens.
    base = " ".join(f"w{j:02d}" for j in range(40))
    chain = [
        (1, base),
        (2, base.replace("w03", "X")),                       # ~ 1
        (3, base.replace("w03", "X").replace("w30", "Y")),   # ~ 2 only
    ]
    singles = [(100 + i, " ".join(f"s{i}u{j}" for j in range(40)))
               for i in range(5)]
    docs = spark.createDataFrame(chain + singles,
                                 "doc_id int, text string")
    out = dedup_corpus_clusters(docs, threshold=0.8, max_df=100,
                                max_bucket=100)
    pair_set = {(r.doc_a, r.doc_b) for r in out["pairs"].collect()}
    assert pair_set == {(1, 2), (2, 3)}          # the chain, no 1~3
    comp = _comp_map(out["components"])
    assert set(comp.values()) == {1}          # one cluster, rooted at 1
    kept = {r.doc_id for r in out["keep"].collect()}
    assert kept == {1} | {100 + i for i in range(5)}
    from pdf_table_spark.ops.dedup import release_caches
    release_caches()


def test_empty_pair_list(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0


def test_self_loops_only(spark):
    pairs = _pairs(spark, [(7, 7)])
    assert connected_components(pairs).count() == 0


def test_random_graphs_match_union_find(spark):
    """Large-star/small-star vs a driver-side union-find reference on
    random graphs (fixed seeds): identical components every time."""
    import random

    def uf_components(n_nodes, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id per component for every node that appears in an edge
        return {x: find(x) for x in parent}

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(35)]
        edges = [(a, b) for a, b in edges if a != b]
        raw = uf_components(n, edges)

        def root(x):
            while raw[x] != x:
                x = raw[x]
            return x

        want = {k: root(k) for k in raw}
        got = _comp_map(connected_components(_pairs(spark, edges)))
        assert got == want, f"seed {seed}"
