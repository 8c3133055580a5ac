"""Graph centrality: weighted PageRank and the TextRank
co-occurrence graph (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_pipeline_spark.operators.graph import (
    token_cooccurrence_edges,
    weighted_pagerank,
)

SCALE = 10**9


def test_pagerank_hand_graph(spark):
    """3-node directed cycle a→b→c→a with equal weights: perfect
    symmetry means every node keeps exactly the conserved per-node
    mass; the integer iteration must hold them equal (and near
    scale) instead of drifting."""
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, weight long",
    )
    pr = {r["node"]: r["pr"] for r in weighted_pagerank(edges).collect()}
    assert len(pr) == 3
    assert len(set(pr.values())) == 1  # symmetry preserved exactly
    assert abs(pr["a"] - SCALE) < SCALE * 0.01


def test_pagerank_sink_and_source(spark):
    """a→b, c→b: b receives both contributions, a and c (no
    in-edges) settle at exactly the base term (100−d)·scale/100 —
    the paper's behavior for leaf nodes, integer-exact."""
    edges = spark.createDataFrame(
        [("a", "b", 1), ("c", "b", 1)],
        "src string, dst string, weight long",
    )
    pr = {r["node"]: r["pr"] for r in weighted_pagerank(edges).collect()}
    base = 15 * SCALE // 100
    assert pr["a"] == base and pr["c"] == base
    # b gets base + 0.85 * (pr_a + pr_c) exactly (outdegree 1 each)
    assert pr["b"] == base + 85 * (pr["a"] + pr["c"]) // 100


def test_pagerank_weight_sensitivity(spark):
    """a splits its vote 3:1 between b and c — b must end strictly
    ahead of c, and the two contributions must sum to a's paid-out
    mass (floor-division exactness)."""
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)],
        "src string, dst string, weight long",
    )
    pr = {r["node"]: r["pr"] for r in weighted_pagerank(edges, iters=1).collect()}
    base = 15 * SCALE // 100
    assert pr["b"] == base + 85 * (SCALE * 3 // 4) // 100
    assert pr["c"] == base + 85 * (SCALE * 1 // 4) // 100
    assert pr["b"] > pr["c"]


def test_cooccurrence_edges_symmetric_filtered(spark):
    """Adjacency counts symmetrize (w = c(u,v)+c(v,u), each
    direction listed), self-loops drop, and sub-min_count tokens are
    excluded with their edges."""
    docs = spark.createDataFrame(
        [(1, "x y x y zz"), (2, "x x y rare")],
        "doc_id long, text string",
    )
    edges = {
        (r["src"], r["dst"]): r["weight"]
        for r in token_cooccurrence_edges(docs, min_count=2).collect()
    }
    # adjacencies: x→y (×2), y→x, y→zz, x→x (self, dropped),
    # x→y, rare/zz below min_count=2... zz appears once, rare once.
    assert ("x", "zz") not in edges and ("y", "zz") not in edges
    assert all("rare" not in e for e in edges)
    assert edges[("x", "y")] == edges[("y", "x")] == 4  # 3 x→y + 1 y→x
    assert ("x", "x") not in edges


def test_textrank_plan_is_jvm_only(spark, sf_dir):
    """The full TextRank build contains no Python eval nodes and no
    cartesian product — pure Catalyst."""
    from kafka_streams_pipeline_spark.operators.graph import textrank
    from kafka_streams_pipeline_spark.sources.tables import load_table

    plan = (
        textrank(load_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# BPE merge learning (operators/text.bpe_train) — shares this file's
# iterative-exactness theme with PageRank.
# ---------------------------------------------------------------------------


def test_bpe_textbook_example(spark):
    """Sennrich et al.'s shape: corpus 'low lower lowest' ×
    frequencies — the first merges must be the most frequent
    adjacent pairs with lexicographic tie-breaks, and
    corpus_symbols_after must drop by exactly the number of APPLIED
    merges each round."""
    from kafka_streams_pipeline_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest")], "doc_id long, text string"
    )
    out = bpe_train(docs, num_merges=3).collect()
    # pair counts round 1: (l,o)=5, (o,w)=5, (w,e)=2, (e,r)=1,
    # (e,s)=1, (s,t)=1 → tie (l,o) vs (o,w) broken lexicographically
    assert (out[0]["left_sym"], out[0]["right_sym"]) == ("l", "o")
    assert out[0]["pair_freq"] == 5
    # 'low'→(lo,w): 3 words × applied merges reduce weighted symbols
    before = 3 * 3 + 5 + 6  # low×3 + lower + lowest chars
    assert out[0]["corpus_symbols_after"] == before - 5  # 5 applied
    # round 2: (lo,w)=5 dominates
    assert (out[1]["left_sym"], out[1]["right_sym"]) == ("lo", "w")
    assert out[1]["corpus_symbols_after"] == before - 10


def test_bpe_greedy_overlap(spark):
    """'aaaa' under merge (a,a) must apply left-to-right
    non-overlapping: two merges, never three — the fold's
    replace-top rule (and the oracle's run-parity twin)."""
    from kafka_streams_pipeline_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    out = bpe_train(docs, num_merges=1).collect()
    assert (out[0]["left_sym"], out[0]["right_sym"]) == ("a", "a")
    assert out[0]["pair_freq"] == 3 + 2  # overlapping pairs COUNTED
    # applied: aaaa→aa,aa (2), aaa→aa,a (1): 7 chars − 3 = 4 symbols
    assert out[0]["corpus_symbols_after"] == 4


def test_bpe_early_stop(spark):
    """Single-char words have no pairs: training stops after zero
    rounds instead of failing."""
    from kafka_streams_pipeline_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    assert bpe_train(docs, num_merges=4).count() == 0


def test_triangle_count_hand_graphs(spark):
    """K4 (complete graph on 4 nodes): 4 triangles, 12 wedges,
    clustering 1.0 (10⁶ ppm); a 4-path: 0 triangles, 2 wedges,
    clustering 0. Duplicate edge rows are tolerated (distinct)."""
    from kafka_streams_pipeline_spark.operators.graph import triangle_count

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 4)],
        "id_a long, id_b long",
    )
    r = triangle_count(k4).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"]) == (4, 6, 12)
    assert r["n_triangles"] == 4
    assert r["clustering_ppm"] == 1_000_000
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    r2 = triangle_count(path).collect()[0]
    assert r2["n_triangles"] == 0 and r2["n_wedges"] == 2
    assert r2["clustering_ppm"] == 0


def test_triangle_orientation_bounds_hot_node_work(spark):
    """VERDICT r9 item 5: degree orientation must kill the hot-node
    wedge blowup. Construct a star (one hub, 2000 leaves) plus a
    leaf ring: unoriented, the hub alone contributes
    d·(d−1)/2 ≈ 2·10⁶ wedge candidates to ONE join key; oriented
    low→high, every edge points INTO the hub, its out-degree is 0,
    and total enumerated candidates Σ out·(out−1)/2 collapses to the
    ring's O(n). Count must stay exact (every hub-leaf-leaf triangle
    via a ring edge = exactly n_ring)."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.graph import (
        _oriented_edges,
        triangle_count,
    )

    n = 2000
    hub = spark.range(1, n + 1).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    # ring over the leaves 1..n (each edge once, id_a < id_b)
    ring = spark.range(1, n + 1).select(
        F.least(F.col("id"), (F.col("id") % n) + 1).alias("id_a"),
        F.greatest(F.col("id"), (F.col("id") % n) + 1).alias("id_b"),
    )
    edges = hub.unionByName(ring)

    r = triangle_count(edges).collect()[0]
    assert r["n_nodes"] == n + 1
    assert r["n_edges"] == 2 * n
    # every ring edge closes a triangle with the hub; no others
    assert r["n_triangles"] == n
    # unoriented hub wedge mass — what a hot key would have cost
    assert r["n_wedges"] >= n * (n - 1) // 2

    oriented, _ = _oriented_edges(edges)
    out = oriented.groupBy("src").agg(F.count(F.lit(1)).alias("o"))
    stats = out.agg(
        F.max("o").alias("mx"),
        F.sum(F.expr("o * (o - 1) div 2")).alias("candidates"),
    ).collect()[0]
    # hub out-degree 0; leaves ≤ 3 (one hub edge + two ring edges)
    assert stats["mx"] <= 3, stats
    # candidate pairs are O(n), not O(n²)
    assert stats["candidates"] <= 3 * n, stats


def test_local_clustering_hand_graph(spark):
    """K4 plus a pendant node hanging off node 0: inside the clique
    each node closes 3 of its 3 (or more) wedges; the pendant has
    degree 1 → 0; node 0 (degree 4) touches 3 triangles of its 6
    wedges → 500000 ppm."""
    from kafka_streams_pipeline_spark.operators.graph import local_clustering

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering_ppm"])
        for r in local_clustering(edges).collect()
    }
    assert got[0] == (4, 3, 500_000)
    for v in (1, 2, 3):
        assert got[v] == (3, 3, 1_000_000)
    assert got[4] == (1, 0, 0)
    # per-node triangle mass is 3x the census total
    from kafka_streams_pipeline_spark.operators.graph import triangle_count

    census = triangle_count(edges).collect()[0]
    assert sum(t for _, t, _ in got.values()) == 3 * census["n_triangles"]


def test_kcore_peels_tails_keeps_clique(spark):
    """A 4-clique with a pendant chain: the 3-core is exactly the
    clique (degree 3 inside), the chain peels away; converged TRUE.
    A 20-node chain sheds ONE node per peel round at k=2, deeper than
    the 8 fixed rounds: the result must say converged=FALSE."""
    from kafka_streams_pipeline_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        # K4 on 1-4
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         # pendant chain 4-5-6
         (4, 5), (5, 6)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r for r in kcore(edges, k=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(r["core_degree"] == 3 for r in out.values())
    assert all(r["converged"] for r in out.values())
    # k=4: the K4 has min degree 3 < 4 — empty core
    assert kcore(edges, k=4).count() == 0

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # chain 100-101-...-119, attached at 4
    chain = [(4, 100)] + [(100 + i, 101 + i) for i in range(19)]
    edges = spark.createDataFrame(clique + chain, "id_a long, id_b long")
    fixed = kcore(edges, k=2).collect()
    assert fixed and all(not r["converged"] for r in fixed)
    assert len(fixed) > 4  # chain remnants still standing
