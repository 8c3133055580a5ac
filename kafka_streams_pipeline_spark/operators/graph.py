"""Graph centrality: generic weighted PageRank as iterated DataFrame
joins, plus the TextRank keyword graph (Mihalcea & Tarau 2004 —
PageRank over the token co-occurrence graph, the classic
unsupervised keyword/salience scorer for a text corpus).

Why an engine for training data needs this: corpus curation ranks
things — domains in a web-crawl link graph, tokens in a
co-occurrence graph, documents in a similarity graph — and PageRank
is the standard centrality for all three. The operator here is the
generic edge-frame form: anything that can produce
``(src, dst, weight)`` rows can be ranked.

Exactness: the whole iteration is scaled-integer arithmetic —
ranks carry ``scale`` fixed-point units, every division is integer
floor (`div` in Spark, `//` in DuckDB — identical on the
non-negative values used here), and sums are associative BIGINT
sums. Spark and DuckDB therefore produce bit-identical ranks after
any number of iterations; the certified row's oracle UNROLLS the
same fixed iteration count in SQL.

Scale posture (100 TB corpus, vocabulary- or domain-sized graph):
the heavy distributed work is the EDGE AGGREGATION over the raw
corpus (one explode + one groupBy with map-side partials — the
same shape as term_stats). The power iteration then runs over the
graph-sized frames: per round, one join of edges against the
current ranks (broadcastable while ranks fit an executor;
shuffle-join otherwise) and one groupBy(dst) with map-side partial
sums. Each round's result is ``localCheckpoint``-ed so the plan
stays constant-size across iterations (the round-2 lesson: without
it, Catalyst re-analysis of a linearly growing plan dominates).

Overflow budget: rank mass is conserved at ~``scale`` per node
(Σ pr → N·scale fixed point), so ``pr ≤ N·scale`` only in the
pathological all-edges-into-one-node star; the per-edge product
``pr · weight`` must stay under 2^63. With the default
``scale=10^9``, a vocabulary-sized graph (N ≈ 10^5, hot-edge weight
≈ 10^6) peaks around 10^17 — inside BIGINT with two orders of
headroom. For web-scale domain graphs (N ≈ 10^8) drop ``scale`` to
10^6; the docstring contract is ``N · scale · max_weight < 2^63``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DAMPING_PCT = 85
DEFAULT_ITERS = 5
DEFAULT_SCALE = 10**9
DEFAULT_MIN_COUNT = 5


def weighted_pagerank(edges: DataFrame, iters: int = DEFAULT_ITERS) -> DataFrame:
    """Weighted PageRank over a directed edge frame
    ``(src, dst, weight)`` (symmetric graphs list each edge in both
    directions). Returns ``(node, pr)`` with ``pr`` in scale =
    ``DEFAULT_SCALE`` fixed-point units after ``iters`` rounds of

        pr'(v) = (100−d)·scale/100
                 + d · Σ_u floor(pr(u)·w(u,v) / W(u)) / 100

    (all floor divisions), starting from ``pr = scale`` everywhere —
    the unnormalized TextRank form whose fixed point averages
    ``scale`` per node, with d = ``DEFAULT_DAMPING_PCT``. Nodes are
    defined by edge endpoints; a node with no in-edges settles at the
    base term, as in the paper."""
    base = (100 - DEFAULT_DAMPING_PCT) * DEFAULT_SCALE // 100
    e = (
        edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
        .join(
            edges.groupBy("src").agg(F.sum("weight").alias("w_out")), "src"
        )
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(DEFAULT_SCALE).cast("long").alias("pr"))
    for it in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("(pr * w) div w_out").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({DEFAULT_DAMPING_PCT} * coalesce(s, 0L)) div 100")
            )
            .cast("long")
            .alias("pr"),
        )
        # Truncate lineage every few rounds, not every round: each
        # eager checkpoint is a full materialization job, and at the
        # default 5 iterations the lazy chain is ~15 operators deep —
        # well inside Catalyst's comfort zone. The periodic checkpoint
        # keeps the long-iteration (iters ≫ 5) plan bounded, which is
        # all the round-2 lesson actually requires (r16 optimization:
        # 5 checkpoint jobs → 1, one pipelined plan per action).
        if (it + 1) % 4 == 0 and (it + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def token_cooccurrence_edges(
    df: DataFrame,
    min_count: int = DEFAULT_MIN_COUNT,
) -> DataFrame:
    """TextRank's graph: symmetric adjacent-token co-occurrence
    edges ``(src, dst, weight)`` over the lowercased corpus, with
    both endpoints restricted to tokens of corpus frequency ≥
    ``min_count`` (the paper's frequency filter) and self-loops
    dropped. Each undirected edge appears once per direction with
    the same weight ``c(u,v) + c(v,u)``.

    One explode → one directed-pair count (map-side partials,
    vocabulary²-bounded shuffle) → the symmetrizing union re-agg;
    the frequency filter joins against the vocabulary-sized
    qualifying-token frame."""
    ws = df.select(
        F.split(F.lower(F.col("text")), " ").alias("ws")
    ).where(F.expr("size(ws) >= 2"))
    vocab = (
        ws.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("w")
    )
    directed = (
        ws.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> "
                    "struct(element_at(ws, i) AS src, "
                    "element_at(ws, i + 1) AS dst))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .where(F.col("src") != F.col("dst"))
        .join(vocab.select(F.col("w").alias("src")), "src")
        .join(vocab.select(F.col("w").alias("dst")), "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        directed.select("src", "dst", "c")
        .union(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "c"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("long").alias("weight"))
    )


def textrank(df: DataFrame) -> DataFrame:
    """TextRank keyword salience: weighted PageRank over the token
    co-occurrence graph. Returns ``(token, pr)``, ``pr`` in
    ``DEFAULT_SCALE`` fixed-point units — exact across engines."""
    ranks = weighted_pagerank(token_cooccurrence_edges(df))
    return ranks.select(F.col("node").alias("token"), "pr")


def textrank_oracle() -> str:
    """DuckDB twin of :func:`textrank` on the ``documents`` view,
    with the fixed iteration count UNROLLED (recursive CTEs restrict
    aggregation in the recursive term; a fixed-K unroll is exact and
    engine-portable). Bit-identical to the Spark plan by the
    scaled-integer argument in the module docstring."""
    base = (100 - DEFAULT_DAMPING_PCT) * DEFAULT_SCALE // 100
    rounds = []
    prev = "r0"
    for k in range(1, DEFAULT_ITERS + 1):
        rounds.append(
            f"""r{k} AS (
            SELECT n.node,
                   CAST({base} + ({DEFAULT_DAMPING_PCT} * COALESCE(c.s, 0)) // 100
                        AS BIGINT) AS pr
            FROM nodes n
            LEFT JOIN (
                SELECT e.dst, sum((p.pr * e.weight) // w.w_out) AS s
                FROM edges e
                JOIN wout w ON e.src = w.src
                JOIN {prev} p ON p.node = e.src
                GROUP BY e.dst
            ) c ON n.node = c.dst
        )"""
        )
        prev = f"r{k}"
    unrolled = ",\n        ".join(rounds)
    return f"""
        WITH ws AS (
            SELECT string_split(lower(text), ' ') AS ws FROM documents
        ),
        toks AS (SELECT unnest(ws) AS w FROM ws WHERE len(ws) >= 2),
        vocab AS (
            SELECT w FROM toks GROUP BY w HAVING count(*) >= {DEFAULT_MIN_COUNT}
        ),
        dpairs AS (
            SELECT p['src'] AS src, p['dst'] AS dst
            FROM (
                SELECT unnest([{{'src': ws[i], 'dst': ws[i + 1]}}
                               FOR i IN range(1, len(ws))]) AS p
                FROM ws WHERE len(ws) >= 2
            )
            WHERE p['src'] <> p['dst']
        ),
        dcounts AS (
            SELECT src, dst, count(*) AS c
            FROM dpairs
            JOIN vocab a ON src = a.w
            JOIN vocab b ON dst = b.w
            GROUP BY src, dst
        ),
        edges AS (
            SELECT src, dst, CAST(sum(c) AS BIGINT) AS weight
            FROM (
                SELECT src, dst, c FROM dcounts
                UNION ALL
                SELECT dst AS src, src AS dst, c FROM dcounts
            )
            GROUP BY src, dst
        ),
        wout AS (
            SELECT src, CAST(sum(weight) AS BIGINT) AS w_out
            FROM edges GROUP BY src
        ),
        nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst AS node FROM edges
        ),
        r0 AS (
            SELECT node, CAST({DEFAULT_SCALE} AS BIGINT) AS pr FROM nodes
        ),
        {unrolled}
        SELECT node AS token, pr FROM {prev}
    """


def _oriented_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(oriented, deg): each undirected edge directed from its
    lower-(degree, id) endpoint to its higher one, with both
    endpoint degrees carried as ``d_src``/``d_dst``; ``deg`` is the
    per-node UNDIRECTED degree frame the orientation (and the wedge
    census) derives from. Split out so the skew test can measure the
    oriented out-degree distribution directly.

    Assumes ``edges`` is deterministic: its distinct edge set is
    evaluated several times inside the one oriented-edge job (probe
    side and both degree build sides), so a nondeterministic input
    could yield degrees that disagree with the joined edges."""
    # ONE materialization barrier, not two (r17, VERDICT r16 item 6):
    # the old form eagerly checkpointed the distinct edge set first,
    # then ran a second job for the degree join — two sequential job
    # waves where one suffices. `e` stays lazy inside the oriented
    # job (its distinct is evaluated by the probe side and the two
    # degree build sides; at scale the identical distinct subtrees
    # share their Exchange), and the per-node degree frame is
    # recovered FROM the checkpointed result afterwards — every node
    # of the edge list appears in some oriented edge carrying its
    # degree, so distinct (n, d) endpoint pairs reproduce `deg`
    # exactly without re-touching the input.
    e = edges.select("id_a", "id_b").distinct()
    deg0 = (
        e.select(F.explode(F.array("id_a", "id_b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg0.select(F.col("n").alias("id_a"), F.col("d").alias("da"))
    db = deg0.select(F.col("n").alias("id_b"), F.col("d").alias("db"))
    ed = e.join(da, "id_a").join(db, "id_b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
        F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("d_src"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("d_dst"),
    ).localCheckpoint(eager=True)
    deg = (
        oriented.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("n"), F.col("d_src").alias("d")
                    ),
                    F.struct(
                        F.col("dst").alias("n"), F.col("d_dst").alias("d")
                    ),
                )
            ).alias("nd")
        )
        .select("nd.n", "nd.d")
        .distinct()
    )
    return oriented, deg


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle census over an undirected edge frame with
    ``(id_a, id_b)``, ``id_a < id_b``, each edge listed once.
    Returns one row: node/edge counts, wedge count
    (Σ d·(d−1)/2 — length-2 paths), triangle count, and the global
    clustering coefficient as parts-per-million integer
    (3·triangles·10⁶ div wedges) so the ratio is engine-exact.

    Triangle enumeration uses DEGREE ORIENTATION (VERDICT r9 item 5;
    the standard arboricity-bounded refinement): every edge is
    directed from its lower-(degree, id) endpoint to its higher one,
    and wedges are enumerated only between OUT-edges of their common
    source — so every triangle is counted exactly once from its
    minimum corner under the (degree, id) order, and per-node join
    work is out_degree² ≤ O(m) total (out-degree is O(√m) for any
    graph) instead of degree². On a graph with one hot node the
    unoriented a<b<c wedge join concentrates d²/2 candidate pairs in
    the hub's task; oriented, the hub has out-degree ~0 (everything
    points INTO the highest-degree node) and the hot key vanishes —
    pinned by test_triangle_orientation_bounds_hot_node_work.
    Everything after the joins is a constant-width aggregate."""
    e, deg = _oriented_edges(edges)
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    # wedge (v ← u → w) with v ≺ w under (degree, id); the closing
    # edge {v,w}, if present, is oriented v → w under the same order
    x = e.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("d_dst").alias("dv"),
    )
    y = e.select(
        F.col("src").alias("u2"),
        F.col("dst").alias("w"),
        F.col("d_dst").alias("dw"),
    )
    z = e.select(F.col("src").alias("v3"), F.col("dst").alias("w3"))
    tri = (
        x.join(
            y,
            (F.col("u") == F.col("u2"))
            & (
                (F.col("dv") < F.col("dw"))
                | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
            ),
        )
        .join(
            z,
            (F.col("v3") == F.col("v")) & (F.col("w3") == F.col("w")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        base.crossJoin(ne)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) "
                "ELSE (3 * n_triangles * 1000000) div n_wedges END"
            ).alias("clustering_ppm"),
        )
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + LOCAL clustering coefficient
    (Watts–Strogatz) over an undirected ``(id_a, id_b)`` edge frame,
    id_a < id_b, each edge once: (node, degree, triangles,
    clustering_ppm) for every node, ascending node id.
    clustering_ppm = 2·t(v)·10⁶ div (d(v)·(d(v)−1)) — engine-exact
    integer division; degree-1 nodes report 0.

    Same degree-oriented enumeration as :func:`triangle_count` (each
    triangle found once from its minimum (degree, id) corner,
    per-node join work arboricity-bounded); each found triangle then
    credits its THREE corners via one explode before the per-node
    aggregate, so the only corpus-scale shuffles are the orientation
    degree joins and the final groupBy node."""
    e, deg = _oriented_edges(edges)
    x = e.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("d_dst").alias("dv"),
    )
    y = e.select(
        F.col("src").alias("u2"),
        F.col("dst").alias("w"),
        F.col("d_dst").alias("dw"),
    )
    z = e.select(F.col("src").alias("v3"), F.col("dst").alias("w3"))
    corners = (
        x.join(
            y,
            (F.col("u") == F.col("u2"))
            & (
                (F.col("dv") < F.col("dw"))
                | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
            ),
        )
        .join(z, (F.col("v3") == F.col("v")) & (F.col("w3") == F.col("w")))
        .select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias(
                "node"
            )
        )
    )
    t = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )
    return (
        deg.join(t, deg["n"] == t["node"], "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long")
            .alias("triangles"),
            F.expr(
                "CASE WHEN d < 2 THEN CAST(0 AS BIGINT) ELSE "
                "(2 * coalesce(triangles, 0) * 1000000) div (d * (d - 1)) "
                "END"
            )
            .cast("long")
            .alias("clustering_ppm"),
        )
        .orderBy("node")
    )


# --- k-core decomposition (round 12) ------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 8


def kcore(edges: DataFrame, k: int = KCORE_K) -> DataFrame:
    """k-core decomposition by bounded iterative peeling (Seidman
    1983, public literature): repeatedly delete nodes whose degree in
    the SURVIVING subgraph is < k; the fixpoint is the maximal
    subgraph with minimum degree ≥ k — the standard filter for
    spammy, densely-interlinked near-dup clusters (a k-core inside
    the duplicate graph is template farming; a tree-ish component is
    organic drift).

    Runs EXACTLY ``KCORE_ROUNDS`` peel rounds (a fixed constant, so the
    DuckDB oracle can unroll the identical iterations as chained
    CTEs — the bounded-recursion move of textrank/bpe/funnel) and
    emits ``converged`` = (last round removed nothing). Once the
    fixpoint is reached earlier, the remaining rounds are no-ops, so
    fixed-rounds ≡ run-to-fixpoint whenever converged is TRUE —
    which the certified row pins at the gate SFs. A peel cascade
    deeper than ``KCORE_ROUNDS`` (a path feeding a core sheds one node per
    round) returns converged=FALSE rows, never a silent fixpoint
    claim.

    Scale shape: each round is one degree aggregate + two semi-join
    prunes over the surviving edge set, localCheckpoint-ed so the
    plan stays constant-size (round-2 lesson); rounds are
    corpus-size-independent. Input edges are undirected distinct
    (id_a < id_b); output one row per surviving node with its core
    degree."""
    sym = (
        edges.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionByName(
            edges.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
        )
        .localCheckpoint(eager=True)
    )
    counts = [sym.count()]
    for _ in range(KCORE_ROUNDS):
        good = (
            sym.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("s")
        )
        sym = (
            sym.join(good, "s")
            .join(good.withColumnRenamed("s", "d"), "d")
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
        counts.append(sym.count())
    converged = counts[-1] == counts[-2]
    return (
        sym.groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(
            F.col("s").alias("node"),
            "core_degree",
            F.lit(converged).alias("converged"),
        )
    )


def kcore_oracle_tail() -> str:
    """The unrolled peel as SQL, expecting a CTE named ``pairs`` with
    (id_a, id_b) in scope; returns the full statement TAIL (to be
    appended after `WITH pairs AS (...)`)."""
    ctes = ["""
        e0 AS MATERIALIZED (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS d FROM pairs
        )"""]
    for r in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""
        n{r} AS MATERIALIZED (
            SELECT s FROM e{r - 1} GROUP BY s HAVING count(*) >= {KCORE_K}
        ),
        e{r} AS MATERIALIZED (
            SELECT e.s, e.d FROM e{r - 1} e
            JOIN n{r} a ON e.s = a.s
            JOIN n{r} b ON e.d = b.s
        )""")
    return f"""
        {", ".join(ctes)}
        SELECT s AS node,
               CAST(count(*) AS BIGINT) AS core_degree,
               (SELECT count(*) FROM e{KCORE_ROUNDS})
                   = (SELECT count(*) FROM e{KCORE_ROUNDS - 1}) AS converged
        FROM e{KCORE_ROUNDS}
        GROUP BY s
    """
