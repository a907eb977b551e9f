"""Iterative graph analytics over the trade graph — PageRank.

The nation→nation trade graph (edges = supplier-nation → customer-nation
with lineitem-count weights) is computed from the facts ONCE, then the
power iteration runs over the aggregated graph, which is bounded by
|nations|² regardless of fact size — the right 100 TB shape: one fact
scan, then driver-free iteration over dimension-sized state.

Cross-engine exactness: PageRank in floating point diverges across
engines (different add orders), so ranks are kept in integer
**micro-units** (1.0 ≡ 1_000_000) and every update uses integer floor
division — bit-identical in Spark (``DIV``) and DuckDB (``//``) for
non-negative operands.  The oracle unrolls the same ``N_ITERS``
iterations as chained CTEs.

Scale note: a rank is at most ``SCALE``, so the per-edge product
``rank * w * 85`` stays < 2⁶³ while ``w`` (lineitems per nation-pair)
< ~1.08·10¹¹.  The iteration itself runs in Python ints on the driver
and cannot wrap, but past that bound the DuckDB oracle's bigint
arithmetic raises, so :func:`_power_iterate` raises ``OverflowError``
too rather than return ranks the oracle cannot check; bigger graphs
would rescale ``w`` to per-mille of the source's out-weight first
(same shape, one more integer divide).

Companion to ``operators/graph.py`` (connected components via
pointer-jumping label propagation, reference: the mining module's
clustering study at stock_mining.py / datamining.py in the reference
repo has no graph analog — this is part of the mandated
beyond-reference extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..operators.localrel import literal_df
from .registry import register

N_ITERS = 8
SCALE = 1_000_000
_BASE_NUM = SCALE * 15 // 100  # damped teleport mass numerator: 150000 // n


def _power_iterate(edges: list[tuple[int, int, int]]) -> dict[int, int]:
    """Rank in micro-units of every node of the weighted ``(src, dst,
    w)`` edge list after ``N_ITERS`` damped power-iteration rounds, in
    the integer arithmetic of the DuckDB oracle.  Raises
    ``OverflowError`` when an edge's ``rank * w * 85`` reaches 2⁶³,
    where the oracle's bigint arithmetic errors."""
    out_w: dict[int, int] = {}
    for src, _dst, w in edges:
        out_w[src] = out_w.get(src, 0) + w
    nodes = sorted({src for src, _d, _w in edges} | {d for _s, d, _w in edges})
    rank = {v: SCALE // len(nodes) for v in nodes}
    base = _BASE_NUM // len(nodes) if nodes else 0
    for _ in range(N_ITERS):
        contrib: dict[int, int] = {}
        for src, dst, w in edges:
            product = rank[src] * w * 85
            if product >= 1 << 63:
                raise OverflowError(
                    f"pagerank: rank {rank[src]} * w {w} * 85 on edge {src}->{dst} "
                    "overflows bigint"
                )
            contrib[dst] = contrib.get(dst, 0) + product // (100 * out_w[src])
        rank = {v: base + contrib.get(v, 0) for v in nodes}
    return rank


def _pagerank_oracle() -> str:
    """Unrolled power iteration as chained CTEs (DuckDB has no
    aggregate-in-recursive-CTE, so fixed iterations unroll)."""
    parts = [
        f"""
WITH edges AS (
  SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*)::BIGINT AS w
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN customer ON c_custkey = o_custkey
  GROUP BY src, dst
),
outw AS (SELECT src, SUM(w)::BIGINT AS out_w FROM edges GROUP BY src),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges
),
nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
r0 AS (SELECT node, ({SCALE} // nn.n)::BIGINT AS rank FROM nodes, nn)"""
    ]
    for i in range(1, N_ITERS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node,
         SUM((r.rank * e.w * 85) // (100 * o.out_w))::BIGINT AS c
  FROM edges e
  JOIN outw o ON e.src = o.src
  JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         (({_BASE_NUM} // nn.n) + COALESCE(c.c, 0))::BIGINT AS rank
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
    parts.append(
        f"""
SELECT n_name AS nation, rank AS rank_micro
FROM r{N_ITERS} JOIN nation ON n_nationkey = node
ORDER BY rank_micro DESC, n_name
"""
    )
    return "".join(parts)


@register(
    "graph_pagerank_nations",
    tags=("graph", "iterative", "pagerank"),
    oracle=_pagerank_oracle(),
)
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 8 iterations) over the nation trade
    graph.  One 4-way fact join builds the weighted edge list — the
    only data-sized work — which is STRUCTURALLY bounded at
    |nations|² rows; the power iteration then runs on the DRIVER over
    those ≤625 integer rows (r10: the relational loop spent ~12 tiny
    jobs — per-iteration broadcast join + agg + checkpoint — on a
    625-row table, pure scheduling overhead; the same bounded-state
    stance as the k-means centroid and LM-trainer collects).  All rank
    updates are integer micro-units with integer floor division, so
    Python ``//`` reproduces Spark ``DIV`` bit-for-bit for these
    non-negative operands — pinned by the unrolled-CTE DuckDB oracle
    and tests/test_iterative_ops.py's independent power iteration.
    The distributed-iteration surface (unbounded graphs) lives in
    ``operators/graph.py`` (pointer-jumping CC), where node state is
    data-sized and a driver collect would not be bounded."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edge_rows = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()  # bounded: ≤ |nations|² rows by construction
    )
    rank = _power_iterate([(int(r.src), int(r.dst), int(r.w)) for r in edge_rows])
    ranks = literal_df(spark, sorted(rank.items()), "node bigint, rank bigint")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(n), F.col("node") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), F.col("rank").alias("rank_micro"))
        .orderBy(F.desc("rank_micro"), "nation")
    )


def _sql_triangles() -> str:
    from .llm_dedup import _sql_minhash_ctes

    return f"""
WITH {_sql_minhash_ctes()},
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       3.0 * (SELECT n_triangles FROM tri)
         / (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg)
         AS clustering_coefficient
"""


@register(
    "graph_triangle_count",
    tags=("graph", "triangle", "dedup", "quality"),
    oracle=_sql_triangles(),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the near-dup candidate graph — the cluster-
    cohesion diagnostic for dedup quality: a high global clustering
    coefficient (3·triangles / wedges) means LSH candidates form tight
    cliques (true duplicate groups); a low one means chains of
    borderline pairs that connected-components would glue into
    accidental mega-clusters.  Algorithm: the standard distributed
    formulation over canonically-ordered edges (doc_a < doc_b, so each
    triangle a<b<c is counted exactly once) — one self-join to form
    wedges, one membership join to close them; shuffle volume
    O(Σ deg²) with NO direction-doubling.  Degrees/wedges come from one
    grouped count.  The one-row report aggregates are sketch-sized."""
    from .dedup_store import staged_candidates

    edges = staged_candidates(spark, sf_dir)
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                3.0 * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("clustering_coefficient"),
        )
    )


# ------------------------------------------------- BFS shortest hops

_BFS_SOURCE = "NATION_0"
_BFS_ITERS = 6  # ≥ graph diameter for any 25-node trade graph we ship;
# the operator contract is "distance after N relax rounds" (PageRank's
# fixed-iteration stance), which the oracle replays exactly


def _bfs_oracle() -> str:
    parts = [
        f"""
WITH edges0 AS (
  SELECT s_nationkey AS src, c_nationkey AS dst
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN customer ON c_custkey = o_custkey
  GROUP BY src, dst
),
edges AS MATERIALIZED (
  SELECT src, dst FROM edges0 WHERE src != dst
  UNION
  SELECT dst, src FROM edges0 WHERE src != dst
),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
),
d0 AS (
  SELECT n.node,
         CASE WHEN n.node = (SELECT n_nationkey FROM nation
                             WHERE n_name = '{_BFS_SOURCE}')
              THEN 0 ELSE NULL END AS dist
  FROM nodes n
)"""
    ]
    for i in range(1, _BFS_ITERS + 1):
        parts.append(
            f""",
d{i} AS MATERIALIZED (
  SELECT node, CASE WHEN raw != 32767 THEN raw END AS dist FROM (
    SELECT d.node,
           LEAST(COALESCE(d.dist, 32767),
                 COALESCE(MIN(s.dist) + 1, 32767)) AS raw
    FROM d{i - 1} d
    LEFT JOIN edges e ON e.dst = d.node
    LEFT JOIN d{i - 1} s ON s.node = e.src AND s.dist IS NOT NULL
    GROUP BY d.node, d.dist
  )
)"""
        )
    parts.append(
        f"""
SELECT n_name AS nation, CAST(dist AS BIGINT) AS hops
FROM d{_BFS_ITERS} JOIN nation ON n_nationkey = node
ORDER BY hops, nation
"""
    )
    return "".join(parts)


@register(
    "graph_bfs_hops",
    tags=("graph", "bfs", "iterative", "shortest-path"),
    oracle=_bfs_oracle(),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance over the UNDIRECTED nation trade
    graph (source: {src}) — the reachability primitive under supply-
    chain blast-radius and community questions.  Scale split per the
    state-size rule (ROUND_NOTES r2: data-sized state → relational
    loop like CC/PageRank; DIMENSION-sized state → driver, like PC1 and
    the IVF fits): the heavy work is ONE 4-way fact join collapsing the
    facts to the nation-pair edge set — bounded by |nations|² = 625
    rows at ANY fact scale — and BFS then runs driver-side over that
    collected bounded table (a relational 6-round loop was measured at
    ~0.5 s of pure per-round scheduling overhead for 25 rows of state;
    the driver loop is exact and free).  The oracle replays {iters}
    relax rounds as chained MATERIALIZED CTEs (the round-2 gotcha:
    un-materialized iteration CTEs inline exponentially) — {iters}
    rounds ≥ any 25-node diameter, and the driver BFS runs to fixpoint,
    so both sides converge to the same distances.  Unreached nodes keep
    NULL hops; integer arithmetic only, bit-exact cross-engine."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    e0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    # bounded collect: ≤ |nations|·(|nations|−1) = 600 directed pairs
    adj: dict[int, set[int]] = {}
    node_set: set[int] = set()
    for r in e0.collect():
        a, b = int(r.src), int(r.dst)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        node_set.update((a, b))
    src_rows = n.filter(F.col("n_name") == _BFS_SOURCE).collect()
    dist: dict[int, int] = {}
    if src_rows:
        src_node = int(src_rows[0].n_nationkey)
        if src_node in node_set:
            dist[src_node] = 0
            frontier = [src_node]
            while frontier:
                nxt = []
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in dist:
                            dist[v] = dist[u] + 1
                            nxt.append(v)
                frontier = nxt
    # the oracle replays exactly _BFS_ITERS relax rounds, so the driver
    # fixpoint must be reachable within that budget — enforce the
    # "iters ≥ eccentricity" contract loudly instead of silently
    # diverging on a sparser-than-expected graph
    if dist and max(dist.values()) > _BFS_ITERS:
        raise AssertionError(
            f"BFS eccentricity {max(dist.values())} from {_BFS_SOURCE} "
            f"exceeds _BFS_ITERS={_BFS_ITERS}; raise _BFS_ITERS so the "
            "fixed-round oracle provably converges"
        )
    rows = [(node, dist.get(node)) for node in sorted(node_set)]
    out = literal_df(spark, rows, "node int, hops long")
    return (
        out.join(F.broadcast(n), F.col("node") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "hops")
        .orderBy("hops", "nation")
    )


graph_bfs_hops.__doc__ = graph_bfs_hops.__doc__.format(
    src=_BFS_SOURCE, iters=_BFS_ITERS
)


# ------------------------------------------------ link prediction

_LP_MAX_DF = 20  # inverted-index cap: parts shared by more customers
#                  are hubs that predict nothing and blow up the pair
#                  count (the dedup family's df-cap convention)
_LP_TOPK = 20


@register(
    "graph_link_prediction",
    tags=("graph", "link-prediction", "jaccard", "recommendation"),
    oracle=f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY c
),
rare AS (
  SELECT p FROM edges GROUP BY p HAVING COUNT(*) <= {_LP_MAX_DF}
),
capped AS (SELECT e.c, e.p FROM edges e JOIN rare USING (p)),
pairs AS (
  SELECT a.c AS c_a, b.c AS c_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
  GROUP BY a.c, b.c
),
scored AS (
  SELECT p.c_a, p.c_b, p.n_common, da.deg AS deg_a, db.deg AS deg_b,
         CAST(ROUND(CAST(p.n_common AS DOUBLE)
                    / (da.deg + db.deg - p.n_common) * 1000000, 0)
              AS BIGINT) AS j_micro
  FROM pairs p
  JOIN deg da ON da.c = p.c_a
  JOIN deg db ON db.c = p.c_b
)
SELECT c_a, c_b, n_common, deg_a, deg_b,
       ROUND(j_micro / 1000000.0, 6) AS jaccard
FROM scored
ORDER BY j_micro DESC, c_a, c_b
LIMIT {_LP_TOPK}
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION over the customer–part bipartite graph (the
    who-will-buy-together / find-lookalike primitive): customers are
    similar when their DISTINCT part sets overlap; candidate pairs
    come from an INVERTED INDEX over parts (only parts bought by
    ≤ {cap} customers generate pairs — hub parts predict nothing and
    would blow the pair count quadratically, the same df-cap the dedup
    family uses), scored by Jaccard n_common/(deg_a + deg_b − n_common)
    with FULL degrees, so the score is a documented lower bound when a
    shared hub part was capped away.  Top {k} pairs by
    (jaccard, c_a, c_b).

    Exactness: degrees/commons are exact BIGINT counts; Jaccard is
    micro-quantized (×10⁶ ROUND) BEFORE the global ordering, so the
    top-k cut is integer-deterministic in both engines.

    Scale shape: one distinct-projected join builds the edge list;
    candidate pairs shuffle only on the CAPPED part key (bounded
    ≤ {cap}²/2 pairs per part — never a customer×customer cross);
    degree lookups join at pair grain; the global top-{k} is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    rare = (
        edges.groupBy("p")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _LP_MAX_DF)
        .select("p")
    )
    capped = edges.join(rare, "p")
    a = capped.select(F.col("c").alias("c_a"), "p")
    b = capped.select(F.col("c").alias("c_b"), "p")
    pairs = (
        a.join(b, ["p"])
        .filter(F.col("c_a") < F.col("c_b"))
        .groupBy("c_a", "c_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    scored = (
        pairs.join(
            deg.select(F.col("c").alias("c_a"), F.col("deg").alias("deg_a")),
            "c_a",
        )
        .join(
            deg.select(F.col("c").alias("c_b"), F.col("deg").alias("deg_b")),
            "c_b",
        )
        .select(
            "c_a",
            "c_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("j_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("j_micro"), "c_a", "c_b")
        .limit(_LP_TOPK)
        .select(
            "c_a",
            "c_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(F.col("j_micro") / 1_000_000.0, 6).alias("jaccard"),
        )
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    cap=_LP_MAX_DF, k=_LP_TOPK
)
