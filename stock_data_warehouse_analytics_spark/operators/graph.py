"""Distributed connected components — the clustering step that turns
near-duplicate PAIRS (minhash/simhash/embedding candidates) into dedup
CLUSTERS, so a pipeline can keep one canonical document per cluster.

Algorithm: min-label propagation accelerated with pointer jumping.
Each round propagates labels over the data edges AND the current
label-pointer edges (node↔component, both directions), so label
information travels two hops per round — convergence in
O(log diameter) rounds rather than O(diameter), the same idea that
makes large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") polylog.  The loop exits the first round that
changes nothing.

Scale notes:
- each round is ONE join + ONE grouped min over (edges + 2·nodes)
  rows — shuffle volume ∝ edges;
- ``localCheckpoint`` after every round cuts the lineage/plan growth
  that otherwise doubles per iteration (on a cluster you'd use a
  checkpoint dir or persist-to-table between rounds);
- the convergence check is a bounded count action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .localrel import collect_if_small, literal_df

__all__ = ["connected_components"]

# node types a literal relation carries exactly
_LITERAL_NODE_TYPES = ("bigint", "int", "smallint", "tinyint", "string")


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable via undirected
    paths.  Deterministic by construction (min over a set)."""
    # materialize the edge list FIRST, then derive the symmetric
    # closure from the checkpointed copy — a union of two selects over
    # the raw plan would execute the (often expensive) upstream
    # pair-generation twice
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )

    # the component partition and its min-id labels are unique, so a
    # driver union-find returns the loop's rows without its jobs
    node_t = fwd.schema["a"].dataType.simpleString()
    if node_t in _LITERAL_NODE_TYPES:
        pairs = collect_if_small(fwd)
        if pairs is not None:
            return _connected_components_driver(fwd.sparkSession, pairs, node_t)

    sym = fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # data edges + label-pointer edges (both directions): min over
        # this augmented neighborhood is one propagation hop AND one
        # pointer jump in the same round
        aug = (
            sym.unionByName(labels.select(F.col("node").alias("a"), F.col("comp").alias("b")))
            .unionByName(labels.select(F.col("comp").alias("a"), F.col("node").alias("b")))
        )
        nbr_min = (
            aug.join(labels, aug["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        merged = labels.join(
            nbr_min, labels["node"] == nbr_min["a"], "left"
        ).select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        merged = merged.localCheckpoint(eager=True)
        changed = merged.filter(F.col("comp") != F.col("old_comp")).count()
        labels = merged.select("node", "comp")
        if changed == 0:
            break
    return labels


def _connected_components_driver(spark, pairs, node_t: str) -> DataFrame:
    """Driver union-find over collected (a, b) edge rows — the
    small-graph body of :func:`connected_components`.  Returns the
    same (node, comp) frame (comp = min member id, components are
    unique) as a literal relation of node type ``node_t``.
    Null endpoints match the loop, whose equi-joins never match a
    null: an edge with a null joins nothing, its non-null endpoint
    still appears as a node, and the null itself is one (null, null)
    row."""
    parent: dict = {}
    has_null = False

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for x in (a, b):
            if x is None:
                has_null = True
            else:
                parent.setdefault(x, x)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        # Python < on str is code-point order == UTF-8 binary order ==
        # Spark's string min; ints are exact either way
        if m is None or n < m:
            comp_min[r] = n
    rows = sorted((n, comp_min[find(n)]) for n in parent)
    if has_null:
        rows.append((None, None))
    return literal_df(spark, rows, f"node {node_t}, comp {node_t}")
