"""Equivalence tests for the round-2 primitives, beyond their single
registered queries:

- ``exact_ntile`` must reproduce ``F.ntile().over(Window.orderBy(...))``
  bit-for-bit on adversarial shapes (ties, skew, n % tiles != 0,
  n < tiles);
- ``grouped_exact_quantiles`` must reproduce ``F.percentile`` on
  random-ish grouped data on both its routes, and choose the route by
  its largest group's counted rows, whatever Catalyst estimates;
- ``connected_components`` must match a driver-side union-find on a
  pseudo-random graph (chains force multiple pointer-jump rounds), on
  both its routes;
- ``bucketed_global_rank_multi`` must give every ordering the ranks of
  ``row_number().over(Window.orderBy(...))``.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from .conftest import SF_MEDIUM, SF_SMALL


def _synth(spark, n: int, groups: int = 4):
    """Deterministic pseudo-random frame: id, group, value (hash-mixed,
    intentionally with ties via % 97)."""
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % groups).cast("string").alias("grp"),
            (((F.col("id") * 2654435761) % 2147483648) % 97)
            .cast("double")
            .alias("value"),
        )
    )


def test_exact_ntile_matches_window_ntile(spark):
    from stock_data_warehouse_analytics_spark.operators.ranking import exact_ntile

    for n, tiles in ((1000, 10), (997, 7), (5, 10), (64, 64)):
        df = _synth(spark, n)
        got = {
            (r.id): r.tile
            for r in exact_ntile(
                df, ["value", "id"], n_tiles=tiles, n_buckets=8
            ).collect()
        }
        w = Window.orderBy("value", "id")
        want = {
            r.id: r.t
            for r in df.select("id", F.ntile(tiles).over(w).alias("t")).collect()
        }
        assert got == want, (n, tiles)


@pytest.mark.parametrize("route", ["zero_cut", "bucketed"])
def test_grouped_exact_quantiles_matches_percentile(spark, monkeypatch, route):
    from stock_data_warehouse_analytics_spark.operators import localrel
    from stock_data_warehouse_analytics_spark.operators.ranking import (
        grouped_exact_quantiles,
    )

    if route == "bucketed":
        monkeypatch.setattr(localrel, "QUANTILE_GROUP_MAX_ROWS", 0)
    df = _synth(spark, 3000)
    qs = [("p10", 0.1), ("p50", 0.5), ("p99", 0.99)]
    got = {
        r.grp: (r.p10, r.p50, r.p99)
        for r in grouped_exact_quantiles(df, "grp", "value", qs, n_buckets=8)
        .select(
            "grp",
            F.round("p10", 6).alias("p10"),
            F.round("p50", 6).alias("p50"),
            F.round("p99", 6).alias("p99"),
        )
        .collect()
    }
    want = {
        r.grp: (r.p10, r.p50, r.p99)
        for r in df.groupBy("grp")
        .agg(
            F.round(F.percentile("value", F.lit(0.1)), 6).alias("p10"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .collect()
    }
    assert got == want


def _route_records(caplog) -> list[str]:
    return [
        m.split(": ", 1)[1].split()[0]
        for m in caplog.messages
        if m.startswith("grouped_exact_quantiles: route=")
    ]


def test_grouped_exact_quantiles_routes_on_group_rows(spark, monkeypatch, caplog):
    """The quantile route follows the largest group's counted rows, not
    Catalyst's estimate: a checkpointed join estimated far above 128 MiB
    but holding 10k rows takes the zero-cut route (no sketch pass), and
    one group above the cap sends the call down the bucketed route.
    Both give the same rows."""
    from stock_data_warehouse_analytics_spark.operators import localrel
    from stock_data_warehouse_analytics_spark.operators import ranking as R

    sketches = []
    cuts = R._cuts
    monkeypatch.setattr(R, "_cuts", lambda *a: sketches.append(a) or cuts(*a))
    left = spark.range(10_000).select(
        "id", F.when(F.col("id") < 6_000, "big").otherwise(
            (F.col("id") % 2).cast("string")).alias("grp")
    )
    right = spark.range(10_000).select(
        "id", ((F.col("id") * 2654435761) % 1009).cast("double").alias("v")
    )
    df = left.join(F.broadcast(right), "id").localCheckpoint(eager=True)
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert est > 128 << 20
    qs = [("p25", 0.25), ("p50", 0.5), ("p90", 0.9)]

    with caplog.at_level(logging.DEBUG, logger=R.__name__):
        zero_cut = sorted(R.grouped_exact_quantiles(df, "grp", "v", qs).collect())
        assert sketches == []
        monkeypatch.setattr(localrel, "QUANTILE_GROUP_MAX_ROWS", 5_999)
        bucketed = sorted(R.grouped_exact_quantiles(df, "grp", "v", qs).collect())
        assert len(sketches) == 1
    assert _route_records(caplog) == ["route=zero_cut", "route=bucketed"]
    assert caplog.messages[-1].endswith("groups=3 max_group_rows=6000")
    assert zero_cut == bucketed


def test_mad_anomalies_take_the_zero_cut_route(spark, caplog):
    """``mining_mad_robust_anomalies`` at sf0.01 in a fresh session: the
    staged events panel and the MAD over the checkpointed broadcast join
    (estimated at ~16 GB, ~10k rows) both take the zero-cut route."""
    from stock_data_warehouse_analytics_spark.plans import get_queries

    fresh = spark.newSession()
    query = get_queries()["mining_mad_robust_anomalies"]
    with caplog.at_level(
        logging.DEBUG, logger="stock_data_warehouse_analytics_spark.operators.ranking"
    ):
        rows = query(fresh, SF_MEDIUM).collect()
    assert rows
    assert _route_records(caplog) == ["route=zero_cut", "route=zero_cut"]


def test_connected_components_matches_union_find(spark, monkeypatch):
    from stock_data_warehouse_analytics_spark.operators import localrel
    from stock_data_warehouse_analytics_spark.operators.graph import (
        connected_components,
    )

    # chains + cliques + isolated pairs: chains of length ~40 need
    # several pointer-jump rounds (plain propagation would need ~40)
    edges = []
    for c in range(5):  # 5 chains of 40
        base = c * 100
        edges += [(base + i, base + i + 1) for i in range(39)]
    for c in range(5):  # 5 cliques of 6
        base = 1000 + c * 10
        edges += [(base + i, base + j) for i in range(6) for j in range(i + 1, 6)]
    edges += [(2000 + 2 * i, 2001 + 2 * i) for i in range(20)]

    # driver-side union-find reference
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    edf = spark.createDataFrame(edges, "src long, dst long")
    for max_rows in (localrel.DRIVER_MAX_ROWS, 0):  # driver, then the loop
        monkeypatch.setattr(localrel, "DRIVER_MAX_ROWS", max_rows)
        got = {
            r.node: r.comp
            for r in connected_components(edf, max_iter=10).collect()
        }
        assert got == want


def test_bucketed_global_cumsum_equals_naive_window(spark):
    """The range-bucketed running total must equal the naive
    single-partition decimal cumsum exactly (which we only ever run at
    test scale)."""
    from pyspark.sql import Window

    from stock_data_warehouse_analytics_spark.operators.ranking import (
        bucketed_global_cumsum,
    )
    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    pr = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("rev"))
        .withColumn("_neg", -F.col("rev"))
    )
    got = {
        r.o_custkey: r.cum
        for r in bucketed_global_cumsum(
            pr, ["_neg", "o_custkey"], "rev", cumsum_col="cum"
        ).collect()
    }
    w = Window.orderBy("_neg", "o_custkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r.o_custkey: r.cum
        for r in pr.withColumn(
            "cum", F.sum(F.col("rev").cast("decimal(28,6)")).over(w).cast("double")
        ).collect()
    }
    assert got == want


def test_bucketed_helpers_auto_checkpoint_heuristic(spark):
    """VERDICT r03 item 7: the eager multi-action helpers materialize
    any NON-bare-scan input automatically (localCheckpoint → LogicalRDD
    in the optimized plan), and leave bare scan/filter/project chains
    alone — so no registered query can accidentally re-execute an
    expensive upstream 3×."""
    from stock_data_warehouse_analytics_spark.operators.ranking import (
        _materialize_if_needed,
        bucketed_global_rank,
    )
    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )

    # bare scan chain: auto leaves the plan untouched (no LogicalRDD)
    out = _materialize_if_needed(li.filter(F.col("l_quantity") > 10))
    assert "LogicalRDD" not in out._jdf.queryExecution().optimizedPlan().toString()

    # aggregated input: auto materializes (plan collapses to LogicalRDD)
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    out2 = _materialize_if_needed(agg)
    assert "LogicalRDD" in out2._jdf.queryExecution().optimizedPlan().toString()

    # an already-checkpointed input is NOT re-checkpointed (same plan id)
    out3 = _materialize_if_needed(out2)
    assert out3 is out2

    # end-to-end: ranking an aggregate still returns correct ranks
    ranked, n = bucketed_global_rank(agg, ["q", "l_orderkey"], rank_col="r")
    rows = ranked.orderBy("r").collect()
    assert n == len(rows)
    assert [r.r for r in rows] == list(range(1, n + 1))
    qs = [(r.q, r.l_orderkey) for r in rows]
    assert qs == sorted(qs)


def test_bucketed_global_rank_multi_matches_row_number(spark):
    from stock_data_warehouse_analytics_spark.operators.ranking import (
        bucketed_global_rank_multi,
    )

    df = _synth(spark, 500)
    specs = {"by_value": ["value", "id"], "by_grp": ["grp", "value", "id"]}
    ranked, n = bucketed_global_rank_multi(df, specs, n_buckets=8, rank_col="r")
    assert n == 500
    for name, cols in specs.items():
        want = {
            r.id: r.r
            for r in df.select(
                "id", F.row_number().over(Window.orderBy(*cols)).alias("r")
            ).collect()
        }
        assert {r.id: r.r for r in ranked[name].collect()} == want

    with pytest.raises(ValueError):
        bucketed_global_rank_multi(df, specs, n_buckets=257)
