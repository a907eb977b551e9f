"""Accuracy audits of the approximate aggregates (HLL++ distinct
counts, quantile sketches) and value identity of the session-staged
quantile panel."""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def test_approx_quantile_audit_bounds(spark):
    """Substitute check for rows-only dq_approx_vs_exact_quantiles:
    with accuracy 1000 the sketch's RANK error must be ≤ 1/1000 (plus
    slack), and every approx value must lie between the group's exact
    p25 and p99.9 — i.e. the audit itself would pass in production."""
    from stock_data_warehouse_analytics_spark.plans import get_queries

    rows = get_queries()["dq_approx_vs_exact_quantiles"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.p50_rank_err <= 0.005, r
        assert r.p95_rank_err <= 0.005, r
        assert r.p50_exact * 0.5 <= r.p50_approx <= r.p50_exact * 1.5


def test_hll_estimate_within_rsd_band(spark):
    """Substitute ACCURACY check for rows-only agg_approx_distinct
    (the driver's one permanent no-oracle row): per return flag, the
    HLL++ estimate at rsd=0.01 must lie within 5·rsd of the exact
    countDistinct — the band a production audit would alarm on — at
    BOTH test scale factors.  Mirrors
    test_approx_quantile_audit_bounds for the quantile sketch."""
    from pyspark.sql import functions as F

    from stock_data_warehouse_analytics_spark.plans import get_queries
    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    rsd = 0.01
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        approx = {
            r.l_returnflag: r
            for r in get_queries()["agg_approx_distinct"](spark, sf).collect()
        }
        exact = {
            r.l_returnflag: r
            for r in load_table(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.countDistinct("l_partkey").alias("exact_parts"),
                F.countDistinct("l_suppkey").alias("exact_suppliers"),
            )
            .collect()
        }
        assert set(approx) == set(exact) and len(approx) >= 2
        for flag, a in approx.items():
            e = exact[flag]
            for ac, ec in (
                ("approx_parts", "exact_parts"),
                ("approx_suppliers", "exact_suppliers"),
            ):
                est, true = a[ac], e[ec]
                assert abs(est - true) <= 5 * rsd * true + 2, (
                    sf, flag, ac, est, true,
                )


def test_quantile_panel_matches_lone_calls(spark):
    """The session-staged quantile panel (plans/quantile_store.py) is
    value-identical to a lone grouped_exact_quantiles call per point:
    bucket cuts and counts don't depend on which quantiles are
    requested, so sharing one panel across the percentile family
    cannot change any oracle-checked result."""
    from stock_data_warehouse_analytics_spark.operators.ranking import (
        grouped_exact_quantiles,
    )
    from stock_data_warehouse_analytics_spark.plans.quantile_store import (
        quantile_panel,
    )
    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    panel = {
        r.l_returnflag: r
        for r in quantile_panel(
            spark, SF, "lineitem", "l_returnflag", "l_extendedprice"
        ).collect()
    }
    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    for label, q in (("q05", 0.05), ("q50", 0.5), ("q95", 0.95)):
        lone = {
            r.l_returnflag: r.v
            for r in grouped_exact_quantiles(
                li, "l_returnflag", "l_extendedprice", [("v", q)]
            ).collect()
        }
        assert set(lone) == set(panel)
        for flag, v in lone.items():
            assert v == panel[flag][label], (label, flag, v, panel[flag][label])
