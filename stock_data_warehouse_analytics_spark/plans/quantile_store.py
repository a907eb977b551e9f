"""Session-scoped exact-quantile panel store.

Four registered queries (``olap_percentiles_distributed``,
``olap_winsorized_stats``, ``dq_approx_vs_exact_quantiles``,
``mining_mad_robust_anomalies``) each need exact linear-interpolated
quantiles of the SAME (table, group, value) projection — three of them
literally (lineitem l_extendedprice by l_returnflag), the fourth for
its median seed (events value by event_type).  Each previously ran its
own ``grouped_exact_quantiles`` bucketed-rank pass (~15.5 s combined
in the round-8 bench tail).  A warehouse computes a quantile panel
once and serves every consumer; this store does the same per
(session, sf_dir): ONE pass over the union of the quantile points,
localCheckpointed (the result is one tiny row per group — `n_groups ×
n_quantiles` doubles), read by all four queries.

Correctness is unchanged by the sharing: in
``grouped_exact_quantiles`` the bucket cuts and per-bucket counts do
not depend on WHICH quantiles are requested, and each target rank is
interpolated independently — so the q=0.5 value out of a
{0.05,0.25,0.5,0.95} panel is bit-identical to a lone-median call
(pinned by tests/test_fast_aggregates.py::test_quantile_panel_matches
_lone_calls).

Cached by ``session.session_memo`` (staleness contract there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ranking import grouped_exact_quantiles
from ..session import session_memo
from ..sources.tables import load_table

# Canonical quantile panel per (table, group_col, value_col): the
# UNION of every consumer's points, labelled q<pct>.  A new consumer
# needing a new point extends the panel (results for existing points
# are unaffected — see module docstring).
_PANELS: dict[tuple[str, str, str], list[tuple[str, float]]] = {
    ("lineitem", "l_returnflag", "l_extendedprice"): [
        ("q05", 0.05),
        ("q25", 0.25),
        ("q50", 0.5),
        ("q95", 0.95),
    ],
    # olap_percentiles' quantity median (r10: that query now reads the
    # panels instead of re-buffering every group in an exact
    # `percentile` aggregation — same bit-exact interpolation rule)
    ("lineitem", "l_returnflag", "l_quantity"): [("q50", 0.5)],
    ("events", "event_type", "value"): [("q50", 0.5)],
}


def quantile_panel(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """The staged exact-quantile panel for a registered (table, group,
    value) projection: one row per group with one ``q<pct>`` column
    per canonical point, eagerly localCheckpointed on first use per
    (session, sf_dir).  Driver state: O(groups × points) — bounded by
    the same small-group-cardinality contract as
    ``grouped_exact_quantiles`` itself."""
    key = (table, group_col, value_col)
    quantiles = _PANELS[key]  # KeyError = not a registered panel

    def build() -> DataFrame:
        df = load_table(spark, sf_dir, table).select(group_col, value_col)
        return grouped_exact_quantiles(
            df, group_col, value_col, quantiles
        ).localCheckpoint(eager=True)

    return session_memo(spark, ("quantile_store", sf_dir, *key), build)
