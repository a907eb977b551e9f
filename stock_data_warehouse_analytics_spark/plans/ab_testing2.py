"""A/B experimentation depth: quantile treatment effects and the
streaming SRM monitor's oracle-checked batch twin.

Completes the family in ``ab_testing.py``: means (Welch/CUPED/DiD)
only see the center of the distribution — platforms also report the
TAIL movement (quantile treatment effect, Athey & Imbens style), and
they run the SRM guard continuously per time window, not once per
readout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_memo
from ..sources.tables import load_table
from ..streaming.guardrails import srm_windowed
from .ab_testing import (
    _SQL_CENTS,
    _SQL_VARIANT,
    _variant,
    prepost_users,
    user_day_purchases,
    users_total_metric,
)
from .registry import register

_US_1H = 60 * 60 * 1_000_000


@register(
    "eval_ab_quantile_effect",
    tags=("eval", "ab", "quantile", "experiment"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN {_SQL_CENTS} END), 0) AS DOUBLE) AS y
  FROM events GROUP BY user_id
),
q AS (
  SELECT variant,
         quantile_cont(y, 0.5) AS p50,
         quantile_cont(y, 0.9) AS p90
  FROM users GROUP BY variant
)
SELECT ROUND(MAX(CASE WHEN variant = 0 THEN p50 END) / 100, 6)
         AS p50_control,
       ROUND(MAX(CASE WHEN variant = 1 THEN p50 END) / 100, 6)
         AS p50_treatment,
       ROUND((MAX(CASE WHEN variant = 1 THEN p50 END)
              - MAX(CASE WHEN variant = 0 THEN p50 END)) / 100, 6)
         AS qte_p50,
       ROUND(MAX(CASE WHEN variant = 0 THEN p90 END) / 100, 6)
         AS p90_control,
       ROUND(MAX(CASE WHEN variant = 1 THEN p90 END) / 100, 6)
         AS p90_treatment,
       ROUND((MAX(CASE WHEN variant = 1 THEN p90 END)
              - MAX(CASE WHEN variant = 0 THEN p90 END)) / 100, 6)
         AS qte_p90
FROM q
""",
)
def eval_ab_quantile_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE TREATMENT EFFECT: p50/p90 of the per-user metric per
    variant and their deltas — the tail readout next to the Welch mean
    (a treatment that moves only whales moves p90 and not p50; a mean
    alone cannot tell).

    Composes the bounded-memory exact-quantile operator
    (``operators/ranking.grouped_exact_quantiles`` — value-bucketed
    rank windows, no group ever buffered) over the same hash-assigned
    user grain as ``eval_ab_welch_ttest``; quantiles interpolate exact
    integer cents in double, so the panel is bit-stable across
    engines.  The final pivot aggregates a 2-row table."""
    from ..operators.ranking import grouped_exact_quantiles

    users = users_total_metric(spark, sf_dir).select(
        "variant", F.col("y").cast("double").alias("y")
    )
    q = grouped_exact_quantiles(
        users,
        "variant",
        "y",
        [("p50", 0.5), ("p90", 0.9)],
        checkpoint_input=True,
    )
    c50 = F.max(F.when(F.col("variant") == 0, F.col("p50")))
    t50 = F.max(F.when(F.col("variant") == 1, F.col("p50")))
    c90 = F.max(F.when(F.col("variant") == 0, F.col("p90")))
    t90 = F.max(F.when(F.col("variant") == 1, F.col("p90")))
    return q.agg(
        F.round(c50 / 100, 6).alias("p50_control"),
        F.round(t50 / 100, 6).alias("p50_treatment"),
        F.round((t50 - c50) / 100, 6).alias("qte_p50"),
        F.round(c90 / 100, 6).alias("p90_control"),
        F.round(t90 / 100, 6).alias("p90_treatment"),
        F.round((t90 - c90) / 100, 6).alias("qte_p90"),
    )


@register(
    "stream_srm_monitor",
    tags=("streaming", "ab", "srm", "guardrail"),
    oracle=f"""
WITH e AS (
  SELECT make_timestamp((epoch_us(ts) // {_US_1H}) * {_US_1H})
           AS window_start,
         {_SQL_VARIANT} AS variant
  FROM events
),
c AS (
  SELECT window_start,
         COUNT(*) FILTER (WHERE variant = 0) AS n_c,
         COUNT(*) FILTER (WHERE variant = 1) AS n_t
  FROM e GROUP BY window_start
),
x AS (
  SELECT window_start, n_c, n_t,
         CAST(n_c + n_t AS DOUBLE) / 2 AS expd
  FROM c
)
SELECT window_start,
       n_c AS n_control,
       n_t AS n_treatment,
       ROUND(((n_c - expd) * (n_c - expd)
              + (n_t - expd) * (n_t - expd)) / expd, 6) AS chi2,
       ROUND(((n_c - expd) * (n_c - expd)
              + (n_t - expd) * (n_t - expd)) / expd, 6) > 3.841459
         AS srm_flag
FROM x
ORDER BY window_start
""",
)
def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly SRM guardrail: per tumbling window, variant traffic
    counts and the chi-square flag — the continuous alarm that catches
    a randomizer breaking MID-experiment (a one-shot SRM check over
    the whole experiment dilutes a transient skew into noise).

    This is the BATCH TWIN of the true readStream monitor
    (``streaming/guardrails.run_srm_stream`` — same ``srm_windowed``
    expressions, watermark + append mode; equivalence pinned by
    ``tests/test_streaming_multimodal.py::
    test_stream_srm_monitor_equals_batch``).  Variant assignment is a
    stateless map-side expression; the windowed count is the only
    state and the watermark bounds it."""
    return srm_windowed(
        load_table(spark, sf_dir, "events"), minutes=60, ordered=True
    )


@register(
    "eval_ab_proportion_ztest",
    tags=("eval", "ab", "conversion", "experiment"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
m AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    COALESCE(SUM(converted) FILTER (WHERE variant = 0), 0) AS k_c,
    COALESCE(SUM(converted) FILTER (WHERE variant = 1), 0) AS k_t
  FROM users
),
p AS (
  SELECT n_c, n_t, k_c, k_t,
         CAST(k_c AS DOUBLE) / n_c AS pc,
         CAST(k_t AS DOUBLE) / n_t AS pt,
         CAST(k_c + k_t AS DOUBLE) / (n_c + n_t) AS pp
  FROM m
)
SELECT n_c AS n_control, n_t AS n_treatment,
       k_c AS conv_control, k_t AS conv_treatment,
       ROUND(pc, 6) AS rate_control,
       ROUND(pt, 6) AS rate_treatment,
       ROUND((pt - pc)
             / SQRT(pp * (1.0e0 - pp)
                    * (1.0e0 / n_c + 1.0e0 / n_t)), 6) AS z_stat,
       ABS(ROUND((pt - pc)
             / SQRT(pp * (1.0e0 - pp)
                    * (1.0e0 / n_c + 1.0e0 / n_t)), 6)) > 1.959964
         AS significant
FROM p
""",
)
def eval_ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION z-test on user conversion (did the user purchase
    at all?) — the binary-metric face of the deflection test and the
    single most common experiment readout (conversion rate, not
    revenue).  Pooled-variance z under H0, per Agresti.

    Scale shape: same shared metric-store user grain as the Welch
    query; the conversion flag is a per-user MAX over the (user, day)
    store, the four counts are one partial-agg row, and z is one double
    expression over exact integers."""
    users = (
        user_day_purchases(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("cents").isNotNull(), 1).otherwise(0)
            ).alias("converted")
        )
        .withColumn("variant", _variant())
    )
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = users.agg(
        F.count(F.when(is_c, 1)).alias("n_c"),
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.coalesce(F.sum(F.when(is_c, F.col("converted"))), F.lit(0)).alias(
            "k_c"
        ),
        F.coalesce(F.sum(F.when(is_t, F.col("converted"))), F.lit(0)).alias(
            "k_t"
        ),
    )
    p = m.select(
        "n_c",
        "n_t",
        "k_c",
        "k_t",
        (F.col("k_c").cast("double") / F.col("n_c")).alias("pc"),
        (F.col("k_t").cast("double") / F.col("n_t")).alias("pt"),
        (
            (F.col("k_c") + F.col("k_t")).cast("double")
            / (F.col("n_c") + F.col("n_t"))
        ).alias("pp"),
    )
    z = F.round(
        (F.col("pt") - F.col("pc"))
        / F.sqrt(
            F.col("pp")
            * (F.lit(1.0) - F.col("pp"))
            * (F.lit(1.0) / F.col("n_c") + F.lit(1.0) / F.col("n_t"))
        ),
        6,
    )
    return p.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("k_c").alias("conv_control"),
        F.col("k_t").alias("conv_treatment"),
        F.round(F.col("pc"), 6).alias("rate_control"),
        F.round(F.col("pt"), 6).alias("rate_treatment"),
        z.alias("z_stat"),
        (F.abs(z) > F.lit(1.959964)).alias("significant"),
    )


@register(
    "eval_ab_readout_panel",
    tags=("eval", "ab", "experiment", "composition"),
    oracle=f"""
WITH bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS mind, MAX(CAST(ts AS DATE)) AS maxd
  FROM events
),
cut AS (SELECT mind + CAST((maxd - mind) // 2 AS INTEGER) AS cutoff
        FROM bounds),
users AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) < cutoff
                           THEN {_SQL_CENTS} END), 0) AS x,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            AND CAST(ts AS DATE) >= cutoff
                           THEN {_SQL_CENTS} END), 0) AS y
  FROM events, cut GROUP BY user_id
),
m AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(x) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS sx_c,
    CAST(COALESCE(SUM(x) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS sx_t,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS sy_c,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS sy_t,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS qy_c,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS qy_t,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
         AS DOUBLE) AS sxx,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
         AS DOUBLE) AS sxy
  FROM users
),
v AS (
  SELECT n_c, n_t,
         n_c + n_t AS n,
         CAST(n_c + n_t AS DOUBLE) / 2 AS expd,
         sx_c / n_c AS mx_c, sx_t / n_t AS mx_t,
         sy_c / n_c AS my_c, sy_t / n_t AS my_t,
         (qy_c - sy_c * sy_c / n_c) / (n_c - 1) AS vy_c,
         (qy_t - sy_t * sy_t / n_t) / (n_t - 1) AS vy_t,
         (sxy - (sx_c + sx_t) * (sy_c + sy_t) / (n_c + n_t))
           / (sxx - (sx_c + sx_t) * (sx_c + sx_t) / (n_c + n_t)) AS theta
  FROM m
),
s AS (
  SELECT n_c, n_t,
         ROUND(((n_c - expd) * (n_c - expd)
                + (n_t - expd) * (n_t - expd)) / expd, 6) AS srm_chi2,
         ROUND((my_t - my_c) / SQRT(vy_t / n_t + vy_c / n_c), 6)
           AS t_stat,
         ROUND((my_t - my_c) / 100, 6) AS lift_abs,
         ROUND(((my_t - my_c) - theta * (mx_t - mx_c)) / 100, 6)
           AS cuped_adj_lift,
         ROUND(((my_t - mx_t) - (my_c - mx_c)) / 100, 6) AS did_estimate
  FROM v
)
SELECT n_c AS n_control, n_t AS n_treatment,
       srm_chi2,
       srm_chi2 <= 3.841459 AS srm_ok,
       t_stat,
       lift_abs,
       cuped_adj_lift,
       did_estimate,
       (srm_chi2 <= 3.841459 AND ABS(t_stat) > 1.959964
        AND cuped_adj_lift > 0.0e0) AS ship
FROM s
""",
)
def eval_ab_readout_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED experiment decision row — the panel every platform
    renders at readout time: SRM gate, Welch t on the experiment-period
    metric, raw vs CUPED-adjusted lift, the DiD estimate, and the
    ship/no-ship verdict (SRM passes ∧ significant ∧ adjusted lift
    positive).  The experimentation analog of
    ``mix_training_manifest``: one query, whole funnel.

    Scale shape: the shared (user, day) metric store feeds the pre/post
    user grain (:func:`prepost_users`), then ONE ten-moment row — SRM,
    Welch, CUPED and DiD all fold into expressions over the same exact
    BIGINT/DECIMAL moments (the cheapest possible composition: adding
    readouts costs zero extra passes over the fact table)."""
    users = prepost_users(spark, sf_dir)
    from .ab_testing import _dec

    x, y = F.col("x"), F.col("y")
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = users.agg(
        F.count(F.when(is_c, 1)).alias("n_c"),
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.coalesce(F.sum(F.when(is_c, x)), F.lit(0))
        .cast("double")
        .alias("sx_c"),
        F.coalesce(F.sum(F.when(is_t, x)), F.lit(0))
        .cast("double")
        .alias("sx_t"),
        F.coalesce(F.sum(F.when(is_c, y)), F.lit(0))
        .cast("double")
        .alias("sy_c"),
        F.coalesce(F.sum(F.when(is_t, y)), F.lit(0))
        .cast("double")
        .alias("sy_t"),
        F.coalesce(F.sum(F.when(is_c, _dec(y) * _dec(y))), F.lit(0))
        .cast("double")
        .alias("qy_c"),
        F.coalesce(F.sum(F.when(is_t, _dec(y) * _dec(y))), F.lit(0))
        .cast("double")
        .alias("qy_t"),
        F.sum(_dec(x) * _dec(x)).cast("double").alias("sxx"),
        F.sum(_dec(x) * _dec(y)).cast("double").alias("sxy"),
    )
    n = F.col("n_c") + F.col("n_t")
    sx = F.col("sx_c") + F.col("sx_t")
    sy = F.col("sy_c") + F.col("sy_t")
    v = m.select(
        "n_c",
        "n_t",
        ((F.col("n_c") + F.col("n_t")).cast("double") / 2).alias("expd"),
        (F.col("sx_c") / F.col("n_c")).alias("mx_c"),
        (F.col("sx_t") / F.col("n_t")).alias("mx_t"),
        (F.col("sy_c") / F.col("n_c")).alias("my_c"),
        (F.col("sy_t") / F.col("n_t")).alias("my_t"),
        (
            (F.col("qy_c") - F.col("sy_c") * F.col("sy_c") / F.col("n_c"))
            / (F.col("n_c") - F.lit(1))
        ).alias("vy_c"),
        (
            (F.col("qy_t") - F.col("sy_t") * F.col("sy_t") / F.col("n_t"))
            / (F.col("n_t") - F.lit(1))
        ).alias("vy_t"),
        ((F.col("sxy") - sx * sy / n) / (F.col("sxx") - sx * sx / n)).alias(
            "theta"
        ),
    )
    srm_chi2 = F.round(
        (
            (F.col("n_c") - F.col("expd")) * (F.col("n_c") - F.col("expd"))
            + (F.col("n_t") - F.col("expd"))
            * (F.col("n_t") - F.col("expd"))
        )
        / F.col("expd"),
        6,
    )
    t_stat = F.round(
        (F.col("my_t") - F.col("my_c"))
        / F.sqrt(
            F.col("vy_t") / F.col("n_t") + F.col("vy_c") / F.col("n_c")
        ),
        6,
    )
    s = v.select(
        "n_c",
        "n_t",
        srm_chi2.alias("srm_chi2"),
        t_stat.alias("t_stat"),
        F.round((F.col("my_t") - F.col("my_c")) / 100, 6).alias(
            "lift_abs"
        ),
        F.round(
            (
                (F.col("my_t") - F.col("my_c"))
                - F.col("theta") * (F.col("mx_t") - F.col("mx_c"))
            )
            / 100,
            6,
        ).alias("cuped_adj_lift"),
        F.round(
            (
                (F.col("my_t") - F.col("mx_t"))
                - (F.col("my_c") - F.col("mx_c"))
            )
            / 100,
            6,
        ).alias("did_estimate"),
    )
    srm_ok = F.col("srm_chi2") <= F.lit(3.841459)
    return s.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        "srm_chi2",
        srm_ok.alias("srm_ok"),
        "t_stat",
        "lift_abs",
        "cuped_adj_lift",
        "did_estimate",
        (
            srm_ok
            & (F.abs(F.col("t_stat")) > F.lit(1.959964))
            & (F.col("cuped_adj_lift") > F.lit(0.0))
        ).alias("ship"),
    )


# Bonferroni critical values z_{1 - 0.025/m} for m = 1..16 metrics,
# derived ONCE at import from stdlib statistics.NormalDist (Wichura's
# AS241 inverse CDF — deterministic pure Python, no scipy) and embedded
# as identical literals in BOTH engines' plans, so the corrected
# threshold tracks the DATA-derived metric count instead of baking in
# m = 5 (advisor r5 finding).  m > 16 yields NULL threshold → NULL
# sig_bonferroni in both engines identically (CASE falls through).
from statistics import NormalDist as _ND

_BONF_MAX_M = 16
_BONF_CRIT = {
    m: round(_ND().inv_cdf(1.0 - 0.025 / m), 6)
    for m in range(1, _BONF_MAX_M + 1)
}
_BONF_CASE_SQL = (
    "CASE n_metrics "
    + " ".join(f"WHEN {m} THEN {v}" for m, v in _BONF_CRIT.items())
    + " END"
)


def _bonf_crit_col() -> F.Column:
    """The same m → critical-value CASE as ``_BONF_CASE_SQL``, as a
    Spark when-chain over the ``n_metrics`` column."""
    expr = F.when(F.col("n_metrics") == 1, F.lit(_BONF_CRIT[1]))
    for m in range(2, _BONF_MAX_M + 1):
        expr = expr.when(F.col("n_metrics") == m, F.lit(_BONF_CRIT[m]))
    return expr


def _panel_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_c, n_t, mc, mt, vc, vt) — the per-metric Welch
    moments over the zero-filled user × type grid, factored from
    ``eval_ab_metric_panel`` (whose oracle pins this plan) so the
    multiple-testing corrections (Bonferroni there, BH-FDR in
    ``eval_ab_fdr_bh``) share one implementation."""
    ev = load_table(spark, sf_dir, "events")
    cnt = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    types = cnt.select("event_type").distinct()
    users = cnt.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(types)).withColumn(
        "variant", _variant()
    )
    metric = grid.join(cnt, ["user_id", "event_type"], "left").select(
        "event_type",
        "variant",
        F.coalesce(F.col("k"), F.lit(0)).alias("k"),
    )
    from .ab_testing import _dec

    k = F.col("k")
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = metric.groupBy("event_type").agg(
        F.count(F.when(is_c, 1)).alias("n_c"),
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.coalesce(F.sum(F.when(is_c, k)), F.lit(0))
        .cast("double")
        .alias("s_c"),
        F.coalesce(F.sum(F.when(is_t, k)), F.lit(0))
        .cast("double")
        .alias("s_t"),
        F.coalesce(F.sum(F.when(is_c, _dec(k) * _dec(k))), F.lit(0))
        .cast("double")
        .alias("q_c"),
        F.coalesce(F.sum(F.when(is_t, _dec(k) * _dec(k))), F.lit(0))
        .cast("double")
        .alias("q_t"),
    )
    return m.select(
        "event_type",
        "n_c",
        "n_t",
        (F.col("s_c") / F.col("n_c")).alias("mc"),
        (F.col("s_t") / F.col("n_t")).alias("mt"),
        (
            (F.col("q_c") - F.col("s_c") * F.col("s_c") / F.col("n_c"))
            / (F.col("n_c") - F.lit(1))
        ).alias("vc"),
        (
            (F.col("q_t") - F.col("s_t") * F.col("s_t") / F.col("n_t"))
            / (F.col("n_t") - F.lit(1))
        ).alias("vt"),
    )


@register(
    "eval_ab_metric_panel",
    tags=("eval", "ab", "guardrails", "multiple-testing"),
    oracle=f"""
WITH types AS (SELECT DISTINCT event_type FROM events),
users AS (SELECT DISTINCT user_id FROM events),
grid AS (
  SELECT u.user_id, t.event_type,
         {_SQL_VARIANT} AS variant
  FROM users u CROSS JOIN types t
),
cnt AS (
  SELECT user_id, event_type, COUNT(*) AS k
  FROM events GROUP BY user_id, event_type
),
metric AS (
  SELECT g.event_type, g.variant,
         COALESCE(c.k, 0) AS k
  FROM grid g LEFT JOIN cnt c
    ON g.user_id = c.user_id AND g.event_type = c.event_type
),
m AS (
  SELECT event_type,
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(k) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS s_c,
    CAST(COALESCE(SUM(k) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS s_t,
    CAST(COALESCE(SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS q_c,
    CAST(COALESCE(SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS q_t
  FROM metric GROUP BY event_type
),
v AS (
  SELECT event_type, n_c, n_t,
         s_c / n_c AS mc, s_t / n_t AS mt,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM m
),
mm AS (SELECT COUNT(*) AS n_metrics FROM v)
SELECT event_type,
       n_c AS n_control, n_t AS n_treatment,
       CAST(n_metrics AS INT) AS n_metrics,
       ROUND(mc, 6) AS mean_control,
       ROUND(mt, 6) AS mean_treatment,
       ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
       ABS(ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6)) > 1.959964
         AS sig_raw,
       ABS(ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6))
         > {_BONF_CASE_SQL} AS sig_bonferroni
FROM v, mm
ORDER BY event_type
""",
)
def eval_ab_metric_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-METRIC guardrail panel with Bonferroni correction: one
    Welch t per event-type engagement metric (events of that type per
    user, zero-filled over the full user universe), flagged at the raw
    α = .05 threshold AND at the Bonferroni-corrected α/m, where m is
    the DATA-derived metric count (distinct event types; e.g. m = 5 ⇒
    critical value 2.575829 via the import-time ``_BONF_CRIT`` table,
    identical literals in both engines) — the multiple-testing
    discipline that stops a multi-guardrail readout from
    false-alarming ~23% of the time at m = 5.

    Scale shape: the dense user × type frame is a bounded-multiplier
    cross join (|types| = 5 — broadcast side is the tiny dimension);
    one shuffle to the (user, type) grain, one grouped six-moment row
    PER METRIC (5 rows, partial agg upstream), t as one double
    expression per row.  Zero-filling matters: omitting non-engaged
    users biases every mean upward and breaks the variant comparison
    whenever engagement itself responds to treatment."""
    v = _panel_v(spark, sf_dir)
    t_stat = F.round(
        (F.col("mt") - F.col("mc"))
        / F.sqrt(F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")),
        6,
    )
    # the data-derived metric count m: one-row aggregate over the
    # 5-ish-row panel, broadcast back — threshold now tracks m instead
    # of assuming 5 (see _BONF_CRIT above)
    mcount = v.agg(F.count(F.lit(1)).cast("int").alias("n_metrics"))
    return (
        v.crossJoin(F.broadcast(mcount))
        .select(
            "event_type",
            F.col("n_c").alias("n_control"),
            F.col("n_t").alias("n_treatment"),
            "n_metrics",
            F.round(F.col("mc"), 6).alias("mean_control"),
            F.round(F.col("mt"), 6).alias("mean_treatment"),
            t_stat.alias("t_stat"),
            (F.abs(t_stat) > F.lit(1.959964)).alias("sig_raw"),
            (F.abs(t_stat) > _bonf_crit_col()).alias("sig_bonferroni"),
        )
        .orderBy("event_type")
    )


@register(
    "eval_ab_cumulative_tstat",
    tags=("eval", "ab", "sequential", "window"),
    oracle=f"""
WITH ud AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         CAST(ts AS DATE) AS d,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN {_SQL_CENTS} END), 0) AS delta
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
cum0 AS (
  SELECT user_id, variant, d, delta,
         CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY d)
              AS BIGINT) AS cum
  FROM ud
),
cums AS (
  SELECT variant, d, delta, cum,
         CAST(COALESCE(LAG(cum, 1)
              OVER (PARTITION BY user_id ORDER BY d), 0) AS BIGINT)
           AS lagcum
  FROM cum0
),
daily AS (
  SELECT variant, d,
         CAST(SUM(delta) AS BIGINT) AS sd,
         SUM(CAST(cum AS DECIMAL(19,0)) * CAST(cum AS DECIMAL(19,0))
             - CAST(lagcum AS DECIMAL(19,0)) * CAST(lagcum AS DECIMAL(19,0)))
           AS sq
  FROM cums GROUP BY variant, d
),
spine AS (SELECT DISTINCT d FROM ud),
variants AS (SELECT 0 AS variant UNION ALL SELECT 1),
grid AS (
  SELECT s.d, v.variant, COALESCE(dl.sd, 0) AS sd,
         COALESCE(dl.sq, 0) AS sq
  FROM spine s CROSS JOIN variants v
  LEFT JOIN daily dl ON dl.d = s.d AND dl.variant = v.variant
),
cum_grid AS (
  SELECT d, variant,
         CAST(SUM(sd) OVER (PARTITION BY variant ORDER BY d) AS BIGINT)
           AS s_cum,
         CAST(SUM(sq) OVER (PARTITION BY variant ORDER BY d) AS DOUBLE)
           AS q_cum
  FROM grid
),
n AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t
  FROM (SELECT DISTINCT user_id, {_SQL_VARIANT} AS variant FROM events)
),
wide AS (
  SELECT d,
         CAST(MAX(CASE WHEN variant = 0 THEN s_cum END) AS DOUBLE) AS s_c,
         CAST(MAX(CASE WHEN variant = 1 THEN s_cum END) AS DOUBLE) AS s_t,
         MAX(CASE WHEN variant = 0 THEN q_cum END) AS q_c,
         MAX(CASE WHEN variant = 1 THEN q_cum END) AS q_t
  FROM cum_grid GROUP BY d
),
v AS (
  SELECT d, n_c, n_t,
         s_c / n_c AS mc, s_t / n_t AS mt,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM wide, n
)
SELECT d,
       ROUND(mc / 100, 6) AS mean_control,
       ROUND(mt / 100, 6) AS mean_treatment,
       ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
       ABS(ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6)) > 1.959964
         AS naive_significant
FROM v
ORDER BY d
""",
)
def eval_ab_cumulative_tstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PEEKING curve: the Welch-style t statistic recomputed at
    every day-D snapshot of the experiment, over the FIXED user
    universe — the trajectory whose repeated naive-threshold crossings
    are exactly why platforms need sequential corrections (the
    ``naive_significant`` flags show how often an uncorrected peeker
    would have stopped early).

    Scale shape — incremental SECOND-MOMENT maintenance, the part that
    usually forces a per-snapshot rescan: Σy²(D) does not decompose
    into daily deltas, but per user-day
    ``cum² − lag(cum)²`` does, so one user-partitioned window pass
    yields daily Σy² increments that a calendar-spine window then
    cumulates — days × users work collapses to ONE pass over the
    (user, day) grain plus windows over the CALENDAR-bounded daily
    table.  All sums exact (BIGINT / DECIMAL(38,0)); t per day is one
    double expression."""
    v = _daily_cum_moments(spark, sf_dir)
    t_stat = F.round(
        (F.col("mt") - F.col("mc"))
        / F.sqrt(F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")),
        6,
    )
    return v.select(
        "d",
        F.round(F.col("mc") / 100, 6).alias("mean_control"),
        F.round(F.col("mt") / 100, 6).alias("mean_treatment"),
        t_stat.alias("t_stat"),
        (F.abs(t_stat) > F.lit(1.959964)).alias("naive_significant"),
    ).orderBy("d")


def _daily_cum_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, n_c, n_t, mc, mt, vc, vt) at every day-D experiment
    snapshot over the FIXED user universe (users with no events by
    day D implicitly contribute y = 0): the incremental second-moment
    pipeline factored out of ``eval_ab_cumulative_tstat`` so the
    sequential readouts (peeking curve, mSPRT, futility, panel) share
    one implementation.  Means and variances are in CENTS.

    Memoized per (session, sf_dir) — the sequential family's FOUR
    consumers (cumulative-t, peeking/OBF, mSPRT, futility) plus the
    committee panel each need this day-grain table; without the memo
    the panel re-derives the (user, day) pass three times over.  The
    checkpointed frame is day-grain (one row per calendar day), so
    the memo is calendar-bounded, never fact-sized.  Cached by
    ``session_memo`` (staleness contract there)."""
    return session_memo(
        spark,
        ("ab_testing2.moments", sf_dir),
        lambda: _daily_cum_moments_build(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )


def _daily_cum_moments_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window
    from .ab_testing import _cents, _dec

    ud = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", _cents())
            ),
            F.lit(0),
        ).alias("delta")
    ).withColumn("variant", _variant())
    wu = Window.partitionBy("user_id").orderBy("d")
    cum = F.sum("delta").over(wu).cast("bigint")
    cums = ud.select(
        "variant",
        "d",
        "delta",
        cum.alias("cum"),
        F.coalesce(F.lag(cum, 1).over(wu), F.lit(0))
        .cast("bigint")
        .alias("lagcum"),
    )
    daily = cums.groupBy("variant", "d").agg(
        F.sum("delta").cast("bigint").alias("sd"),
        F.sum(
            _dec(F.col("cum")) * _dec(F.col("cum"))
            - _dec(F.col("lagcum")) * _dec(F.col("lagcum"))
        ).alias("sq"),
    )
    spine = ud.select("d").distinct()
    variants = spark.range(2).select(F.col("id").cast("int").alias("variant"))
    grid = (
        spine.crossJoin(F.broadcast(variants))
        .join(daily, ["d", "variant"], "left")
        .select(
            "d",
            "variant",
            F.coalesce(F.col("sd"), F.lit(0)).alias("sd"),
            F.coalesce(F.col("sq"), F.lit(0)).alias("sq"),
        )
    )
    wv = Window.partitionBy("variant").orderBy("d")
    cum_grid = grid.select(
        "d",
        "variant",
        F.sum("sd").over(wv).cast("bigint").alias("s_cum"),
        F.sum("sq").over(wv).cast("double").alias("q_cum"),
    )
    n = (
        ud.select("user_id")
        .distinct()
        .withColumn("variant", _variant())
        .agg(
            F.count(F.when(F.col("variant") == 0, 1)).alias("n_c"),
            F.count(F.when(F.col("variant") == 1, 1)).alias("n_t"),
        )
    )
    wide = cum_grid.groupBy("d").agg(
        F.max(F.when(F.col("variant") == 0, F.col("s_cum")))
        .cast("double")
        .alias("s_c"),
        F.max(F.when(F.col("variant") == 1, F.col("s_cum")))
        .cast("double")
        .alias("s_t"),
        F.max(F.when(F.col("variant") == 0, F.col("q_cum"))).alias("q_c"),
        F.max(F.when(F.col("variant") == 1, F.col("q_cum"))).alias("q_t"),
    )
    v = wide.crossJoin(F.broadcast(n)).select(
        "d",
        "n_c",
        "n_t",
        (F.col("s_c") / F.col("n_c")).alias("mc"),
        (F.col("s_t") / F.col("n_t")).alias("mt"),
        (
            (F.col("q_c") - F.col("s_c") * F.col("s_c") / F.col("n_c"))
            / (F.col("n_c") - F.lit(1))
        ).alias("vc"),
        (
            (F.col("q_t") - F.col("s_t") * F.col("s_t") / F.col("n_t"))
            / (F.col("n_t") - F.lit(1))
        ).alias("vt"),
    )
    return v


# ---------------------------------------------------------------------
# ALWAYS-VALID sequential readout (mSPRT): the production answer to the
# peeking problem the cumulative-t curve documents.
# ---------------------------------------------------------------------

# Mixture variance τ² of the mSPRT normal mixture (Johari, Pekelis &
# Walsh, "Always Valid Inference", 2015/2022) — an ANALYST-chosen scale
# for plausible effect sizes (here: dollars² on the per-user purchase
# metric), a tuning literal by construction, not data-derived.
_MSPRT_TAU2 = 100.0
_MSPRT_ALPHA = 0.05

# the shared daily-cumulative-moments CTE chain (identical to the
# eval_ab_cumulative_tstat oracle up to the `v` relation)
_SQL_DAILY_MOMENTS = f"""
ud AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         CAST(ts AS DATE) AS d,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN {_SQL_CENTS} END), 0) AS delta
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
cum0 AS (
  SELECT user_id, variant, d, delta,
         CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY d)
              AS BIGINT) AS cum
  FROM ud
),
cums AS (
  SELECT variant, d, delta, cum,
         CAST(COALESCE(LAG(cum, 1)
              OVER (PARTITION BY user_id ORDER BY d), 0) AS BIGINT)
           AS lagcum
  FROM cum0
),
daily AS (
  SELECT variant, d,
         CAST(SUM(delta) AS BIGINT) AS sd,
         SUM(CAST(cum AS DECIMAL(19,0)) * CAST(cum AS DECIMAL(19,0))
             - CAST(lagcum AS DECIMAL(19,0)) * CAST(lagcum AS DECIMAL(19,0)))
           AS sq
  FROM cums GROUP BY variant, d
),
spine AS (SELECT DISTINCT d FROM ud),
variants AS (SELECT 0 AS variant UNION ALL SELECT 1),
grid AS (
  SELECT s.d, v.variant, COALESCE(dl.sd, 0) AS sd,
         COALESCE(dl.sq, 0) AS sq
  FROM spine s CROSS JOIN variants v
  LEFT JOIN daily dl ON dl.d = s.d AND dl.variant = v.variant
),
cum_grid AS (
  SELECT d, variant,
         CAST(SUM(sd) OVER (PARTITION BY variant ORDER BY d) AS BIGINT)
           AS s_cum,
         CAST(SUM(sq) OVER (PARTITION BY variant ORDER BY d) AS DOUBLE)
           AS q_cum
  FROM grid
),
n AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t
  FROM (SELECT DISTINCT user_id, {_SQL_VARIANT} AS variant FROM events)
),
wide AS (
  SELECT d,
         CAST(MAX(CASE WHEN variant = 0 THEN s_cum END) AS DOUBLE) AS s_c,
         CAST(MAX(CASE WHEN variant = 1 THEN s_cum END) AS DOUBLE) AS s_t,
         MAX(CASE WHEN variant = 0 THEN q_cum END) AS q_c,
         MAX(CASE WHEN variant = 1 THEN q_cum END) AS q_t
  FROM cum_grid GROUP BY d
),
v AS (
  SELECT d, n_c, n_t,
         s_c / n_c AS mc, s_t / n_t AS mt,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM wide, n
)"""


@register(
    "eval_ab_msprt",
    tags=("eval", "ab", "sequential", "always-valid", "window"),
    oracle=f"""
WITH {_SQL_DAILY_MOMENTS},
lam AS (
  SELECT d,
         ROUND((mt - mc) / 100, 6) AS theta_hat,
         (vt / n_t + vc / n_c) / 10000 AS vv
  FROM v
),
lnl AS (
  SELECT d, theta_hat,
         CASE WHEN vv <= 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(
                (0.5 * LN(vv / (vv + {_MSPRT_TAU2}))
                 + (theta_hat * theta_hat) * {_MSPRT_TAU2}
                   / ((2 * vv) * (vv + {_MSPRT_TAU2})))
                * 1000000000, 0) AS BIGINT)
         END AS lnl_nano
  FROM lam
),
runmax AS (
  SELECT d, theta_hat, lnl_nano,
         MAX(lnl_nano) OVER (ORDER BY d) AS best_nano
  FROM lnl
)
SELECT d, theta_hat,
       ROUND(CAST(lnl_nano AS DOUBLE) / 1000000000, 6) AS ln_lambda,
       ROUND(LEAST(1.0,
             EXP(-(CAST(best_nano AS DOUBLE) / 1000000000))), 9)
         AS p_always_valid,
       ROUND(LEAST(1.0,
             EXP(-(CAST(best_nano AS DOUBLE) / 1000000000))), 9)
         <= {_MSPRT_ALPHA} AS rejected
FROM runmax
ORDER BY d
""",
)
def eval_ab_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALWAYS-VALID p-value trajectory via the mixture SPRT (Johari,
    Pekelis & Walsh) — the production mitigation for the peeking
    problem ``eval_ab_cumulative_tstat`` documents: at every day-D
    snapshot the normal-mixture likelihood ratio
    ``Λ_D = √(V/(V+τ²)) · exp(θ̂²τ² / (2V(V+τ²)))`` is computed from
    the SAME incremental second-moment machinery, and the always-valid
    p-value is the running minimum of 1/Λ — monotone by construction,
    so an analyst may stop at ANY day with type-I error ≤ α = _MSPRT_ALPHA = 0.05.
    τ² = _MSPRT_TAU2 = 100 (dollars²) is the analyst-chosen mixture scale — a
    tuning literal, not data-derived (advisor r5's Bonferroni lesson).

    Cross-engine exactness: θ̂ is rounded to 6 dp FIRST (both
    engines), ln Λ is one identically-ordered double expression
    quantized to integer NANO-units, the running extremum is a BIGINT
    window max (order-free), and p = exp(−max/1e9) rounds at 9 dp —
    the ``plans/exact.py`` stance applied to a sequential statistic.
    Degenerate V ≤ 0 (no variance yet) pins ln Λ = 0 identically.

    Scale shape: inherits ``_daily_cum_moments`` — ONE pass over the
    (user, day) grain, windows only over the CALENDAR-bounded daily
    table; the mSPRT math adds zero shuffles (per-day expressions +
    one tiny window over days)."""
    v = _daily_cum_moments(spark, sf_dir)
    theta = F.round((F.col("mt") - F.col("mc")) / 100, 6)
    vv = (F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")) / 10000
    lam = v.select("d", theta.alias("theta_hat"), vv.alias("vv"))
    t2 = F.lit(_MSPRT_TAU2)
    th = F.col("theta_hat")
    vcol = F.col("vv")
    ln_lambda = F.lit(0.5) * F.log(vcol / (vcol + t2)) + (th * th) * t2 / (
        (F.lit(2.0) * vcol) * (vcol + t2)
    )
    lnl = lam.select(
        "d",
        "theta_hat",
        F.when(vcol <= 0, F.lit(0).cast("bigint"))
        .otherwise(F.round(ln_lambda * 1000000000, 0).cast("bigint"))
        .alias("lnl_nano"),
    )
    from pyspark.sql import Window

    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    runmax = lnl.withColumn("best_nano", F.max("lnl_nano").over(wd))
    p_av = F.round(
        F.least(
            F.lit(1.0),
            F.exp(-(F.col("best_nano").cast("double") / 1000000000)),
        ),
        9,
    )
    return runmax.select(
        "d",
        "theta_hat",
        F.round(F.col("lnl_nano").cast("double") / 1000000000, 6).alias(
            "ln_lambda"
        ),
        p_av.alias("p_always_valid"),
        (p_av <= F.lit(_MSPRT_ALPHA)).alias("rejected"),
    ).orderBy("d")


eval_ab_msprt.__doc__ = eval_ab_msprt.__doc__.format(
    alpha=_MSPRT_ALPHA, tau2=_MSPRT_TAU2
)


# ---------------------------------------------------------------------
# GROUP-SEQUENTIAL readout (O'Brien-Fleming-shaped alpha spending): the
# committee-style complement to eval_ab_msprt's always-valid p-value.
# ---------------------------------------------------------------------

_OBF_Z = 1.959964  # z_{alpha/2} at alpha = 0.05 (the naive-flag literal)
# Abramowitz & Stegun 26.2.17 polynomial for the standard normal CDF
# tail (|err| < 7.5e-8): one fixed sequence of double ops, evaluated on
# the 6-dp-quantized boundary, so both engines see identical inputs and
# run the identical expression tree (the mSPRT LN/EXP precedent).
_PHI_P = 0.2316419
_PHI_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_SQRT_2PI = 2.5066282746310002

_SQL_PHI_TAIL_POLY = (
    f"(EXP(-(obf_bound * obf_bound) / 2.0) / {_SQRT_2PI}) * "
    f"((((({_PHI_B[4]} * u + {_PHI_B[3]}) * u + {_PHI_B[2]}) * u"
    f" + {_PHI_B[1]}) * u + {_PHI_B[0]}) * u)"
)


@register(
    "eval_ab_obf_spending",
    tags=("eval", "ab", "sequential", "group-sequential", "spending"),
    oracle=f"""
WITH {_SQL_DAILY_MOMENTS},
tr AS (
  SELECT d,
         ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS look_idx,
         CAST(COUNT(*) OVER () AS INTEGER) AS n_looks
  FROM v
),
bd AS (
  SELECT d, t_stat, look_idx, n_looks,
         ROUND(CAST(look_idx AS DOUBLE) / n_looks, 6) AS info_frac,
         ROUND({_OBF_Z} / SQRT(CAST(look_idx AS DOUBLE) / n_looks), 6)
           AS obf_bound
  FROM tr
),
sp AS (
  SELECT d, t_stat, look_idx, n_looks, info_frac, obf_bound,
         1.0 / (1.0 + {_PHI_P} * obf_bound) AS u
  FROM bd
)
SELECT d, t_stat, look_idx, n_looks, info_frac, obf_bound,
       ROUND(2.0 * {_SQL_PHI_TAIL_POLY}, 9) AS alpha_spent,
       ABS(t_stat) >= obf_bound AS stop_obf,
       MAX(CASE WHEN ABS(t_stat) >= obf_bound THEN 1 ELSE 0 END)
         OVER (ORDER BY d) = 1 AS stopped_by_now
FROM sp
ORDER BY d
""",
)
def eval_ab_obf_spending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL monitoring trajectory with an O'Brien-Fleming-
    SHAPED boundary (Lan & DeMets 1983 spending style) — the committee
    answer to the peeking problem, next to ``eval_ab_msprt``'s
    always-valid answer: at every day-D look the cumulative Welch t is
    compared against z_{{α/2}}/√t_D, the OBF-shape bound that is very
    conservative early and relaxes to the fixed-horizon critical value
    at the final look.  The information fraction t_D is CALENDAR
    fraction look_idx/n_looks — the standard Lan-DeMets choice when
    per-look statistical information is not pre-specifiable (here the
    user universe is fixed and zero-filled, so variance-based
    information is not monotone by construction).  ``alpha_spent`` is
    the two-sided spending value 2(1 − Φ(bound)) — the boundary-shape
    trajectory, NOT a recursively-integrated exact Lan-DeMets bound
    (that requires numerical integration; the honest relational form
    reports the shape and the crossing flags).

    Cross-engine exactness: t_stat is the eval_ab_cumulative_tstat
    expression (6 dp); the boundary is z/√(k/K) on exact integer
    ranks, 6 dp; Φ uses the A&S 26.2.17 polynomial — one identical
    double expression on the 6-dp-quantized boundary in both engines,
    rounded at 9 dp; the stop flags compare already-quantized doubles.

    Scale shape: inherits ``_daily_cum_moments`` (ONE pass over the
    (user, day) grain); everything after is expressions plus two
    windows over the CALENDAR-bounded daily table (≤ days rows)."""
    from pyspark.sql import Window

    v = _daily_cum_moments(spark, sf_dir)
    t_stat = F.round(
        (F.col("mt") - F.col("mc"))
        / F.sqrt(F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")),
        6,
    )
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tr = v.select(
        "d",
        t_stat.alias("t_stat"),
        F.row_number().over(Window.orderBy("d")).cast("int").alias("look_idx"),
        F.count(F.lit(1)).over(w_all).cast("int").alias("n_looks"),
    )
    frac_raw = F.col("look_idx").cast("double") / F.col("n_looks")
    bd = tr.select(
        "d",
        "t_stat",
        "look_idx",
        "n_looks",
        F.round(frac_raw, 6).alias("info_frac"),
        F.round(F.lit(_OBF_Z) / F.sqrt(frac_raw), 6).alias("obf_bound"),
    )
    z = F.col("obf_bound")
    u = F.lit(1.0) / (F.lit(1.0) + F.lit(_PHI_P) * z)
    poly = (
        (
            (
                (F.lit(_PHI_B[4]) * u + F.lit(_PHI_B[3])) * u
                + F.lit(_PHI_B[2])
            )
            * u
            + F.lit(_PHI_B[1])
        )
        * u
        + F.lit(_PHI_B[0])
    ) * u
    phi_tail = (F.exp(-(z * z) / F.lit(2.0)) / F.lit(_SQRT_2PI)) * poly
    stop = F.abs(F.col("t_stat")) >= z
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return bd.select(
        "d",
        "t_stat",
        "look_idx",
        "n_looks",
        "info_frac",
        "obf_bound",
        F.round(F.lit(2.0) * phi_tail, 9).alias("alpha_spent"),
        stop.alias("stop_obf"),
        (
            F.max(F.when(stop, 1).otherwise(0)).over(w_run) == 1
        ).alias("stopped_by_now"),
    ).orderBy("d")


# ---------------------------------------------------------------------
# Signed normal CDF via the same A&S 26.2.17 polynomial (the OBF
# helper handles only the positive boundary; futility/p-value args can
# be negative).  One identical op sequence in both engines.
# ---------------------------------------------------------------------


def _phi_cdf_col(z: F.Column) -> F.Column:
    a = F.abs(z)
    u = F.lit(1.0) / (F.lit(1.0) + F.lit(_PHI_P) * a)
    poly = (
        (
            (
                (F.lit(_PHI_B[4]) * u + F.lit(_PHI_B[3])) * u
                + F.lit(_PHI_B[2])
            )
            * u
            + F.lit(_PHI_B[1])
        )
        * u
        + F.lit(_PHI_B[0])
    ) * u
    tail = (F.exp(-(a * a) / F.lit(2.0)) / F.lit(_SQRT_2PI)) * poly
    return F.when(z >= 0.0, F.lit(1.0) - tail).otherwise(tail)


def _sql_phi_cdf(z: str) -> str:
    """DuckDB mirror of :func:`_phi_cdf_col` — ``z`` must be a simple
    column reference (it is referenced several times)."""
    u = f"(1.0 / (1.0 + {_PHI_P} * ABS({z})))"
    poly = (
        f"((((({_PHI_B[4]} * {u} + {_PHI_B[3]}) * {u} + {_PHI_B[2]}) * {u}"
        f" + {_PHI_B[1]}) * {u} + {_PHI_B[0]}) * {u})"
    )
    tail = f"((EXP(-(ABS({z}) * ABS({z})) / 2.0) / {_SQRT_2PI}) * {poly})"
    return f"(CASE WHEN {z} >= 0.0 THEN 1.0 - {tail} ELSE {tail} END)"


# the metric-panel moments chain, shared verbatim by the BH-FDR oracle
# (identical text to the eval_ab_metric_panel oracle up to `v`)
_SQL_PANEL_V = f"""
types AS (SELECT DISTINCT event_type FROM events),
users AS (SELECT DISTINCT user_id FROM events),
grid AS (
  SELECT u.user_id, t.event_type,
         {_SQL_VARIANT} AS variant
  FROM users u CROSS JOIN types t
),
cnt AS (
  SELECT user_id, event_type, COUNT(*) AS k
  FROM events GROUP BY user_id, event_type
),
metric AS (
  SELECT g.event_type, g.variant,
         COALESCE(c.k, 0) AS k
  FROM grid g LEFT JOIN cnt c
    ON g.user_id = c.user_id AND g.event_type = c.event_type
),
m AS (
  SELECT event_type,
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(k) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS s_c,
    CAST(COALESCE(SUM(k) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS s_t,
    CAST(COALESCE(SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS q_c,
    CAST(COALESCE(SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS q_t
  FROM metric GROUP BY event_type
),
v AS (
  SELECT event_type, n_c, n_t,
         s_c / n_c AS mc, s_t / n_t AS mt,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM m
)"""

_BH_Q = 0.05  # FDR level


@register(
    "eval_ab_fdr_bh",
    tags=("eval", "ab", "multiple-testing", "fdr"),
    oracle=f"""
WITH {_SQL_PANEL_V},
ts AS (
  SELECT event_type,
         ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat
  FROM v
),
pv AS (
  SELECT event_type, t_stat, ABS(t_stat) AS az FROM ts
),
pq AS (
  SELECT event_type, t_stat,
         ROUND(2.0 * (1.0 - {_sql_phi_cdf("az")}), 9) AS p_value
  FROM pv
),
rk AS (
  SELECT event_type, t_stat, p_value,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS INTEGER)
           AS bh_rank,
         CAST(COUNT(*) OVER () AS INTEGER) AS n_metrics
  FROM pq
),
fl AS (
  SELECT *, ROUND(CAST(bh_rank AS DOUBLE) * {_BH_Q} / n_metrics, 9)
              AS bh_threshold
  FROM rk
),
km AS (
  SELECT *,
         MAX(CASE WHEN p_value <= bh_threshold THEN bh_rank END) OVER ()
           AS k_max
  FROM fl
)
SELECT event_type, n_metrics, t_stat, p_value, bh_rank, bh_threshold,
       p_value <= 0.05e0 AS sig_raw,
       COALESCE(bh_rank <= k_max, FALSE) AS sig_bh
FROM km ORDER BY bh_rank
""",
)
def eval_ab_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control over the multi-metric guardrail
    panel — the modern multiple-testing correction next to
    ``eval_ab_metric_panel``'s Bonferroni (BH controls the EXPECTED
    false-discovery rate instead of the family-wise error, the
    standard platform choice when a readout has many non-guardrail
    metrics): two-sided p from the Welch t via the shared A&S 26.2.17
    normal CDF, p-values ranked ascending, and the step-up rule
    sig_bh ⇔ rank ≤ max{{i : p_(i) ≤ i·q/m}} at q = 0.05.

    Cross-engine exactness: t is the panel's 6-dp statistic, p is one
    identical polynomial expression rounded at 9 dp, the BH threshold
    i·q/m is rounded at 9 dp before the comparison, and the step-up
    cutoff is an integer window MAX — every comparison happens between
    already-quantized values.

    Scale shape: inherits ``_panel_v`` (one (user, type)-grain shuffle
    with partial aggregation); everything after runs on the ≤ |types|
    row panel (two windows over ≤ 5 rows)."""
    from pyspark.sql.window import Window

    v = _panel_v(spark, sf_dir)
    t_stat = F.round(
        (F.col("mt") - F.col("mc"))
        / F.sqrt(F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")),
        6,
    )
    ts = v.select("event_type", t_stat.alias("t_stat")).withColumn(
        "az", F.abs(F.col("t_stat"))
    )
    pq = ts.select(
        "event_type",
        "t_stat",
        F.round(
            2.0 * (F.lit(1.0) - _phi_cdf_col(F.col("az"))), 9
        ).alias("p_value"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = pq.select(
        "event_type",
        "t_stat",
        "p_value",
        F.row_number()
        .over(Window.orderBy("p_value", "event_type"))
        .cast("int")
        .alias("bh_rank"),
        F.count(F.lit(1)).over(w_all).cast("int").alias("n_metrics"),
    )
    fl = rk.withColumn(
        "bh_threshold",
        F.round(
            F.col("bh_rank").cast("double") * _BH_Q / F.col("n_metrics"), 9
        ),
    )
    km = fl.withColumn(
        "k_max",
        F.max(
            F.when(F.col("p_value") <= F.col("bh_threshold"), F.col("bh_rank"))
        ).over(w_all),
    )
    return km.select(
        "event_type",
        "n_metrics",
        "t_stat",
        "p_value",
        "bh_rank",
        "bh_threshold",
        (F.col("p_value") <= F.lit(0.05)).alias("sig_raw"),
        F.coalesce(F.col("bh_rank") <= F.col("k_max"), F.lit(False)).alias(
            "sig_bh"
        ),
    ).orderBy("bh_rank")


_FUT_GAMMA = 0.1  # futility threshold on conditional power


@register(
    "eval_ab_futility_power",
    tags=("eval", "ab", "sequential", "futility", "conditional-power"),
    oracle=f"""
WITH {_SQL_DAILY_MOMENTS},
tr AS (
  SELECT d,
         ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS look_idx,
         CAST(COUNT(*) OVER () AS INTEGER) AS n_looks
  FROM v
),
bv AS (
  SELECT d, t_stat, look_idx, n_looks,
         ROUND(CAST(look_idx AS DOUBLE) / n_looks, 6) AS info_frac,
         ROUND(t_stat * SQRT(CAST(look_idx AS DOUBLE) / n_looks), 6)
           AS b_value,
         CASE WHEN look_idx >= n_looks THEN NULL
              ELSE ROUND((t_stat / SQRT(CAST(look_idx AS DOUBLE) / n_looks)
                          - {_OBF_Z})
                         / SQRT(1.0 - CAST(look_idx AS DOUBLE) / n_looks),
                         6)
         END AS cp_arg
  FROM tr
),
cp AS (
  SELECT d, t_stat, look_idx, n_looks, info_frac, b_value,
         CASE WHEN cp_arg IS NULL
              THEN CASE WHEN t_stat > {_OBF_Z} THEN 1.0 ELSE 0.0 END
              ELSE ROUND({_sql_phi_cdf("cp_arg")}, 9)
         END AS cp_trend
  FROM bv
)
SELECT d, t_stat, look_idx, n_looks, info_frac, b_value, cp_trend,
       cp_trend < {_FUT_GAMMA}e0 AS futility_stop,
       MAX(CASE WHEN cp_trend < {_FUT_GAMMA}e0 THEN 1 ELSE 0 END)
         OVER (ORDER BY d) = 1 AS stopped_by_now
FROM cp
ORDER BY d
""",
)
def eval_ab_futility_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUTILITY monitoring via CONDITIONAL POWER under the current
    trend — the efficacy boundary's symmetric half (``eval_ab_obf_
    spending`` stops for success; this stops for hopelessness): at
    every look the B-value B(t) = z_t·√t is extrapolated as Brownian
    motion with the current drift, giving
    CP = Φ((z_t/√t − z_{{α/2}}) / √(1−t)) — the probability the trial
    still ends significant if the observed trend continues (Lan &
    Wittes 1988).  CP below γ = 0.1 flags the experiment for an early
    futility stop — the platform lever that frees traffic weeks before
    a doomed readout's horizon.  At the final look (t = 1) CP
    degenerates to the decision itself (1 if z > z_{{α/2}} else 0).

    Cross-engine exactness: t_stat and the CP argument are quantized
    at 6 dp before the shared signed A&S Φ polynomial (9 dp); the stop
    flags compare quantized values; calendar information fraction as
    in the OBF trajectory.

    Scale shape: inherits ``_daily_cum_moments`` — one (user, day)
    pass; per-look expressions + two tiny windows over the
    calendar-bounded daily table."""
    from pyspark.sql import Window

    v = _daily_cum_moments(spark, sf_dir)
    t_stat = F.round(
        (F.col("mt") - F.col("mc"))
        / F.sqrt(F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")),
        6,
    )
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tr = v.select(
        "d",
        t_stat.alias("t_stat"),
        F.row_number().over(Window.orderBy("d")).cast("int").alias("look_idx"),
        F.count(F.lit(1)).over(w_all).cast("int").alias("n_looks"),
    )
    frac_raw = F.col("look_idx").cast("double") / F.col("n_looks")
    cp_arg = F.when(
        F.col("look_idx") >= F.col("n_looks"), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (F.col("t_stat") / F.sqrt(frac_raw) - F.lit(_OBF_Z))
            / F.sqrt(F.lit(1.0) - frac_raw),
            6,
        )
    )
    bv = tr.select(
        "d",
        "t_stat",
        "look_idx",
        "n_looks",
        F.round(frac_raw, 6).alias("info_frac"),
        F.round(F.col("t_stat") * F.sqrt(frac_raw), 6).alias("b_value"),
        cp_arg.alias("cp_arg"),
    )
    cp_trend = F.when(
        F.col("cp_arg").isNull(),
        F.when(F.col("t_stat") > F.lit(_OBF_Z), 1.0).otherwise(0.0),
    ).otherwise(F.round(_phi_cdf_col(F.col("cp_arg")), 9))
    cp = bv.select(
        "d",
        "t_stat",
        "look_idx",
        "n_looks",
        "info_frac",
        "b_value",
        cp_trend.alias("cp_trend"),
    )
    stop = F.col("cp_trend") < F.lit(_FUT_GAMMA)
    w_run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return cp.select(
        "d",
        "t_stat",
        "look_idx",
        "n_looks",
        "info_frac",
        "b_value",
        "cp_trend",
        stop.alias("futility_stop"),
        (F.max(F.when(stop, 1).otherwise(0)).over(w_run) == 1).alias(
            "stopped_by_now"
        ),
    ).orderBy("d")


@register(
    "eval_ab_cluster_icc",
    tags=("eval", "ab", "cluster-randomization", "icc", "design-effect"),
    oracle="""
WITH o AS (
  SELECT o_custkey AS c,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y
  FROM orders
),
per_c AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(y) AS BIGINT) AS s_c
  FROM o GROUP BY c
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS g,
         SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS yy
  FROM o
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST((CAST(s_c AS DECIMAL(38,0)) * CAST(s_c AS DECIMAL(38,0)))
                  // n_c AS DECIMAL(38,0))) AS sb_int,
         CAST(SUM(n_c * n_c) AS BIGINT) AS nn2
  FROM per_c
),
mo AS (
  SELECT a.k, t.n,
         CAST(a.sb_int AS DOUBLE)
           - CAST(t.g AS DOUBLE) * CAST(t.g AS DOUBLE) / t.n AS ssb,
         CAST(t.yy AS DOUBLE) - CAST(a.sb_int AS DOUBLE) AS ssw,
         (CAST(t.n AS DOUBLE) - CAST(a.nn2 AS DOUBLE) / t.n)
           / (a.k - 1) AS n0,
         CAST(t.n AS DOUBLE) / a.k AS mbar
  FROM agg a CROSS JOIN tot t
),
ms AS (
  SELECT k, n, mbar, n0,
         ssb / (k - 1) AS msb,
         ssw / (n - k) AS msw
  FROM mo
)
SELECT k AS n_clusters, n AS n_orders,
       ROUND(mbar, 6) AS mean_cluster_size,
       ROUND(n0, 6) AS n0,
       ROUND((msb - msw) / (msb + (n0 - 1) * msw), 9) AS icc,
       ROUND(1.0 + (mbar - 1)
                   * ((msb - msw) / (msb + (n0 - 1) * msw)), 9)
         AS design_effect
FROM ms
""",
)
def eval_ab_cluster_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-RANDOMIZATION diagnostic: the intraclass correlation of
    order value within customer (one-way random-effects ANOVA
    estimator with the unequal-cluster-size n₀ correction) and the
    resulting DESIGN EFFECT 1 + (m̄−1)·ICC — the variance-inflation
    number that says how much a customer-randomized experiment
    analyzed at ORDER grain under-counts its variance (the
    unit-of-analysis error every platform hits when metrics live at a
    finer grain than the randomization unit).

    Cross-engine exactness: y is integer cents; Σy² and per-cluster
    S_c² are DECIMAL(38,0); the per-cluster S_c²/n_c terms are
    INTEGER-DIVIDED before summation (order-free, deterministic — the
    ≤1-unit-per-cluster floor bias is ~1e-14 relative here and
    documented, vs a nondeterministic float summation order); the ICC
    and design effect are short single-row double expressions at 9 dp.

    Scale shape: one grouped agg to customer grain + one grand agg,
    both with map-side partials; moments meet in a one-row cross
    join — nothing after the two aggs exceeds a handful of rows."""
    from ..operators.dedup import hash_int60 as _h  # noqa: F401 (family)

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("y"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per_c = o.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("y").cast("long").alias("s_c"),
    )
    tot = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("g"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("yy"),
    )
    agg = per_c.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.expr(
                "CAST((CAST(s_c AS DECIMAL(38,0)) * CAST(s_c AS"
                " DECIMAL(38,0))) div n_c AS DECIMAL(38,0))"
            )
        ).alias("sb_int"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("long").alias("nn2"),
    )
    mo = agg.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        (
            F.col("sb_int").cast("double")
            - F.col("g").cast("double") * F.col("g").cast("double")
            / F.col("n")
        ).alias("ssb"),
        (F.col("yy").cast("double") - F.col("sb_int").cast("double")).alias(
            "ssw"
        ),
        (
            (F.col("n").cast("double") - F.col("nn2").cast("double") / F.col("n"))
            / (F.col("k") - 1)
        ).alias("n0"),
        (F.col("n").cast("double") / F.col("k")).alias("mbar"),
    )
    ms = mo.select(
        "k",
        "n",
        "mbar",
        "n0",
        (F.col("ssb") / (F.col("k") - 1)).alias("msb"),
        (F.col("ssw") / (F.col("n") - F.col("k"))).alias("msw"),
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("n0") - 1) * F.col("msw")
    )
    return ms.select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_orders"),
        F.round(F.col("mbar"), 6).alias("mean_cluster_size"),
        F.round(F.col("n0"), 6).alias("n0"),
        F.round(icc, 9).alias("icc"),
        F.round(F.lit(1.0) + (F.col("mbar") - 1) * icc, 9).alias(
            "design_effect"
        ),
    )


_HTE_CUT = "2024-01-08"  # pre-period = week 1 (the eval_att_stratified pin)
_HTE_BUCKETS = 10


@register(
    "eval_ab_hte_deciles",
    tags=("eval", "ab", "hte", "heterogeneity", "deciles"),
    oracle=f"""
WITH u AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '{_HTE_CUT}') AS n_pre,
         CAST(COALESCE(SUM({_SQL_CENTS})
              FILTER (WHERE ts >= TIMESTAMP '{_HTE_CUT}'
                        AND event_type = 'purchase'), 0) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
rk AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY n_pre, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM u
),
dec AS (
  SELECT CAST(((rn - 1) * {_HTE_BUCKETS}) // n AS INTEGER) AS decile,
         variant, y
  FROM rk
),
m AS (
  SELECT decile,
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS s_c,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS s_t,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS q_c,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS q_t
  FROM dec GROUP BY decile
),
v AS (
  SELECT decile, n_c, n_t,
         CASE WHEN n_c > 0 THEN s_c / n_c END AS mc,
         CASE WHEN n_t > 0 THEN s_t / n_t END AS mt,
         CASE WHEN n_c > 1
              THEN (q_c - s_c * s_c / n_c) / (n_c - 1) END AS vc,
         CASE WHEN n_t > 1
              THEN (q_t - s_t * s_t / n_t) / (n_t - 1) END AS vt
  FROM m
)
SELECT decile, n_c AS n_control, n_t AS n_treatment,
       ROUND(mc / 100, 6) AS mean_control,
       ROUND(mt / 100, 6) AS mean_treatment,
       ROUND((mt - mc) / 100, 6) AS effect,
       CASE WHEN vc IS NOT NULL AND vt IS NOT NULL
             AND vt / n_t + vc / n_c > 0
            THEN ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6)
       END AS t_stat
FROM v
ORDER BY decile
""",
)
def eval_ab_hte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HETEROGENEOUS-treatment-effect readout by PRE-EXPOSURE decile —
    the platform's first HTE exploration, no fitted model required:
    users are ranked by a pre-period covariate (week-1 event count,
    the `eval_att_stratified` cutoff) into 10 EXACT integer deciles
    ((rn−1)·10 div n over a deterministic (covariate, user_id) order —
    not engine NTILE, whose remainder placement differs), and the
    Welch effect on post-period purchase cents is reported per decile.
    A flat effect column says ship-to-all; a monotone one says target.
    Pre-period covariates are treatment-independent by construction,
    so conditioning on them cannot introduce post-treatment bias.

    Exactness: covariate ranks and decile boundaries are pure integer
    arithmetic; per-decile moments are the panel's exact
    decimal-quantized six-moment rows; the only doubles are the final
    per-decile means/t.  SMALL-CELL GUARD: a decile side with < 1
    user yields NULL means, < 2 users or zero pooled variance yields
    NULL t — identical CASE pins in both engines (at sf0.001 the
    15-user universe exercises every guard).

    Scale shape: ONE pass over events to user grain (conditional
    aggregates — no self-join for pre/post); the global covariate rank
    is the BUCKETED exact rank (operators/ranking.bucketed_global_rank
    — an n-way partitioned sort plus two bounded driver round-trips,
    the win_ntile_deciles discipline, never a single-partition
    window); one 10-group moment agg with map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    from .ab_testing import _cents, _dec

    u = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < F.lit(_HTE_CUT).cast("timestamp"), 1))
        .alias("n_pre"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("ts") >= F.lit(_HTE_CUT).cast("timestamp"))
                    & (F.col("event_type") == "purchase"),
                    _cents(),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("y"),
    ).withColumn("variant", _variant())
    from ..operators.ranking import bucketed_global_rank

    ranked, n_rows = bucketed_global_rank(
        u, ["n_pre", "user_id"], rank_col="rn"
    )
    dec = ranked.select(
        F.expr(
            f"CAST(((rn - 1) * {_HTE_BUCKETS}) div {n_rows} AS INT)"
        ).alias("decile"),
        "variant",
        "y",
    )
    y = F.col("y")
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = dec.groupBy("decile").agg(
        F.count(F.when(is_c, 1)).alias("n_c"),
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.coalesce(F.sum(F.when(is_c, y)), F.lit(0))
        .cast("double")
        .alias("s_c"),
        F.coalesce(F.sum(F.when(is_t, y)), F.lit(0))
        .cast("double")
        .alias("s_t"),
        F.coalesce(F.sum(F.when(is_c, _dec(y) * _dec(y))), F.lit(0))
        .cast("double")
        .alias("q_c"),
        F.coalesce(F.sum(F.when(is_t, _dec(y) * _dec(y))), F.lit(0))
        .cast("double")
        .alias("q_t"),
    )
    v = m.select(
        "decile",
        "n_c",
        "n_t",
        F.when(F.col("n_c") > 0, F.col("s_c") / F.col("n_c")).alias("mc"),
        F.when(F.col("n_t") > 0, F.col("s_t") / F.col("n_t")).alias("mt"),
        F.when(
            F.col("n_c") > 1,
            (F.col("q_c") - F.col("s_c") * F.col("s_c") / F.col("n_c"))
            / (F.col("n_c") - F.lit(1)),
        ).alias("vc"),
        F.when(
            F.col("n_t") > 1,
            (F.col("q_t") - F.col("s_t") * F.col("s_t") / F.col("n_t"))
            / (F.col("n_t") - F.lit(1)),
        ).alias("vt"),
    )
    vv = F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")
    return v.select(
        "decile",
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(F.col("mc") / 100, 6).alias("mean_control"),
        F.round(F.col("mt") / 100, 6).alias("mean_treatment"),
        F.round((F.col("mt") - F.col("mc")) / 100, 6).alias("effect"),
        F.when(
            F.col("vc").isNotNull() & F.col("vt").isNotNull() & (vv > 0),
            F.round((F.col("mt") - F.col("mc")) / F.sqrt(vv), 6),
        ).alias("t_stat"),
    ).orderBy("decile")


@register(
    "eval_ab_sequential_panel",
    tags=("eval", "ab", "sequential", "decision", "panel"),
    oracle=f"""
WITH {_SQL_DAILY_MOMENTS},
tr AS (
  SELECT d,
         ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
         ROUND((mt - mc) / 100, 6) AS theta_hat,
         (vt / n_t + vc / n_c) / 10000 AS vv,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS look_idx,
         CAST(COUNT(*) OVER () AS INTEGER) AS n_looks
  FROM v
),
obf AS (
  SELECT d, t_stat, look_idx, n_looks,
         ABS(t_stat) >= ROUND({_OBF_Z}
           / SQRT(CAST(look_idx AS DOUBLE) / n_looks), 6) AS eff_stop
  FROM tr
),
futarg AS (
  SELECT d, t_stat, look_idx, n_looks,
         CASE WHEN look_idx >= n_looks THEN NULL
              ELSE ROUND((t_stat / SQRT(CAST(look_idx AS DOUBLE) / n_looks)
                          - {_OBF_Z})
                         / SQRT(1.0 - CAST(look_idx AS DOUBLE) / n_looks),
                         6)
         END AS cp_arg
  FROM tr
),
fut AS (
  SELECT d, t_stat, look_idx, n_looks,
         CASE WHEN cp_arg IS NULL
              THEN CASE WHEN t_stat > {_OBF_Z} THEN 1.0 ELSE 0.0 END
              ELSE ROUND({_sql_phi_cdf("cp_arg")}, 9)
         END AS cp_trend
  FROM futarg
),
lnl AS (
  SELECT d,
         CASE WHEN vv <= 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(
                (0.5 * LN(vv / (vv + {_MSPRT_TAU2}))
                 + (theta_hat * theta_hat) * {_MSPRT_TAU2}
                   / ((2 * vv) * (vv + {_MSPRT_TAU2})))
                * 1000000000, 0) AS BIGINT)
         END AS lnl_nano
  FROM tr
),
msp AS (
  SELECT d,
         ROUND(LEAST(1.0,
               EXP(-(CAST(MAX(lnl_nano) OVER (ORDER BY d) AS DOUBLE)
                     / 1000000000))), 9) AS p_av
  FROM lnl
),
firsts AS (
  SELECT
    MIN(CASE WHEN o.eff_stop THEN o.d END) AS first_efficacy_d,
    MIN(CASE WHEN f.cp_trend < {_FUT_GAMMA}e0 THEN f.d END)
      AS first_futility_d,
    MIN(CASE WHEN m.p_av <= {_MSPRT_ALPHA} THEN m.d END)
      AS first_msprt_d,
    MAX_BY(o.t_stat, o.d) AS final_t_stat,
    MAX_BY(f.cp_trend, f.d) AS final_cp,
    MAX_BY(m.p_av, m.d) AS final_p_always_valid,
    CAST(MAX(o.n_looks) AS INTEGER) AS n_looks
  FROM obf o JOIN fut f ON f.d = o.d JOIN msp m ON m.d = o.d
)
SELECT n_looks, first_efficacy_d, first_futility_d, first_msprt_d,
       final_t_stat, final_cp, final_p_always_valid,
       CASE WHEN first_efficacy_d IS NOT NULL
             AND (first_futility_d IS NULL
                  OR first_efficacy_d <= first_futility_d)
            THEN 'stop_efficacy'
            WHEN first_futility_d IS NOT NULL THEN 'stop_futility'
            WHEN ABS(final_t_stat) > {_OBF_Z}
            THEN 'significant_at_horizon'
            ELSE 'no_effect'
       END AS decision
FROM firsts
""",
)
def eval_ab_sequential_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEQUENTIAL DECISION PANEL — the one-row summary a platform
    renders above the trajectories: first-crossing days of the OBF
    efficacy boundary, the conditional-power futility rule, and the
    always-valid mSPRT rejection, the final-look statistics, and the
    combined committee decision (efficacy-before-futility wins;
    otherwise futility stops; otherwise the fixed-horizon test
    decides).  Composes the three registered trajectories —
    ``eval_ab_obf_spending``, ``eval_ab_futility_power``,
    ``eval_ab_msprt`` — whose oracles each pin the shared expressions
    this panel re-aggregates.

    Exactness: every crossing flag compares already-quantized values
    (the trajectories' own 6/9-dp pins); the first-crossing days are
    MIN over dates; the final-look picks are MAX_BY on the calendar
    key.

    Scale shape: the three trajectory frames each inherit
    ``_daily_cum_moments`` (one (user, day) pass each — a production
    deployment would stage the moments once; the bench cost is three
    day-grain pipelines); the panel join and aggregate run over ≤
    days rows."""
    obf = eval_ab_obf_spending(spark, sf_dir).select(
        "d", "t_stat", "stop_obf", "n_looks"
    )
    fut = eval_ab_futility_power(spark, sf_dir).select(
        "d", F.col("cp_trend"), F.col("futility_stop")
    )
    ms = eval_ab_msprt(spark, sf_dir).select(
        "d", F.col("p_always_valid"), F.col("rejected")
    )
    joined = obf.join(fut, "d").join(ms, "d")
    firsts = joined.agg(
        F.min(F.when(F.col("stop_obf"), F.col("d"))).alias(
            "first_efficacy_d"
        ),
        F.min(F.when(F.col("futility_stop"), F.col("d"))).alias(
            "first_futility_d"
        ),
        F.min(F.when(F.col("rejected"), F.col("d"))).alias(
            "first_msprt_d"
        ),
        F.max_by("t_stat", "d").alias("final_t_stat"),
        F.max_by("cp_trend", "d").alias("final_cp"),
        F.max_by("p_always_valid", "d").alias("final_p_always_valid"),
        F.max("n_looks").cast("int").alias("n_looks"),
    )
    eff, futd = F.col("first_efficacy_d"), F.col("first_futility_d")
    decision = (
        F.when(
            eff.isNotNull() & (futd.isNull() | (eff <= futd)),
            "stop_efficacy",
        )
        .when(futd.isNotNull(), "stop_futility")
        .when(
            F.abs(F.col("final_t_stat")) > F.lit(_OBF_Z),
            "significant_at_horizon",
        )
        .otherwise("no_effect")
    )
    return firsts.select(
        "n_looks",
        "first_efficacy_d",
        "first_futility_d",
        "first_msprt_d",
        "final_t_stat",
        "final_cp",
        "final_p_always_valid",
        decision.alias("decision"),
    )
