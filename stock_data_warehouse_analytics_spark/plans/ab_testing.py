"""A/B experimentation family: Welch's t-test, sample-ratio-mismatch
(SRM) chi-square check, and CUPED variance reduction.

The reference repo computes per-group summary statistics and spike
studies (``datamining_analysis.py``, ``olap_analysis.py``); this module
is the controlled-experiment face of the same moment machinery — the
three queries every experimentation warehouse runs on event logs:

* ``eval_ab_welch_ttest`` — unequal-variance two-sample t on a
  user-level metric (the deflection test),
* ``eval_ab_srm_check`` — chi-square sample-ratio-mismatch guard (a
  broken randomizer invalidates every downstream readout),
* ``eval_ab_cuped_adjust`` — CUPED (Deng et al., WSDM 2013): pre-period
  covariate adjustment, the industry-standard variance-reduction step.

Cross-engine exactness: the metric quantizes to integer CENTS per row
before any aggregation, so every moment is an exact BIGINT / DECIMAL
sum (order-independent); each statistic is then ONE identically-ordered
double expression over those exact moments (``plans/exact.py`` stance).
Variant assignment is the deterministic md5 int60 hash of the user key
(``operators/dedup.hash_int60``) mod 2 — reproducible on any engine,
stable under repartitioning.

Scale shape: one shuffle to the per-user grain (partial aggregation
upstream), then one-row moment aggregates broadcast back — never a
corpus-sized single partition.  At 10^9 users the per-user table is the
only large intermediate and it is hash-partitioned on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import hash_int60
from ..session import session_memo
from ..sources.tables import load_table
from .registry import register

# DuckDB mirror of operators.dedup.hash_int60
_SQL_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# per-row exact cents; value is a 2-decimal money double
_SQL_CENTS = "CAST(ROUND(value * 100, 0) AS BIGINT)"


def _cents() -> F.Column:
    return F.round(F.col("value") * 100, 0).cast("long")


def _variant() -> F.Column:
    return hash_int60(F.col("user_id").cast("string")) % 2


def _dec(c: F.Column) -> F.Column:
    """Exact product operand: cents fit decimal(19,0) at any scale."""
    return c.cast("decimal(19,0)")


_SQL_VARIANT = _SQL_H60.format(x="CAST(user_id AS VARCHAR)") + " % 2"

# ---------------------------------------------------------------------
# Shared metric store: the whole batch A/B family reads purchase cents
# at the (user, day) grain from ONE corpus scan per session — the
# metric-store pattern every experimentation platform uses (precompute
# user-grain metrics once, answer every readout from the small table).
# localCheckpointed so the bounds pass, the pooled-moment pass, and
# each query's own action never rescan the fact table.  Integer sums
# are associative, so per-day subtotals summed per user are bit-equal
# to the direct per-user sum the oracles compute.
# ---------------------------------------------------------------------


def user_day_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, d, cents): per-user-per-day purchase cents, one row
    per day the user had ANY event (so the full user universe is
    preserved; cents is null on purchase-free days).  Cached by
    ``session_memo`` (staleness contract there)."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        ud = ev.groupBy(
            "user_id", F.col("ts").cast("date").alias("d")
        ).agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", _cents())
            ).alias("cents")
        )
        return ud.localCheckpoint(eager=True)

    return session_memo(spark, ("ab_testing.user_day", sf_dir), build)


def users_total_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, y, variant): whole-period purchase cents per user —
    the Welch/MDE/z-test/QTE metric frame, derived from the shared
    (user, day) store."""
    ud = user_day_purchases(spark, sf_dir)
    return ud.groupBy("user_id").agg(
        F.coalesce(F.sum("cents"), F.lit(0)).alias("y")
    ).withColumn("variant", _variant())


def prepost_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, x, y, variant): pre/post-period purchase cents per
    user, split at the integer midpoint of the observed date span —
    the CUPED/DiD/readout-panel frame, derived from the shared
    (user, day) store (the bounds scalar reads the SMALL store, not
    the fact table)."""
    ud = user_day_purchases(spark, sf_dir)
    bounds = ud.agg(
        F.min("d").alias("mind"), F.max("d").alias("maxd")
    )
    cut = bounds.select(
        F.date_add(
            F.col("mind"),
            F.expr("datediff(maxd, mind) div 2").cast("int"),
        ).alias("cutoff")
    )
    return (
        ud.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") < F.col("cutoff"), F.col("cents"))),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.col("d") >= F.col("cutoff"), F.col("cents"))
                ),
                F.lit(0),
            ).alias("y"),
        )
        .withColumn("variant", _variant())
    )


@register(
    "eval_ab_welch_ttest",
    tags=("eval", "ab", "ttest", "experiment"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN {_SQL_CENTS} END), 0) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS s_c,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS s_t,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS q_c,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS q_t
  FROM users
),
v AS (
  SELECT n_c, n_t,
         s_c / n_c AS mc, s_t / n_t AS mt,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM m
)
SELECT n_c AS n_control, n_t AS n_treatment,
       ROUND(mc / 100, 6) AS mean_control,
       ROUND(mt / 100, 6) AS mean_treatment,
       ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6) AS t_stat,
       ROUND((vt / n_t + vc / n_c) * (vt / n_t + vc / n_c)
             / ((vt / n_t) * (vt / n_t) / (n_t - 1)
                + (vc / n_c) * (vc / n_c) / (n_c - 1)), 4) AS welch_df,
       ABS(ROUND((mt - mc) / SQRT(vt / n_t + vc / n_c), 6)) > 1.959964
         AS significant
FROM v
""",
)
def eval_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH's unequal-variance t-test between two hash-assigned
    variants on per-user purchase revenue — the deflection readout of
    every A/B platform (user-level randomization unit, so the per-user
    aggregate comes first; event-level tests are wrong under repeated
    exposure).

    Scale shape: one shuffle to the user grain (partial agg upstream),
    then a one-row six-moment aggregate — the t statistic and the
    Welch–Satterthwaite df are single double expressions over exact
    BIGINT/DECIMAL sums of integer cents, bit-stable across engines.
    The metric frame comes from the session's shared (user, day)
    metric store (:func:`users_total_metric`) — one fact scan serves
    the whole family."""
    users = users_total_metric(spark, sf_dir)
    y = F.col("y")
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = users.agg(
        F.count(F.when(is_c, 1)).alias("n_c"),
        F.count(F.when(is_t, 1)).alias("n_t"),
        F.coalesce(F.sum(F.when(is_c, y)), F.lit(0))
        .cast("double")
        .alias("s_c"),
        F.coalesce(F.sum(F.when(is_t, y)), F.lit(0))
        .cast("double")
        .alias("s_t"),
        F.coalesce(
            F.sum(F.when(is_c, _dec(y) * _dec(y))), F.lit(0)
        )
        .cast("double")
        .alias("q_c"),
        F.coalesce(
            F.sum(F.when(is_t, _dec(y) * _dec(y))), F.lit(0)
        )
        .cast("double")
        .alias("q_t"),
    )
    v = m.select(
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
    se2 = F.col("vt") / F.col("n_t") + F.col("vc") / F.col("n_c")
    t_stat = F.round((F.col("mt") - F.col("mc")) / F.sqrt(se2), 6)
    return v.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(F.col("mc") / 100, 6).alias("mean_control"),
        F.round(F.col("mt") / 100, 6).alias("mean_treatment"),
        t_stat.alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                (F.col("vt") / F.col("n_t"))
                * (F.col("vt") / F.col("n_t"))
                / (F.col("n_t") - F.lit(1))
                + (F.col("vc") / F.col("n_c"))
                * (F.col("vc") / F.col("n_c"))
                / (F.col("n_c") - F.lit(1))
            ),
            4,
        ).alias("welch_df"),
        (F.abs(t_stat) > F.lit(1.959964)).alias("significant"),
    )


@register(
    "eval_ab_srm_check",
    tags=("eval", "ab", "srm", "dq"),
    oracle=f"""
WITH assigned AS (
  SELECT DISTINCT user_id, {_SQL_VARIANT} AS variant FROM events
),
c AS (
  SELECT COUNT(*) FILTER (WHERE variant = 0) AS n_c,
         COUNT(*) FILTER (WHERE variant = 1) AS n_t
  FROM assigned
),
e AS (
  SELECT n_c, n_t, CAST(n_c + n_t AS DOUBLE) / 2 AS expd FROM c
)
SELECT n_c AS n_control, n_t AS n_treatment,
       expd AS expected_each,
       ROUND(((n_c - expd) * (n_c - expd)
              + (n_t - expd) * (n_t - expd)) / expd, 6) AS chi2,
       ROUND(((n_c - expd) * (n_c - expd)
              + (n_t - expd) * (n_t - expd)) / expd, 6) > 3.841459
         AS srm_detected
FROM e
""",
)
def eval_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guard: chi-square test of the observed
    variant split against the designed 50/50 — the first gate every
    experiment readout must pass (a skewed randomizer biases every
    metric; Fabijan et al. call SRM the most common experiment bug).

    Scale shape: distinct-user pass over the shared (user, day) metric
    store (partial agg upstream), one-row count pair, chi2 as a single
    double expression — integer counts in, deterministic double out."""
    assigned = (
        user_day_purchases(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("variant", _variant())
    )
    c = assigned.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_c"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_t"),
    )
    e = c.select(
        "n_c",
        "n_t",
        ((F.col("n_c") + F.col("n_t")).cast("double") / 2).alias("expd"),
    )
    chi2 = F.round(
        (
            (F.col("n_c") - F.col("expd")) * (F.col("n_c") - F.col("expd"))
            + (F.col("n_t") - F.col("expd"))
            * (F.col("n_t") - F.col("expd"))
        )
        / F.col("expd"),
        6,
    )
    return e.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("expd").alias("expected_each"),
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_detected"),
    )


@register(
    "eval_ab_cuped_adjust",
    tags=("eval", "ab", "cuped", "variance-reduction"),
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
pooled AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS syy
  FROM users
),
stats AS (
  SELECT sx / n AS mx,
         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
         (sxy - sx * sy / n) * (sxy - sx * sy / n)
           / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rho_sq
  FROM pooled
),
per_variant AS (
  SELECT variant, COUNT(*) AS n_users,
         CAST(SUM(y) AS DOUBLE) AS svy,
         CAST(SUM(x) AS DOUBLE) AS svx
  FROM users GROUP BY variant
)
SELECT v.variant, v.n_users,
       ROUND(v.svy / v.n_users / 100, 6) AS mean_y,
       ROUND((v.svy / v.n_users
              - s.theta * (v.svx / v.n_users - s.mx)) / 100, 6)
         AS adj_mean_y,
       ROUND(s.theta, 6) AS theta,
       ROUND(s.rho_sq, 6) AS var_reduction
FROM per_variant v, stats s
ORDER BY v.variant
""",
)
def eval_ab_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate adjustment (Deng et al., WSDM 2013): shrink the
    experiment-period metric y by theta·(x − mean(x)) where x is the
    same user's PRE-period metric — the variance-reduction step that
    lets half-sized experiments reach the same power.  theta is the
    pooled OLS slope cov(x,y)/var(x); the achievable variance reduction
    is rho² (reported).

    The pre/post cutoff is the integer midpoint of the observed date
    span (floor-division day arithmetic — scale-proof and
    oracle-exact).  Scale shape: the pre/post split comes from the
    shared (user, day) metric store (:func:`prepost_users` — the fact
    table is scanned once per session, the cutoff scalar reads the
    SMALL store), then a one-row pooled-moment aggregate broadcast back
    into the 2-row per-variant report; every moment is an exact
    BIGINT/DECIMAL sum of integer cents."""
    users = prepost_users(spark, sf_dir)
    x, y = F.col("x"), F.col("y")
    pooled = users.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(_dec(x) * _dec(y)).cast("double").alias("sxy"),
        F.sum(_dec(x) * _dec(x)).cast("double").alias("sxx"),
        F.sum(_dec(y) * _dec(y)).cast("double").alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    stats = pooled.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (cov / varx).alias("theta"),
        (cov * cov / (varx * vary)).alias("rho_sq"),
    )
    per_variant = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(y).cast("double").alias("svy"),
        F.sum(x).cast("double").alias("svx"),
    )
    return (
        per_variant.crossJoin(F.broadcast(stats))
        .select(
            "variant",
            "n_users",
            F.round(F.col("svy") / F.col("n_users") / 100, 6).alias(
                "mean_y"
            ),
            F.round(
                (
                    F.col("svy") / F.col("n_users")
                    - F.col("theta")
                    * (F.col("svx") / F.col("n_users") - F.col("mx"))
                )
                / 100,
                6,
            ).alias("adj_mean_y"),
            F.round(F.col("theta"), 6).alias("theta"),
            F.round(F.col("rho_sq"), 6).alias("var_reduction"),
        )
        .orderBy("variant")
    )


@register(
    "eval_ab_diff_in_diff",
    tags=("eval", "ab", "did", "experiment"),
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
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS sy_t
  FROM users
)
SELECT n_c AS n_control, n_t AS n_treatment,
       ROUND(sx_c / n_c / 100, 6) AS pre_control,
       ROUND(sx_t / n_t / 100, 6) AS pre_treatment,
       ROUND(sy_c / n_c / 100, 6) AS post_control,
       ROUND(sy_t / n_t / 100, 6) AS post_treatment,
       ROUND((sx_t / n_t - sx_c / n_c) / 100, 6) AS pre_gap,
       ROUND(((sy_t / n_t - sx_t / n_t)
              - (sy_c / n_c - sx_c / n_c)) / 100, 6) AS did_estimate
FROM m
""",
)
def eval_ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES readout over the same pre/post split
    CUPED uses: DiD = (post_t − pre_t) − (post_c − pre_c), plus the
    pre-period gap (the A/A randomization check — a nonzero pre_gap is
    the red flag that the cohorts were imbalanced before treatment).

    Scale shape: identical to ``eval_ab_cuped_adjust`` — the pre/post
    split reads the shared (user, day) metric store
    (:func:`prepost_users`), then a one-row six-sum report; every mean
    is a ratio of an exact BIGINT cents sum to a count, so the 2×2
    panel is bit-stable across engines."""
    users = prepost_users(spark, sf_dir)
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    x, y = F.col("x"), F.col("y")
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
    )
    mx_c = F.col("sx_c") / F.col("n_c")
    mx_t = F.col("sx_t") / F.col("n_t")
    my_c = F.col("sy_c") / F.col("n_c")
    my_t = F.col("sy_t") / F.col("n_t")
    return m.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(mx_c / 100, 6).alias("pre_control"),
        F.round(mx_t / 100, 6).alias("pre_treatment"),
        F.round(my_c / 100, 6).alias("post_control"),
        F.round(my_t / 100, 6).alias("post_treatment"),
        F.round((mx_t - mx_c) / 100, 6).alias("pre_gap"),
        F.round(((my_t - mx_t) - (my_c - mx_c)) / 100, 6).alias(
            "did_estimate"
        ),
    )


@register(
    "eval_ab_power_mde",
    tags=("eval", "ab", "power", "experiment"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_SQL_VARIANT} AS variant,
         COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN {_SQL_CENTS} END), 0) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT
    COUNT(*) FILTER (WHERE variant = 0) AS n_c,
    COUNT(*) FILTER (WHERE variant = 1) AS n_t,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 0), 0) AS DOUBLE) AS s_c,
    CAST(COALESCE(SUM(y) FILTER (WHERE variant = 1), 0) AS DOUBLE) AS s_t,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 0), 0) AS DOUBLE) AS q_c,
    CAST(COALESCE(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  FILTER (WHERE variant = 1), 0) AS DOUBLE) AS q_t
  FROM users
),
v AS (
  SELECT n_c, n_t, s_c / n_c AS mc,
         (q_c - s_c * s_c / n_c) / (n_c - 1) AS vc,
         (q_t - s_t * s_t / n_t) / (n_t - 1) AS vt
  FROM m
)
SELECT n_c AS n_control, n_t AS n_treatment,
       ROUND(SQRT(vc / n_c + vt / n_t) / 100, 6) AS se,
       ROUND(2.801585e0 * SQRT(vc / n_c + vt / n_t) / 100, 6) AS mde_abs,
       ROUND(2.801585e0 * SQRT(vc / n_c + vt / n_t) / mc, 6) AS mde_rel
FROM v
""",
)
def eval_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT at 80% power / two-sided alpha 5%:
    MDE = (z_{{0.975}} + z_{{0.80}})·SE = 2.801585·sqrt(v_c/n_c +
    v_t/n_t) — the pre-experiment sizing readout every platform shows
    next to the live t-stat (can this experiment even detect the
    effect you care about at its current traffic?).

    Scale shape: same shared metric-store user grain and one-row
    six-moment report as ``eval_ab_welch_ttest``; SE and MDE are single
    double expressions over exact BIGINT/DECIMAL moments."""
    users = users_total_metric(spark, sf_dir)
    y = F.col("y")
    is_c, is_t = F.col("variant") == 0, F.col("variant") == 1
    m = users.agg(
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
        "n_c",
        "n_t",
        (F.col("s_c") / F.col("n_c")).alias("mc"),
        (
            (F.col("q_c") - F.col("s_c") * F.col("s_c") / F.col("n_c"))
            / (F.col("n_c") - F.lit(1))
        ).alias("vc"),
        (
            (F.col("q_t") - F.col("s_t") * F.col("s_t") / F.col("n_t"))
            / (F.col("n_t") - F.lit(1))
        ).alias("vt"),
    )
    se = F.sqrt(F.col("vc") / F.col("n_c") + F.col("vt") / F.col("n_t"))
    return v.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.round(se / 100, 6).alias("se"),
        F.round(F.lit(2.801585) * se / 100, 6).alias("mde_abs"),
        F.round(F.lit(2.801585) * se / F.col("mc"), 6).alias("mde_rel"),
    )
