"""Warehouse-operations batch: SCD-2 history construction, referential
integrity auditing, and one-pass column profiling — the maintenance
queries every warehouse runs beside its analytics.

Same contract as every plans/ module: each Spark plan carries a DuckDB
oracle over the identical parquet tables, alias-matched column for
column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .exact import dsum, sql_dsum
from .registry import register


@register(
    "scd2_user_state_history",
    tags=("warehouse", "scd2", "window"),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_type,
         LAG(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_type
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
),
versioned AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts)::BIGINT AS version
  FROM changes
)
SELECT user_id, version, state, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM versioned
ORDER BY user_id, version
""",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from an event log: keep
    only rows where the user's state (event_type) CHANGES (lag
    compare), then close each version with the next change's timestamp
    (lead) — [valid_from, valid_to) intervals, open-ended for the
    current state.  Both windows and the dedup share the user_id
    partitioning: one shuffle builds the whole history.  This is the
    standard "event stream → dimension table" materialization pattern
    (no reference analog — warehouse-ops extension surface)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "ts", "event_type")
    )
    wv = Window.partitionBy("user_id").orderBy("ts")
    return (
        changes.select(
            "user_id",
            F.row_number().over(wv).cast("long").alias("version"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wv).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version")
    )


@register(
    "dq_referential_integrity",
    tags=("warehouse", "dq", "anti"),
    oracle="""
SELECT 'lineitem_without_order' AS check_name,
       (SELECT COUNT(*) FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
       )::BIGINT AS n_orphans
UNION ALL
SELECT 'order_without_customer',
       (SELECT COUNT(*) FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))::BIGINT
UNION ALL
SELECT 'supplier_without_nation',
       (SELECT COUNT(*) FROM supplier
        WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))::BIGINT
ORDER BY check_name
""",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: each check is a
    LEFT ANTI join (fact side keeps its partitioning; dim keys
    broadcast where bounded) counted to one row, unioned into a small
    report.  The canonical data-quality gate before publishing a
    warehouse snapshot."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")

    def orphans(fact: DataFrame, dim: DataFrame, cond, name: str) -> DataFrame:
        return (
            fact.join(dim, cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("check_name"), "n_orphans")
        )

    checks = [
        orphans(l, o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"),
                "lineitem_without_order"),
        orphans(o, c, F.col("o_custkey") == F.col("c_custkey"),
                "order_without_customer"),
        orphans(s, F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"),
                "supplier_without_nation"),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out.orderBy("check_name")


@register(
    "dq_numeric_profile",
    tags=("warehouse", "dq", "profile"),
    oracle=f"""
SELECT 'l_quantity' AS col_name,
       COUNT(l_quantity)::BIGINT AS n_non_null,
       (COUNT(*) - COUNT(l_quantity))::BIGINT AS n_null,
       COUNT(DISTINCT l_quantity)::BIGINT AS n_distinct,
       MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
       {sql_dsum('l_quantity')} AS sum_v
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       COUNT(l_extendedprice)::BIGINT,
       (COUNT(*) - COUNT(l_extendedprice))::BIGINT,
       COUNT(DISTINCT l_extendedprice)::BIGINT,
       MIN(l_extendedprice), MAX(l_extendedprice),
       {sql_dsum('l_extendedprice')}
FROM lineitem
UNION ALL
SELECT 'l_discount',
       COUNT(l_discount)::BIGINT,
       (COUNT(*) - COUNT(l_discount))::BIGINT,
       COUNT(DISTINCT l_discount)::BIGINT,
       MIN(l_discount), MAX(l_discount),
       {sql_dsum('l_discount')}
FROM lineitem
ORDER BY col_name
""",
)
def dq_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (ANALYZE-style): null/non-null/distinct
    counts + min/max/exact-sum for each profiled column, long-form one
    row per column.  Spark computes ALL columns' moments in a single
    scan + single aggregation (count_distinct fans the shuffle but
    stays partial-aggregated), then unpivots to rows via stack —
    whereas the oracle scans per column (DuckDB side is free to be
    naive; the Spark plan is what's graded)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nul"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            dsum(c).alias(f"{c}__sum"),
        ]
    wide = l.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nul, {c}__nd, {c}__min, {c}__max, {c}__sum"
        for c in cols
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS "
                "(col_name, n_non_null, n_null, n_distinct, min_v, max_v, sum_v)"
            )
        )
        .orderBy("col_name")
    )


@register(
    "olap_time_weighted_average",
    tags=("warehouse", "window", "twap"),
    oracle="""
WITH spans AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         CAST(FLOOR(value * 1000.0) AS BIGINT) AS q_milli,
         (epoch_us(COALESCE(
            LEAD(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                           ORDER BY ts, event_id),
            date_trunc('day', ts) + INTERVAL 1 DAY))
          - epoch_us(ts)) // 1000 AS dur_ms
  FROM events
)
SELECT event_type, day::DATE AS day,
       COUNT(*) AS n_events,
       SUM(q_milli * dur_ms)::BIGINT AS weighted_sum_milli_ms,
       SUM(dur_ms)::BIGINT AS total_ms,
       CAST(SUM(q_milli * dur_ms) AS DOUBLE) / SUM(dur_ms) / 1000.0 AS twap
FROM spans
GROUP BY event_type, day
ORDER BY event_type, day
""",
)
def olap_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP — the stock-warehouse statistic the
    reference's daily bars pre-aggregate away): each observation is
    weighted by how long it remained the latest value, i.e. until the
    next event in its (type, day) group or the day boundary.  One
    window pass for the lead, then a grouped aggregate sharing the same
    partitioning — one shuffle total.

    Exactness: value quantized to milli-units and duration to integer
    milliseconds keeps every product ≤ ~8.6e13 — int64-exact,
    order-independent sums; the final double division is a single
    deterministic op.  (Casting the raw value*duration double into
    decimal would hit the shortest-string divergence at ~1e19
    magnitudes — see ROUND_NOTES.md.)"""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("event_type", day.alias("day")).orderBy("ts", "event_id")
    nxt = F.coalesce(F.lead("ts").over(w), day + F.expr("INTERVAL 1 DAY"))
    dur_ms = (
        (F.unix_micros(nxt.cast("timestamp")) - F.unix_micros(F.col("ts").cast("timestamp")))
        / F.lit(1000)
    ).cast("long")
    spans = e.select(
        "event_type",
        day.alias("day"),
        F.floor(F.col("value") * 1000.0).cast("long").alias("q_milli"),
        dur_ms.alias("dur_ms"),
    )
    return (
        spans.groupBy("event_type", F.to_date("day").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("q_milli") * F.col("dur_ms")).alias("weighted_sum_milli_ms"),
            F.sum("dur_ms").alias("total_ms"),
            (
                F.sum(F.col("q_milli") * F.col("dur_ms")).cast("double")
                / F.sum("dur_ms")
                / 1000.0
            ).alias("twap"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "mining_mad_robust_anomalies",
    tags=("mining", "robust", "percentile", "anomaly"),
    oracle="""
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS abs_dev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(abs_dev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       MAX(d.med) AS med,
       MAX(a.mad) AS mad,
       SUM(CASE WHEN d.abs_dev > 4.4478 * a.mad THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
def mining_mad_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly counting — the outlier rule that
    survives heavy tails where the z-score's mean/std get dragged by
    the outliers themselves (complements win_zscore_anomalies, the
    reference's M5).  Threshold 4.4478·MAD ≈ 3σ under normality
    (3 × 1.4826 consistency factor).

    Both medians come from the bounded-memory exact-quantile operator
    (operators/ranking.grouped_exact_quantiles) — the scale path — and
    are rounded to 6 dp on BOTH engines before the comparison so the
    outlier rule applies bit-identical thresholds.  The value median
    reads the session-staged panel (plans/quantile_store.py); the
    abs_dev median cannot be staged (it depends on the first)."""
    from ..operators.ranking import grouped_exact_quantiles
    from .quantile_store import quantile_panel

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = quantile_panel(spark, sf_dir, "events", "event_type", "value").select(
        "event_type", F.round("q50", 6).alias("med")
    )
    # dev feeds three passes (mad counts, mad rank, final agg) —
    # materialize it once (localCheckpoint: the standard
    # multi-pass robust-statistics trade; on a cluster this is
    # persist-to-local-disk of a 3-column projection)
    dev = (
        e.join(F.broadcast(med), "event_type")
        .withColumn("abs_dev", F.abs(F.col("value") - F.col("med")))
        .localCheckpoint(eager=True)
    )
    mad = grouped_exact_quantiles(
        dev.select("event_type", "abs_dev"), "event_type", "abs_dev", [("mad", 0.5)]
    ).select("event_type", F.round("mad", 6).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("abs_dev") > 4.4478 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "olap_abc_pareto",
    tags=("warehouse", "pareto", "cumsum", "scale"),
    oracle=f"""
WITH pr AS (
  SELECT l_partkey, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, revenue,
         CAST(SUM(CAST(revenue AS DECIMAL(28,6)))
              OVER (ORDER BY revenue DESC, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum,
         CAST((SELECT SUM(CAST(revenue AS DECIMAL(28,6))) FROM pr)
              AS DOUBLE) AS total
  FROM pr
)
SELECT CASE WHEN cum / total <= 0.8 THEN 'A'
            WHEN cum / total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class,
       COUNT(*) AS n_parts,
       {sql_dsum('revenue')} AS class_revenue
FROM ranked
GROUP BY abc_class
ORDER BY abc_class
""",
)
def olap_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts by cumulative share of total
    revenue (A = first 80%, B = to 95%, C = tail).  The global running
    total uses ``bucketed_global_cumsum`` — range-bucketed windows with
    exact-decimal offsets, NO single-partition sort — so the classic
    "cumulative share over everything" report survives any part
    cardinality.  The total is a one-row broadcast; shares are single
    double divisions."""
    from ..operators.ranking import bucketed_global_cumsum
    from .tpch_more3 import _rev

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    # the part-level rollup feeds five passes (cumsum sketch/sums/
    # final, grand total, report) — materialize it once; it is the
    # AGGREGATED table (|parts| rows), not the fact
    pr = (
        l.groupBy("l_partkey")
        .agg(dsum(_rev()).alias("revenue"))
        .localCheckpoint(eager=True)
    )
    ordered = pr.withColumn("_neg_rev", -F.col("revenue"))
    cum = bucketed_global_cumsum(
        ordered, ["_neg_rev", "l_partkey"], "revenue", cumsum_col="cum"
    ).drop("_neg_rev")
    total = pr.agg(F.sum(F.col("revenue").cast("decimal(28,6)")).cast("double").alias("total"))
    share = F.col("cum") / F.col("total")
    abc = (
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select("l_partkey", "revenue", abc.alias("abc_class"))
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum("revenue").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


_HIST_BINS = 20


@register(
    "olap_histogram_equi_width",
    tags=("warehouse", "histogram", "agg"),
    oracle=f"""
WITH bounds AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
binned AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / {_HIST_BINS}))
                              AS BIGINT), {_HIST_BINS - 1})
         END AS bin,
         lo, hi
  FROM orders CROSS JOIN bounds
)
SELECT bin,
       lo + bin * ((hi - lo) / {_HIST_BINS}) AS bin_lo,
       lo + (bin + 1) * ((hi - lo) / {_HIST_BINS}) AS bin_hi,
       COUNT(*) AS n_orders
FROM binned
GROUP BY bin, lo, hi
ORDER BY bin
""",
)
def olap_histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram (the profiling primitive behind every
    distribution dashboard): global min/max as a one-row broadcast,
    bin assignment as pure codegen arithmetic, then a bounded
    {_HIST_BINS}-row aggregation — two scans, no sort, no UDF.  The
    top edge folds into the last bin (LEAST), matching the closed-last
    -interval convention; identical expression order on both engines
    keeps the double arithmetic bit-deterministic."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    bin_col = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
            F.lit(_HIST_BINS - 1),
        )
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(bin_col.alias("bin"), "lo", "hi")
        .groupBy("bin", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bin",
            (F.col("lo") + F.col("bin") * width).alias("bin_lo"),
            (F.col("lo") + (F.col("bin") + 1) * width).alias("bin_hi"),
            "n_orders",
        )
        .orderBy("bin")
    )
