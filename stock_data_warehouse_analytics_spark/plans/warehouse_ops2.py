"""Warehouse-ops batch 2: robust statistics, skew diagnostics, bloom
membership, recursive-CTE calendar spine, RFM segmentation, and
weighted priority sampling.

Scale stance (each query's docstring has specifics): every plan is
shuffle-minimal (one hash shuffle per grouping), broadcasts only
bounded sides (quantile cut tables, bloom bit tables, one-row bounds),
and keeps all hot-path expressions JVM-side.  Quantiles come from the
bounded-memory exact-quantile operator (``operators/ranking``), never
from an unbounded ``percentile`` buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import hash_int60
from ..operators.ranking import grouped_exact_quantiles
from ..sources.tables import load_table, register_views
from .exact import (
    davg,
    dstddev_samp,
    dsum,
    sql_davg,
    sql_dstddev_samp,
    sql_dsum,
)
from .registry import register

# DuckDB mirror of operators.dedup.hash_int60
_SQL_H60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


# Squared second moment for LARGE-magnitude columns (price ~1e5): the
# double product x*x (~1e10) has ulp ≈ 2e-6, WIDER than the scale-6
# decimal boundary spacing (5e-7), so casting the double square to
# decimal rounds differently across engines (exact.py's scale note).
# Fix: cast x to decimal FIRST (boundary 5e-7 >> x's ulp 1.5e-11 —
# unambiguous), then square in exact decimal arithmetic.
def _dsq_sum(col: str):
    xd = F.col(col).cast("decimal(12,6)")
    # decimal -> string -> double: the digit string is exact on both
    # engines and string->double parse is correctly rounded on both;
    # a direct decimal->double cast of a >17-significant-digit sum
    # rounds differently (DuckDB int128/10^s division vs JVM BigDecimal).
    return F.sum((xd * xd).cast("decimal(28,12)")).cast("string").cast("double")


def _sql_dsq_sum(x: str) -> str:
    # operands widened to DECIMAL(19,6) on the DuckDB side only: width
    # ≤18 decimals multiply in int64 there and overflow; 19 forces
    # int128.  The VALUES are identical to Spark's (12,6)×(12,6) path —
    # both are exact integer arithmetic on the same 6-decimal inputs.
    return (
        f"CAST(CAST(SUM(CAST(CAST({x} AS DECIMAL(19,6)) * CAST({x} AS DECIMAL(19,6))"
        f" AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    )


def _dstd_money(col: str):
    s = dsum(col)
    m2 = _dsq_sum(col)
    n = F.count(F.col(col))
    return F.sqrt((m2 - s * s / n) / (n - F.lit(1)))


def _sql_dstd_money(x: str) -> str:
    s = sql_dsum(x)
    m2 = _sql_dsq_sum(x)
    n = f"COUNT({x})"
    return f"SQRT((({m2}) - ({s}) * ({s}) / ({n})) / (({n}) - 1))"


@register(
    "olap_winsorized_stats",
    tags=("warehouse", "robust", "percentile", "agg"),
    oracle=f"""
WITH cuts AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
         ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS hi
  FROM lineitem GROUP BY l_returnflag
),
c AS (
  SELECT l.l_returnflag,
         l.l_extendedprice AS x,
         LEAST(GREATEST(l.l_extendedprice, cuts.lo), cuts.hi) AS wx
  FROM lineitem l JOIN cuts USING (l_returnflag)
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       {sql_davg('x')} AS raw_mean,
       {sql_davg('wx')} AS wins_mean,
       {_sql_dstd_money('x')} AS raw_std,
       {_sql_dstd_money('wx')} AS wins_std
FROM c
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def olap_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) mean and std per return flag next to
    the raw moments — the robust-statistics companion to the MAD
    anomaly rule: how much of the group's variance is tail.  Cut points
    from the session-staged exact-quantile panel
    (plans/quantile_store.py — one bounded-memory bucketed-rank pass
    shared with the percentile/audit/MAD family, broadcast back as a
    3-row table, rounded to 6 dp on both engines so the clip picks
    identical values); clipping is pure LEAST/GREATEST codegen; moments
    via exact decimal sums.  The 2-column projection feeds multiple
    passes — each a fresh COLUMNAR RESCAN with pushdown rather than a
    localCheckpoint: measured at sf0.1 the checkpoint write costs more
    than the rescans it saves (cold call 7.7 → 3.8 s, steady state
    equal), and at 100 TB materializing a 2-column copy of lineitem is
    strictly worse than re-reading the pruned parquet stripes."""
    from .quantile_store import quantile_panel

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    cuts = quantile_panel(
        spark, sf_dir, "lineitem", "l_returnflag", "l_extendedprice"
    ).select(
        "l_returnflag", F.round("q05", 6).alias("lo"), F.round("q95", 6).alias("hi")
    )
    x = F.col("l_extendedprice")
    wx = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .select("l_returnflag", x.alias("x"), wx.alias("wx"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            davg("x").alias("raw_mean"),
            davg("wx").alias("wins_mean"),
            _dstd_money("x").alias("raw_std"),
            _dstd_money("wx").alias("wins_std"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "dq_key_skew_profile",
    tags=("warehouse", "dq", "skew", "profile"),
    oracle="""
WITH c AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
cc AS (
  SELECT cnt, COUNT(*) AS k FROM c GROUP BY cnt
),
t AS (
  SELECT cnt, k,
         CAST(SUM(k) OVER (ORDER BY cnt) AS BIGINT) AS cum,
         CAST(SUM(k) OVER () AS BIGINT) AS total,
         CAST(SUM(cnt * k) OVER () AS BIGINT) AS n_rows
  FROM cc
)
SELECT MAX(total) AS n_keys,
       MAX(n_rows) AS n_rows,
       MIN(cnt) AS min_cnt,
       MIN(CASE WHEN cum * 2 >= total THEN cnt END) AS p50_cnt,
       MIN(CASE WHEN cum * 10 >= total * 9 THEN cnt END) AS p90_cnt,
       MIN(CASE WHEN cum * 100 >= total * 99 THEN cnt END) AS p99_cnt,
       MAX(cnt) AS max_cnt,
       CAST(MAX(cnt) AS DOUBLE)
         / (CAST(MAX(n_rows) AS DOUBLE) / CAST(MAX(total) AS DOUBLE))
         AS skew_ratio
FROM t
""",
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic — the profile you run BEFORE
    picking a salting factor (operators/skew.py): per-key row counts
    summarized as a count-of-counts distribution.  The quantiles are
    computed on the COUNT-OF-COUNTS table (one row per distinct
    frequency — bounded far below key cardinality at any scale), so the
    only unpartitioned window runs over that bounded table; quantile
    positions use integer cum·N comparisons (no float thresholds).
    skew_ratio = max/mean count — >10 means salt the key."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    cc = c.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    w_ord = Window.orderBy("cnt").rangeBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    t = cc.select(
        "cnt",
        F.sum("k").over(w_ord).alias("cum"),
        F.sum("k").over(w_all).alias("total"),
        F.sum(F.col("cnt") * F.col("k")).over(w_all).alias("n_rows"),
    )
    return t.agg(
        F.max("total").alias("n_keys"),
        F.max("n_rows").alias("n_rows"),
        F.min("cnt").alias("min_cnt"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("cnt"))).alias(
            "p50_cnt"
        ),
        F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("cnt"))).alias(
            "p90_cnt"
        ),
        F.min(F.when(F.col("cum") * 100 >= F.col("total") * 99, F.col("cnt"))).alias(
            "p99_cnt"
        ),
        F.max("cnt").alias("max_cnt"),
        (
            F.max("cnt").cast("double")
            / (F.max("n_rows").cast("double") / F.max("total").cast("double"))
        ).alias("skew_ratio"),
    )


_BLOOM_M = 8192  # bits
_BLOOM_K = 4  # hash functions


@register(
    "sketch_bloom_membership",
    tags=("sketch", "bloom", "join", "mergeable"),
    oracle=f"""
WITH build AS (
  SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
),
bits AS (
  SELECT DISTINCT {_SQL_H60.format(x="CAST(key AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)")} % {_BLOOM_M} AS pos
  FROM build CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i)
),
probe AS (
  SELECT c_custkey AS key FROM customer
),
probe_pos AS (
  SELECT key, i.i,
         {_SQL_H60.format(x="CAST(key AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)")} % {_BLOOM_M} AS pos
  FROM probe CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i)
),
verdict AS (
  SELECT p.key,
         CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) = {_BLOOM_K}
           AS bloom_pos,
         MAX(CASE WHEN bu.key IS NOT NULL THEN 1 ELSE 0 END) = 1 AS truth
  FROM probe_pos p
  LEFT JOIN bits b USING (pos)
  LEFT JOIN build bu ON bu.key = p.key
  GROUP BY p.key
)
SELECT (SELECT COUNT(*) FROM build) AS n_build,
       COUNT(*) AS n_probe,
       CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos,
       CAST(SUM(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN bloom_pos AND NOT truth THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM verdict
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Bloom filter ({_BLOOM_M} bits, k={_BLOOM_K} md5-derived
    positions) — the mergeable membership sketch behind semi-join
    pushdown and runtime row filters: build the bit table from urgent
    customers' keys, probe every customer, and report bloom-positive vs
    exact-semi-join truth (false positives included — the honest
    number).  The bit table is ≤ m rows (bounded by the filter SIZE,
    not the data), so it broadcasts at any scale; build and probe are
    map-side hash arithmetic + one broadcast join; k positions per key
    via a 4-element explode.  Union-merging two filters = UNION of bit
    tables."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    idx = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("i")

    def pos_col():
        return (
            hash_int60(
                F.concat(
                    F.col("key").cast("string"), F.lit("|"), F.col("i").cast("string")
                )
            )
            % _BLOOM_M
        ).alias("pos")

    build = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bits = build.select("key", idx).select(pos_col()).distinct()
    probe_pos = cust.select(F.col("c_custkey").alias("key"), idx).select(
        "key", "i", pos_col()
    )
    verdict = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .join(
            F.broadcast(build.withColumn("truth_hit", F.lit(1))), "key", "left"
        )
        .groupBy("key")
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == _BLOOM_K).alias("bloom_pos"),
            (F.max(F.coalesce(F.col("truth_hit"), F.lit(0))) == 1).alias("truth"),
        )
    )
    n_build = build.count()
    return verdict.agg(
        F.lit(n_build).cast("long").alias("n_build"),
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0)).alias("n_bloom_pos"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("bloom_pos") & ~F.col("truth"), 1).otherwise(0)).alias(
            "n_false_pos"
        ),
    )


@register(
    "sql_recursive_cte",
    tags=("sql-api", "recursive", "calendar", "gap-fill"),
    oracle="""
WITH RECURSIVE days(d) AS (
  SELECT DATE '1997-01-01'
  UNION ALL
  SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days WHERE d < DATE '1997-03-31'
)
SELECT days.d AS day,
       COUNT(o.o_orderkey) AS n_orders
FROM days LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = days.d
GROUP BY days.d
ORDER BY days.d
""",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4) generating a 90-day calendar
    spine, left-joined to orders so no-order days surface as zero — the
    pure-SQL face of events_daily_gapfill.  Recursion depth is the
    SPINE length (bounded by the date range, not the data), well under
    Spark's 100-level default; the join against the fact stays a hash
    join with the 90-row spine broadcast.  DuckDB runs the same
    recursive text modulo interval spelling."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
WITH RECURSIVE days(d) AS (
  SELECT DATE '1997-01-01'
  UNION ALL
  SELECT CAST(d + INTERVAL '1' DAY AS DATE) FROM days WHERE d < DATE '1997-03-31'
)
SELECT days.d AS day,
       COUNT(o.o_orderkey) AS n_orders
FROM days LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = days.d
GROUP BY days.d
ORDER BY days.d
"""
    )


_RFM_QS = [("q20", 0.2), ("q40", 0.4), ("q60", 0.6), ("q80", 0.8)]


def _sql_rfm_score(x: str, cuts: str) -> str:
    return (
        f"1 + (CASE WHEN {x} > {cuts}_q20 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {x} > {cuts}_q40 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {x} > {cuts}_q60 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {x} > {cuts}_q80 THEN 1 ELSE 0 END)"
    )


@register(
    "behavior_rfm_segments",
    tags=("behavioral", "rfm", "segmentation", "percentile"),
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
rfm AS (
  SELECT user_id,
         CAST(date_diff('day', MAX(ts), (SELECT max_ts FROM mx)) AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         {sql_dsum('value')} AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
cuts AS (
  SELECT ROUND(quantile_cont(recency_days, 0.2), 6) AS r_q20,
         ROUND(quantile_cont(recency_days, 0.4), 6) AS r_q40,
         ROUND(quantile_cont(recency_days, 0.6), 6) AS r_q60,
         ROUND(quantile_cont(recency_days, 0.8), 6) AS r_q80,
         ROUND(quantile_cont(frequency, 0.2), 6) AS f_q20,
         ROUND(quantile_cont(frequency, 0.4), 6) AS f_q40,
         ROUND(quantile_cont(frequency, 0.6), 6) AS f_q60,
         ROUND(quantile_cont(frequency, 0.8), 6) AS f_q80,
         ROUND(quantile_cont(monetary, 0.2), 6) AS m_q20,
         ROUND(quantile_cont(monetary, 0.4), 6) AS m_q40,
         ROUND(quantile_cont(monetary, 0.6), 6) AS m_q60,
         ROUND(quantile_cont(monetary, 0.8), 6) AS m_q80
  FROM rfm
),
scored AS (
  SELECT 6 - ({_sql_rfm_score('recency_days', 'r')}) AS r_score,
         {_sql_rfm_score('frequency', 'f')} AS f_score,
         {_sql_rfm_score('monetary', 'm')} AS m_score,
         monetary
  FROM rfm CROSS JOIN cuts
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_users,
       {sql_dsum('monetary')} AS segment_monetary
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
)
def behavior_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic behavioral-warehouse rollup: per-user purchase recency,
    count, and spend, each scored 1–5 against global quintile cuts
    (recency inverted: recent = 5), then segment-level population and
    spend.  Cuts come from the bounded-memory exact-quantile operator
    on the per-user table and broadcast back as ONE row; scoring is
    pure codegen comparisons.  Two shuffles total (user rollup + 125-
    bucket segment rollup) at any scale."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    max_ts = e.agg(F.max("ts").alias("max_ts"))
    rfm = (
        e.crossJoin(F.broadcast(max_ts))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("max_ts"), F.max("ts")).cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("value").alias("monetary"),
        )
    )
    # the quantile helper fires multiple jobs (counts, rank);
    # persist the per-user rollup so each job reuses it instead of
    # re-running the events scan + aggregation (the rollup is the
    # aggregated table — orders of magnitude smaller than the facts)
    rfm = rfm.persist()
    # ONE quantile pass for all three metrics: stack (metric, val) long,
    # let the helper's native multi-group path compute 12 cuts in a
    # single count+rank round trip (three separate calls measured 7.1s
    # at sf0.1; stacked: ~3s), then pivot the 3-row cut table wide.
    stacked = rfm.select(
        F.explode(
            F.create_map(
                F.lit("r"), F.col("recency_days").cast("double"),
                F.lit("f"), F.col("frequency").cast("double"),
                F.lit("m"), F.col("monetary").cast("double"),
            )
        ).alias("metric", "val")
    )
    qt = grouped_exact_quantiles(stacked, "metric", "val", _RFM_QS)
    cuts = (
        qt.groupBy(F.lit(1).alias("_one"))
        .pivot("metric", ["r", "f", "m"])
        .agg(*[F.round(F.first(lbl), 6).alias(lbl) for lbl, _ in _RFM_QS])
    )
    rfm = rfm.withColumn("_one", F.lit(1))

    def score(x: str, dim: str):
        s = F.lit(1)
        for lbl, _ in _RFM_QS:
            s = s + F.when(F.col(x) > F.col(f"{dim}_{lbl}"), 1).otherwise(0)
        return s

    scored = rfm.join(F.broadcast(cuts), "_one").select(
        (F.lit(6) - score("recency_days", "r")).alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            dsum("monetary").alias("segment_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_PRIORITY_K = 100


@register(
    "sample_weighted_priority",
    tags=("llm", "sampling", "weighted", "topk"),
    oracle=f"""
WITH pri AS (
  SELECT doc_id, n_chars,
         CAST(n_chars AS DOUBLE)
           / (CAST(({_SQL_H60.format(x="CAST(doc_id AS VARCHAR)")} % 2147483647) + 1 AS DOUBLE)
              / 2147483648.0e0) AS priority
  FROM documents
)
SELECT doc_id, n_chars, priority
FROM pri
ORDER BY priority DESC, doc_id
LIMIT {_PRIORITY_K}
""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): weight-proportional
    sample without replacement — each doc gets priority w/u with u a
    deterministic hash-uniform, the top-k win.  Unlike naive weighted
    Bernoulli this yields a FIXED-size sample with unbiased subset-sum
    estimators (estimate = max(w, τ) for the k winners, τ = (k+1)-th
    priority).  u = (h%p + 1)/2^31 is exactly representable and the
    single division is IEEE-identical cross-engine — no transcendentals
    (an Efraimidis-Spirakis u^(1/w) key would hit libm pow drift).
    Top-k is TakeOrdered (no global sort materialization); weights
    here = n_chars (longer docs proportionally likelier — the corpus-
    sampling default)."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (hash_int60(F.col("doc_id").cast("string")) % 2147483647) + 1
    ).cast("double") / F.lit(2147483648.0)
    return (
        docs.select(
            "doc_id",
            "n_chars",
            (F.col("n_chars").cast("double") / u).alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(_PRIORITY_K)
    )
