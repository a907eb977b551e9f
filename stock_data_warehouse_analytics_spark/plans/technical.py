"""Technical-indicator window plans — the reference's stock-analytics
domain (datavisualization.py rolling vol / MA / spike studies) extended
to the three classic indicators every price dashboard computes: Bollinger
bands, Cutler's RSI, and a bounded-lookback EWMA.

All three are single-shuffle window plans per ``user_id`` over ``events``
(the stand-in price series: ``value`` is the tick, ``(ts, event_id)`` the
deterministic order — same series the W8/W9 rolling queries use).

100 TB design notes:
- one hash-partitioned shuffle on the series key, then every expression
  is whole-stage-codegen'd JVM arithmetic — no UDFs, no second pass;
- rolling moments use the exact-decimal trick (``plans/exact.py``)
  because the driver's oracle hash-compares values;
- the EWMA is deliberately *bounded-lookback* (the (1−α)^j tail beyond
  L=10 rows weighs < 6% here and is dropped): an unbounded EWMA is a
  sequential recurrence that cannot be a frame aggregate — the bounded
  form is a fixed-length weighted sum, embarrassingly parallel and
  exactly what you want at scale (pandas ``ewm`` parity within the
  truncation tolerance, not claimed bit-equal).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .exact import (
    davg_w,
    dstddev_samp_w,
    dsum_w,
    sql_davg_w,
    sql_dstddev_samp_w,
    sql_dsum_w,
)
from .registry import register

_W = "(PARTITION BY user_id ORDER BY ts, event_id)"
_W_ROLL20 = "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)"
_W_ROLL14 = "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)"


def _w():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


@register(
    "win_bollinger_bands",
    tags=("window", "rolling", "technical"),
    oracle=f"""
WITH m AS (
  SELECT event_id, user_id, value,
    COUNT(value) OVER {_W_ROLL20} AS cnt,
    {sql_dsum_w('value', _W_ROLL20)} AS s,
    {sql_dsum_w('value * value', _W_ROLL20)} AS m2
  FROM events
),
b AS (
  SELECT event_id, user_id, value, cnt,
         s / cnt AS mid,
         SQRT((m2 - s * s / cnt) / (cnt - 1)) AS sd
  FROM m
)
SELECT event_id, user_id, value,
  CASE WHEN cnt >= 20 THEN mid END AS mid,
  CASE WHEN cnt >= 20 THEN mid + 2 * sd END AS upper_band,
  CASE WHEN cnt >= 20 THEN mid - 2 * sd END AS lower_band,
  CASE WHEN cnt >= 20 AND sd <> 0
       THEN (value - (mid - 2 * sd)) / ((mid + 2 * sd) - (mid - 2 * sd))
  END AS pct_b
FROM b
ORDER BY user_id, event_id
""",
)
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-row mid ± 2σ) + %B position within the band —
    the band form of the reference's rolling mean/std pair
    (datavisualization.py:411-417,640-644), with pandas
    ``min_periods=window`` masking.  The three windowed moments (count,
    Σx, Σx²) materialize ONCE in a first projection and every band
    derives from those scalars — WindowExec does not CSE the aggregate
    across output columns, so the inline formulation recomputed each
    frame sum per derived column (measured 10.5s → 2.5s at sf0.1).
    Same derivation order on both engines keeps the arithmetic
    bit-identical."""
    e = load_table(spark, sf_dir, "events")
    roll = _w().rowsBetween(-19, 0)
    m = e.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(roll).alias("cnt"),
        dsum_w("value", roll).alias("s"),
        dsum_w(F.col("value") * F.col("value"), roll).alias("m2"),
    )
    mid = F.col("s") / F.col("cnt")
    sd = F.sqrt(
        (F.col("m2") - F.col("s") * F.col("s") / F.col("cnt"))
        / (F.col("cnt") - F.lit(1))
    )
    b = m.select("event_id", "user_id", "value", "cnt", mid.alias("mid"), sd.alias("sd"))
    upper = F.col("mid") + 2 * F.col("sd")
    lower = F.col("mid") - 2 * F.col("sd")
    full = F.col("cnt") >= 20
    return b.select(
        "event_id",
        "user_id",
        "value",
        F.when(full, F.col("mid")).alias("mid"),
        F.when(full, upper).alias("upper_band"),
        F.when(full, lower).alias("lower_band"),
        F.when(full & (F.col("sd") != 0), (F.col("value") - lower) / (upper - lower)).alias(
            "pct_b"
        ),
    ).orderBy("user_id", "event_id")


@register(
    "win_rsi_cutler",
    tags=("window", "rolling", "technical"),
    oracle=f"""
WITH d AS (
  SELECT event_id, user_id, ts,
    value - LAG(value, 1) OVER {_W} AS diff
  FROM events
), g AS (
  SELECT event_id, user_id,
    COUNT(diff) OVER {_W_ROLL14} AS cnt,
    {sql_dsum_w('GREATEST(diff, 0)', _W_ROLL14)} AS sg,
    {sql_dsum_w('GREATEST(-diff, 0)', _W_ROLL14)} AS sl
  FROM d
)
SELECT event_id, user_id,
  CASE WHEN cnt >= 14 AND sg + sl <> 0
       THEN 100 * sg / (sg + sl) END AS rsi14
FROM g
ORDER BY user_id, event_id
""",
)
def win_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI-14 (SMA-based relative strength — the relational
    cousin of Wilder's RSI, whose recursive smoothing is a sequential
    recurrence and deliberately avoided): diff → gain/loss split →
    14-row exact window sums → 100·G/(G+L).  Two stacked windows over
    the same partitioning = still ONE shuffle (Catalyst reuses the
    exchange); null until 14 diffs exist, null on flat windows."""
    e = load_table(spark, sf_dir, "events")
    w = _w()
    d = e.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value") - F.lag("value", 1).over(w)).alias("diff"),
    )
    roll = w.rowsBetween(-13, 0)
    cnt = F.count("diff").over(roll)
    sg = dsum_w(F.greatest(F.col("diff"), F.lit(0)), roll)
    sl = dsum_w(F.greatest(-F.col("diff"), F.lit(0)), roll)
    return d.select(
        "event_id",
        "user_id",
        F.when((cnt >= 14) & (sg + sl != 0), 100 * sg / (sg + sl)).alias("rsi14"),
    ).orderBy("user_id", "event_id")


@register(
    "win_rsi_wilder",
    oracle=None,  # sequential recurrence — no SQL oracle; substitute:
    # tests/test_technical_differential.py::test_wilder_rsi_matches_explicit_recurrence
    tags=("window", "technical", "recurrence", "rows-only"),
)
def win_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's RSI-14 with TRUE recursive smoothing (the indicator
    family member win_rsi_cutler's docstring deliberately excluded):
    ``ewm(alpha=1/14, adjust=False)`` over the gain/loss split,
    computed by the partitioned-sequential-scan operator
    (operators/recurrence.py — groupBy(user).applyInPandas, one Arrow
    pass per key, O(1) carry).  Rows-only by design: the recurrence
    reaches every prior row, so no frame-aggregate SQL reproduces it;
    the substitute check is the explicit-recurrence differential test
    named above, plus the row-contract assertions there (null until 14
    diffs, 100 on pure-gain prefixes, null on flat series)."""
    from ..operators.recurrence import wilder_rsi

    e = load_table(spark, sf_dir, "events")
    return wilder_rsi(e).orderBy("user_id", "event_id")


@register(
    "win_holt_linear_forecast",
    oracle=None,  # coupled two-state recurrence — no SQL oracle; substitute:
    # tests/test_technical_differential.py::test_holt_linear_matches_explicit_recurrence
    tags=("window", "technical", "recurrence", "forecast", "rows-only"),
)
def win_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend + one-step
    forecast, α=0.3 β=0.1) per user series — the forecasting recurrence
    a frame aggregate cannot express because level and trend are
    COUPLED states (each step reads both previous states; the
    single-state ewm trick of win_rsi_wilder doesn't apply).  Runs on
    the partitioned-sequential-scan operator
    (operators/recurrence.holt_linear): one shuffle on user_id, O(1)
    carry per key, per-key explicit recurrence bounded by partition
    size.  Rows-only by design; substitute check is the
    explicit-recurrence differential test named above."""
    from ..operators.recurrence import holt_linear

    e = load_table(spark, sf_dir, "events")
    return holt_linear(e).orderBy("user_id", "event_id")


@register(
    "win_cumulative_distinct",
    tags=("window", "distinct", "cumsum"),
    oracle=f"""
WITH flagged AS (
  SELECT event_id, user_id, ts,
    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) = 1
         THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT event_id, user_id,
  CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS distinct_types_so_far
FROM flagged
ORDER BY user_id, event_id
""",
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user — how many distinct event types
    each user has touched so far (the breadth-of-engagement curve).
    There is no distinct-over-window aggregate in either engine; the
    relational form is the first-occurrence flag (row_number = 1 over
    (user, type)) cumulatively summed.  Two window passes over
    user-keyed partitionings; exact integers, no state beyond the
    window sort."""
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_cum = _w().rowsBetween(Window.unboundedPreceding, 0)
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_cum).alias("distinct_types_so_far"),
    ).orderBy("user_id", "event_id")


# Bounded-lookback EWMA: weights (1-a)^j, j = 0..L-1, normalized over the
# full L-window (pandas ewm(alpha=a, adjust=True) truncated at L terms).
_EWMA_ALPHA = 0.25
_EWMA_L = 10
_EWMA_WEIGHTS = [(1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_L)]
_EWMA_NORM = sum(_EWMA_WEIGHTS)


def _dlit(x: float) -> str:
    """Spell a double literal so DuckDB types it DOUBLE: a bare decimal
    literal is parsed as DECIMAL (int/10^n — not always the correctly-
    rounded double Python/Spark produce); e-notation forces the strtod
    path, which matches bit-for-bit."""
    r = repr(x)
    return r if ("e" in r or "E" in r) else r + "e0"


@register(
    "win_ewma",
    tags=("window", "technical", "ewma"),
    oracle=f"""
SELECT event_id, user_id,
  CASE WHEN COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN {_EWMA_L - 1} PRECEDING AND CURRENT ROW) = {_EWMA_L}
       THEN ({' + '.join(f'{_dlit(w)} * LAG(value, {j}) OVER {_W}' if j else f'{_dlit(w)} * value' for j, w in enumerate(_EWMA_WEIGHTS))})
            / {_dlit(_EWMA_NORM)}
  END AS ewma
FROM events
ORDER BY user_id, event_id
""",
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average with a bounded L=10
    lookback (α=0.25; truncated-tail weight <6%): a fixed-length
    weighted sum of lags — NOT the sequential pandas recurrence, which
    has no parallel frame form.  The weighted sum is one left-associated
    chain of IEEE double ops written identically in both engines, so no
    decimal machinery is needed — per-row double arithmetic is already
    bit-deterministic.  Null until the lookback is full.  At 100 TB:
    one shuffle, L-1 lag expressions in one codegen stage."""
    e = load_table(spark, sf_dir, "events")
    w = _w()
    cnt = F.count("value").over(w.rowsBetween(-(_EWMA_L - 1), 0))
    terms = [
        F.lit(wt) * (F.col("value") if j == 0 else F.lag("value", j).over(w))
        for j, wt in enumerate(_EWMA_WEIGHTS)
    ]
    weighted = reduce(lambda a, b: a + b, terms) / F.lit(_EWMA_NORM)
    return e.select(
        "event_id",
        "user_id",
        F.when(cnt == _EWMA_L, weighted).alias("ewma"),
    ).orderBy("user_id", "event_id")


# ------------------------------------------------------------------ MACD

# Truncated-EMA MACD with FLATTENED coefficients: macd = EMA12 − EMA26
# (truncated weighted lag-sums, the win_ewma stance), signal = EMA9 of
# macd.  The signal is a weighted sum of lagged macd values, and macd
# is itself a weighted sum of lagged values — so the signal flattens to
# ONE weighted lag-sum with convolved coefficients c_m = Σ_{j+k=m}
# w9_j·(w12_k − w26_k).  Every coefficient is a Python-precomputed
# double literal; both engines evaluate the identical left-associated
# chain, so the result is bit-exact with no decimal machinery.
def _trunc_ewm_weights(alpha: float, L: int) -> list[float]:
    ws = [(1.0 - alpha) ** j for j in range(L)]
    norm = sum(ws)
    return [w / norm for w in ws]


_MACD_W12 = _trunc_ewm_weights(2.0 / 13.0, 12)
_MACD_W26 = _trunc_ewm_weights(2.0 / 27.0, 20)
_MACD_DIFF = [
    (_MACD_W12[k] if k < len(_MACD_W12) else 0.0)
    - (_MACD_W26[k] if k < len(_MACD_W26) else 0.0)
    for k in range(max(len(_MACD_W12), len(_MACD_W26)))
]
_MACD_W9 = _trunc_ewm_weights(0.2, 10)
_MACD_SIG = [0.0] * (len(_MACD_DIFF) + len(_MACD_W9) - 1)
for _j, _wj in enumerate(_MACD_W9):
    for _k, _wk in enumerate(_MACD_DIFF):
        _MACD_SIG[_j + _k] += _wj * _wk
_MACD_LOOKBACK = len(_MACD_SIG)  # 29 rows needed for a full signal


def _sql_lagsum(weights: list[float]) -> str:
    return " + ".join(
        f"{_dlit(w)} * LAG(value, {j}) OVER {_W}" if j else f"{_dlit(w)} * value"
        for j, w in enumerate(weights)
    )


@register(
    "win_macd",
    tags=("window", "technical", "macd", "ewma"),
    oracle=f"""
SELECT event_id, user_id,
  CASE WHEN COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {_MACD_LOOKBACK - 1} PRECEDING AND CURRENT ROW)
       = {_MACD_LOOKBACK}
       THEN ({_sql_lagsum(_MACD_DIFF)}) END AS macd_line,
  CASE WHEN COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {_MACD_LOOKBACK - 1} PRECEDING AND CURRENT ROW)
       = {_MACD_LOOKBACK}
       THEN ({_sql_lagsum(_MACD_DIFF)}) - ({_sql_lagsum(_MACD_SIG)})
  END AS histogram
FROM events
ORDER BY user_id, event_id
""",
)
def win_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26 EMA spread + 9-EMA signal histogram) with bounded
    truncated-EMA lookbacks — and the signal line FLATTENED through
    the convolution of its coefficient chains into one weighted
    lag-sum (windows-over-windows collapsed to a single window pass;
    see the module comment).  Null until the 29-row lookback fills.
    One shuffle, every lag in one codegen stage — the same 100 TB
    profile as win_ewma."""
    e = load_table(spark, sf_dir, "events")
    w = _w()
    cnt = F.count("value").over(w.rowsBetween(-(_MACD_LOOKBACK - 1), 0))

    def lagsum(weights: list[float]):
        terms = [
            F.lit(wt)
            * (F.col("value") if j == 0 else F.lag("value", j).over(w))
            for j, wt in enumerate(weights)
        ]
        return reduce(lambda a, b: a + b, terms)

    macd = lagsum(_MACD_DIFF)
    sig = lagsum(_MACD_SIG)
    full = cnt == _MACD_LOOKBACK
    return e.select(
        "event_id",
        "user_id",
        F.when(full, macd).alias("macd_line"),
        F.when(full, macd - sig).alias("histogram"),
    ).orderBy("user_id", "event_id")


@register(
    "win_stochastic_oscillator",
    tags=("window", "technical", "stochastic"),
    oracle=f"""
WITH k AS (
  SELECT event_id, user_id, ts,
    CASE WHEN COUNT(value) OVER {_W_ROLL14} = 14
          AND MAX(value) OVER {_W_ROLL14} > MIN(value) OVER {_W_ROLL14}
         THEN 100.0e0 * (value - MIN(value) OVER {_W_ROLL14})
              / (MAX(value) OVER {_W_ROLL14} - MIN(value) OVER {_W_ROLL14})
    END AS pct_k
  FROM events
)
SELECT event_id, user_id, pct_k,
  CASE WHEN COUNT(pct_k) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3
       THEN (pct_k + LAG(pct_k, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             + LAG(pct_k, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 3.0e0
  END AS pct_d
FROM k
ORDER BY user_id, event_id
""",
)
def win_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator — %K (position of the current value inside
    the rolling 14-row min..max range, 0–100) and %D (3-row simple
    moving average of %K): the bounded-range momentum indicator next to
    RSI/Bollinger/MACD.  Degenerate flat windows (max == min) yield
    null rather than a 0/0.  %D is a 3-term lag sum over the %K
    expression — both levels stay in ONE window partitioning, one
    shuffle, all codegen."""
    e = load_table(spark, sf_dir, "events")
    w = _w()
    w14 = w.rowsBetween(-13, 0)
    mn, mx = F.min("value").over(w14), F.max("value").over(w14)
    full14 = F.count("value").over(w14) == 14
    pct_k = F.when(
        full14 & (mx > mn), 100.0 * (F.col("value") - mn) / (mx - mn)
    )
    k = e.select("event_id", "user_id", "ts", pct_k.alias("pct_k"))
    full3 = F.count("pct_k").over(w.rowsBetween(-2, 0)) == 3
    pct_d = F.when(
        full3,
        (
            F.col("pct_k")
            + F.lag("pct_k", 1).over(w)
            + F.lag("pct_k", 2).over(w)
        )
        / 3.0,
    )
    return k.select(
        "event_id", "user_id", "pct_k", pct_d.alias("pct_d")
    ).orderBy("user_id", "event_id")
