"""Exact-moment aggregate helpers for cross-engine bit-identical results.

Summing doubles is order-dependent, and a distributed Spark aggregation
will not visit rows in the same order as single-threaded DuckDB — so a
naive ``SUM(double)`` can differ in the last ulps and break the driver's
value-hash comparison.  The fix used throughout ``plans/``:

1. every per-row expression stays in double (deterministic: same input
   bits + same ops → same result bits on both engines),
2. the *aggregation* happens in DECIMAL (exact, order-independent),
3. the final statistic is a short, identically-ordered sequence of
   double ops on the exact moments (again deterministic).

So ``avg = CAST(decimal_sum AS DOUBLE) / count`` and
``var_samp = (m2 - s*s/n) / (n-1)`` are bit-identical across engines.

This is a *verification* technique: plain double sums are ~2× cheaper
than decimal, but correctness against the oracle is the gate, so every
plan aggregates exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale choice matters: Spark converts double→decimal via the shortest
# decimal string (Scala BigDecimal.decimal), DuckDB via the exact binary
# value.  The two can round differently when a 10^-scale boundary falls
# within one ulp of the value — at scale 10 that happens ~7% of rows for
# 1e4-magnitude money products (ulp ≈ 7e-12).  At scale 6 the boundary
# spacing (5e-7) dwarfs ulp noise AND every money expression here
# (2-decimal price × 2-decimal discount × 2-decimal tax) is *exactly*
# representable at ≤6 decimals, so both engines round to the true value.
# decimal(38, 6): 32 integer digits of sum headroom — enough for 100 TB.
_PREC, _SCALE = 38, 6
_SUM_TYPE = f"decimal({_PREC - 10},{_SCALE})"  # Spark sum() adds 10 to precision

def dsum(col: Column | str) -> Column:
    """Order-independent exact sum of a double expression → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_SUM_TYPE)).cast("double")


def sql_dsum(expr: str) -> str:
    """DuckDB mirror of :func:`dsum` (DuckDB keeps precision 38)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({_PREC - 10},{_SCALE}))) AS DOUBLE)"


def davg(col: Column | str, count_col: Column | None = None) -> Column:
    """Exact-sum / count — deterministic avg (single double division)."""
    c = F.col(col) if isinstance(col, str) else col
    n = count_col if count_col is not None else F.count(c)
    return dsum(c) / n


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


def dstddev_samp(col: Column | str) -> Column:
    """Sample stddev from exact moments: sqrt((m2 - s*s/n)/(n-1)).

    pandas ``.std()`` is ddof=1 (SURVEY.md §4.2 watch-list) → this is the
    sample flavor; see :func:`dstddev_pop` for sklearn StandardScaler
    parity (ddof=0).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = dsum(c)
    m2 = dsum(c * c)
    n = F.count(c)
    return F.sqrt((m2 - s * s / n) / (n - F.lit(1)))


def sql_dstddev_samp(expr: str) -> str:
    s = sql_dsum(expr)
    m2 = sql_dsum(f"({expr}) * ({expr})")
    n = f"COUNT({expr})"
    return f"SQRT((({m2}) - ({s}) * ({s}) / ({n})) / (({n}) - 1))"


def dstddev_pop(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    s = dsum(c)
    m2 = dsum(c * c)
    n = F.count(c)
    return F.sqrt((m2 - s * s / n) / n)


def _complete_pair(x: Column, y: Column) -> tuple[Column, Column]:
    """Mask both inputs to rows where BOTH are non-null — covar/corr are
    pairwise-complete statistics, so every moment (including the
    single-column sums) must be taken over the same complete-pair set;
    summing each column over its own non-null rows silently diverges
    from ``F.corr``/``covar_samp`` whenever the null masks differ."""
    both = x.isNotNull() & y.isNotNull()
    return F.when(both, x), F.when(both, y)


def _sql_complete_pair(ex: str, ey: str) -> tuple[str, str]:
    both = f"(({ex}) IS NOT NULL AND ({ey}) IS NOT NULL)"
    return (
        f"(CASE WHEN {both} THEN ({ex}) END)",
        f"(CASE WHEN {both} THEN ({ey}) END)",
    )


# ---------------------------------------------------------------------------
# Windowed variants: same exact-decimal-moment technique over window frames.
# DuckDB computes sliding sums with a segment tree (different add order than
# Spark's frame iteration), so double window-sums drift too — decimal fixes it.
# ---------------------------------------------------------------------------


def dsum_w(col: Column | str, w) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_SUM_TYPE)).over(w).cast("double")


def sql_dsum_w(expr: str, over: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL({_PREC - 10},{_SCALE}))) "
        f"OVER {over} AS DOUBLE)"
    )


def davg_w(col: Column | str, w) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return dsum_w(c, w) / F.count(c).over(w)


def sql_davg_w(expr: str, over: str) -> str:
    return f"({sql_dsum_w(expr, over)} / COUNT({expr}) OVER {over})"


def dstddev_samp_w(col: Column | str, w) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    s = dsum_w(c, w)
    m2 = dsum_w(c * c, w)
    n = F.count(c).over(w)
    return F.sqrt((m2 - s * s / n) / (n - F.lit(1)))


def sql_dstddev_samp_w(expr: str, over: str) -> str:
    s = sql_dsum_w(expr, over)
    m2 = sql_dsum_w(f"({expr}) * ({expr})", over)
    n = f"COUNT({expr}) OVER {over}"
    return f"SQRT((({m2}) - ({s}) * ({s}) / ({n})) / (({n}) - 1))"


def dcorr_w(x: Column | str, y: Column | str, w) -> Column:
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    cx, cy = _complete_pair(cx, cy)
    sx, sy = dsum_w(cx, w), dsum_w(cy, w)
    sxx, syy, sxy = dsum_w(cx * cx, w), dsum_w(cy * cy, w), dsum_w(cx * cy, w)
    n = F.count(cx * cy).over(w)
    num = sxy - sx * sy / n
    den = F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    return num / den


def sql_dcorr_w(ex: str, ey: str, over: str) -> str:
    ex, ey = _sql_complete_pair(ex, ey)
    sx, sy = sql_dsum_w(ex, over), sql_dsum_w(ey, over)
    sxx = sql_dsum_w(f"({ex}) * ({ex})", over)
    syy = sql_dsum_w(f"({ey}) * ({ey})", over)
    sxy = sql_dsum_w(f"({ex}) * ({ey})", over)
    n = f"COUNT(({ex}) * ({ey})) OVER {over}"
    num = f"(({sxy}) - ({sx}) * ({sy}) / ({n}))"
    den = (
        f"(SQRT(({sxx}) - ({sx}) * ({sx}) / ({n})) * "
        f"SQRT(({syy}) - ({sy}) * ({sy}) / ({n})))"
    )
    return f"({num} / {den})"


def dcorr(x: Column | str, y: Column | str) -> Column:
    """Pearson corr from exact moments (bit-identical across engines),
    over pairwise-complete rows like ``F.corr``."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    cx, cy = _complete_pair(cx, cy)
    sx, sy = dsum(cx), dsum(cy)
    sxx, syy, sxy = dsum(cx * cx), dsum(cy * cy), dsum(cx * cy)
    n = F.count(cx * cy)
    num = sxy - sx * sy / n
    den = F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    return num / den


def sql_dcorr(ex: str, ey: str) -> str:
    ex, ey = _sql_complete_pair(ex, ey)
    sx, sy = sql_dsum(ex), sql_dsum(ey)
    sxx = sql_dsum(f"({ex}) * ({ex})")
    syy = sql_dsum(f"({ey}) * ({ey})")
    sxy = sql_dsum(f"({ex}) * ({ey})")
    n = f"COUNT(({ex}) * ({ey}))"
    num = f"(({sxy}) - ({sx}) * ({sy}) / ({n}))"
    den = f"(SQRT(({sxx}) - ({sx}) * ({sx}) / ({n})) * SQRT(({syy}) - ({sy}) * ({sy}) / ({n})))"
    return f"({num} / {den})"
