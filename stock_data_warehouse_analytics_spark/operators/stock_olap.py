"""Stock OLAP result tables A1–A5 (SURVEY.md §2.5) — byte-parity
targets for the reference goldens in ``/root/reference/olap_results/``.

All pivots pass an explicit sorted ticker list (pandas ``pivot_table``
orders pivot columns lexicographically and drops all-NaN groups —
SURVEY.md §4.2 item 4), and rounding uses :func:`np_round` for numpy
half-even parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import np_round, with_time_dims
from ..session import session_memo

__all__ = [
    "prepare_olap_frame",
    "quarterly_price",
    "yearly_growth",
    "monthly_volume",
    "stats_panel",
    "monthly_close_pivot",
]


def prepare_olap_frame(fact: DataFrame, min_year: int = 2024) -> DataFrame:
    """olap_analysis.py:29-35 — year filter (F1) + time dims."""
    return with_time_dims(fact.filter(F.year("Date") >= min_year))


# Per-session memo of the pivot-value enumeration: the distinct-Ticker
# scan is metadata-sized OUTPUT but a full-table scan per pivot call —
# at 100× that is a real job per query invocation.  Keyed by the frame's
# semanticHash (public API), verified with sameSemantics to rule out
# hash collisions; the per-session dict lives in ``session_memo``.
_TICKER_SCANS = [0]  # scan counter, observable by the plan-shape test
_TICKER_CACHE_MAX = 8  # FIFO bound on cached (frame, tickers) entries


def _tickers_of(df: DataFrame) -> list[str]:
    # Bounded dimension enumeration (A14): a handful of tickers; the
    # collect is a metadata-sized read, mirroring pivot-values needs —
    # cached per (session, semantically-equal frame) so repeated pivot
    # calls over the same fact cost ONE enumeration scan, not one each.
    # Bounded cache (FIFO, ≤ _TICKER_CACHE_MAX entries) so the
    # per-session dict can neither grow without bound nor pin a strong
    # reference to every frame ever pivoted.  Staleness assumption: the
    # cache keys on PLAN semantics, so if the underlying files change
    # in-place within one session, re-reads of the same path serve the
    # cached enumeration — call spark.catalog.clearCache()/rebuild the
    # session (or simply pass `tickers=` explicitly) after mutating
    # source files mid-session.
    per_session = session_memo(df.sparkSession, "stock_olap.tickers", dict)
    key = df.semanticHash()
    hit = per_session.get(key)
    if hit is not None and df.sameSemantics(hit[0]):
        return hit[1]
    _TICKER_SCANS[0] += 1
    tickers = sorted(r[0] for r in df.select("Ticker").distinct().collect())
    while len(per_session) >= _TICKER_CACHE_MAX:
        per_session.pop(next(iter(per_session)))
    per_session[key] = (df, tickers)
    return tickers


def quarterly_price(df: DataFrame, tickers: list[str] | None = None) -> DataFrame:
    """A1 — golden ``01_quarterly_price.csv``: avg Close by
    (Year,Quarter) × Ticker, round 2 (olap_analysis.py:43)."""
    tickers = tickers or _tickers_of(df)
    return (
        df.groupBy("Year", "Quarter")
        .pivot("Ticker", tickers)
        .agg(np_round(F.avg("Close"), 2))
        .orderBy("Year", "Quarter")
    )


def yearly_growth(
    df: DataFrame,
    from_year: int = 2024,
    to_year: int = 2025,
    tickers: list[str] | None = None,
) -> DataFrame:
    """A4 — golden ``02_growth_24_25.csv``: per-ticker yearly avg Close
    unstacked wide + growth% (olap_analysis.py:46-48; J2 same-row
    arithmetic, no join)."""
    wide = (
        df.groupBy("Ticker")
        .pivot("Year", [from_year, to_year])
        .agg(F.avg("Close"))
    )
    y0, y1 = str(from_year), str(to_year)
    return wide.withColumn(
        f"Growth {from_year % 100}-{to_year % 100} (%)",
        (F.col(f"`{y1}`") / F.col(f"`{y0}`") - 1) * 100,
    ).orderBy("Ticker")


def monthly_volume(df: DataFrame, tickers: list[str] | None = None) -> DataFrame:
    """A2 — golden ``03_monthly_volume.csv``: avg Volume by (Year,Month)
    × Ticker, round(0) → fillna(0) → int (olap_analysis.py:51)."""
    tickers = tickers or _tickers_of(df)
    out = (
        df.groupBy("Year", "Month")
        .pivot("Ticker", tickers)
        .agg(np_round(F.avg("Volume"), 0))
    )
    return out.withColumns(
        {t: F.coalesce(F.col(f"`{t}`"), F.lit(0.0)).cast("long") for t in tickers}
    ).orderBy("Year", "Month")


def stats_panel(df: DataFrame, year: int = 2025) -> DataFrame:
    """A5 — golden ``04_stats_2025.csv``: per-ticker mean Close/Volume,
    sample std Close (pandas ddof=1 ⇒ stddev_samp, SURVEY.md §4.2
    item 1), CV%, sorted desc by Volume_TB (olap_analysis.py:54-63)."""
    return (
        df.filter(F.col("Year") == year)
        .groupBy("Ticker")
        .agg(
            F.avg("Close").alias("Gia_TB"),
            F.avg("Volume").alias("Volume_TB"),
            F.stddev_samp("Close").alias("Bien_Dong_Std"),
        )
        .withColumn(
            "Bien_Dong_Pct (%)", F.col("Bien_Dong_Std") / F.col("Gia_TB") * 100
        )
        .orderBy(F.desc("Volume_TB"))
    )


def monthly_close_pivot(df: DataFrame, tickers: list[str] | None = None) -> DataFrame:
    """A3 — chart-input pivot: avg Close by YearMonth × Ticker
    (olap_analysis.py:152)."""
    tickers = tickers or _tickers_of(df)
    return (
        df.groupBy("YearMonth").pivot("Ticker", tickers).agg(F.avg("Close"))
        .orderBy("YearMonth")
    )
