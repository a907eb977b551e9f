"""Stock OLAP result tables A1–A5 (SURVEY.md §2.5) — byte-parity
targets for the reference goldens in ``/root/reference/olap_results/``.

The Ticker pivots take the sorted tickers that have rows (pandas
``pivot_table`` orders pivot columns lexicographically and drops all-NaN
groups — SURVEY.md §4.2 item 4): the caller passes them, as
``StockWarehouse.tickers`` does, or passes None and Spark's ``pivot``
runs its own sorted distinct-values job while the plan is built.  No
code here enumerates or caches tickers.  Rounding uses :func:`np_round`
for numpy half-even parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derivations import np_round, with_time_dims

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


def quarterly_price(df: DataFrame, tickers: list[str] | None = None) -> DataFrame:
    """A1 — golden ``01_quarterly_price.csv``: avg Close by
    (Year,Quarter) × Ticker, round 2 (olap_analysis.py:43)."""
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
    out = (
        df.groupBy("Year", "Month")
        .pivot("Ticker", tickers)
        .agg(np_round(F.avg("Volume"), 0))
    )
    return out.withColumns(
        {
            t: F.coalesce(F.col(f"`{t}`"), F.lit(0.0)).cast("long")
            for t in out.columns[2:]
        }
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
    return (
        df.groupBy("YearMonth").pivot("Ticker", tickers).agg(F.avg("Close"))
        .orderBy("YearMonth")
    )
