"""High-level facade — the engine's answer to the reference's streamlit
dashboard surface (S7, streamlit.py): every analysis the dashboard
re-runs per widget event, as DataFrame-returning methods on one object.

``@st.cache_data`` (streamlit.py:32) becomes one Spark-cached fact per
(session, input directory) in ``session_memo``, shared by every instance
and by the refresh, whose sinks (``pipeline``) call these same methods.
Result tables are lazy plans over the fact and the OLAP and mining frames
prepared once per instance.  The OLAP pivots take the instance's
``tickers``, one collect on first use; the operators they call only
build plans.  ``session_memo`` is the only cache shared across
instances, and no process-global mode changes a result.  A raw fact
whose files total at most ``localrel.ONE_PARTITION_MAX_BYTES`` (the
dashboard's ~1.3k rows) is one Date-sorted partition, so no call plans
a shuffle above it and each widget event pays about one Spark job, not
one per Exchange; a larger fact keeps its scan's file splits and the
distributed plans.  A UI (streamlit or otherwise) binds widgets to these
methods; the engine ends here.
"""

from __future__ import annotations

import os
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from .session import session_memo, tune_for_engine

__all__ = ["StockWarehouse"]


class StockWarehouse:
    """One stock-warehouse session over a raw or cleaned data directory.

    >>> wh = StockWarehouse(spark, "/root/reference/stock_data")
    >>> wh.quarterly_price().show()
    >>> wh.anomalies().show()
    """

    def __init__(
        self, spark: SparkSession, path: str, *, cleaned: bool = False
    ) -> None:
        # an externally created session may run with default confs
        # (200 shuffle partitions, no AQE coalescing) — on the bounded
        # stock data that means thousands of empty tasks per query.
        self.spark = tune_for_engine(spark)
        self._path = path
        self._cleaned = cleaned

    @classmethod
    def over(cls, fact: DataFrame) -> StockWarehouse:
        """The facade over a fact the caller owns (caches and releases):
        the refresh sinks run these methods over ``run_etl``'s fact."""
        wh = cls.__new__(cls)
        wh.spark = fact.sparkSession
        wh.fact = fact
        return wh

    @cached_property
    def fact(self) -> DataFrame:
        from .sources.stock_csv import load_cleaned, load_stock_facts

        load = load_cleaned if self._cleaned else load_stock_facts
        df = session_memo(
            self.spark,
            ("stock.fact", os.path.abspath(self._path), self._cleaned),
            lambda: load(self.spark, self._path),
        )
        # a holder may have released the shared fact (close, unpersist)
        return df if df.is_cached else df.cache()

    @cached_property
    def _olap(self) -> DataFrame:
        from .operators.stock_olap import prepare_olap_frame

        return prepare_olap_frame(self.fact)

    @cached_property
    def tickers(self) -> list[str]:
        """The sorted distinct tickers with OLAP rows: the pivot columns
        of ``quarterly_price`` and ``monthly_volume``, one collect per
        instance."""
        return sorted(r.Ticker for r in self._olap.select("Ticker").distinct().collect())

    @cached_property
    def _mining(self) -> DataFrame:
        from .operators.stock_mining import prepare_mining_frame

        return prepare_mining_frame(self.fact)

    # --- OLAP tab (streamlit.py:90-130) ---

    def quarterly_price(self) -> DataFrame:
        from .operators.stock_olap import quarterly_price

        return quarterly_price(self._olap, self.tickers)

    def yearly_growth(self) -> DataFrame:
        from .operators.stock_olap import yearly_growth

        return yearly_growth(self._olap)

    def monthly_volume(self) -> DataFrame:
        from .operators.stock_olap import monthly_volume

        return monthly_volume(self._olap, self.tickers)

    def stats_panel(self, year: int = 2025) -> DataFrame:
        from .operators.stock_olap import stats_panel

        return stats_panel(self._olap, year)

    # --- mining tab (streamlit.py:210-332) ---

    def regression_same_day(self) -> DataFrame:
        from .operators.stock_mining import regression_same_day

        return regression_same_day(self._mining)

    def regression_next_day(self) -> DataFrame:
        from .operators.stock_mining import regression_next_day

        return regression_next_day(self._mining)

    def kmeans(self, k: int = 3) -> DataFrame:
        from .operators.stock_mining import kmeans_exact_small, kmeans_features

        return kmeans_exact_small(kmeans_features(self._mining), k=k)

    def anomalies(self, threshold: float = 2.0) -> DataFrame:
        from .operators.stock_mining import zscore_anomalies

        return zscore_anomalies(self._mining, threshold)

    # --- analytics (datavisualization.py surface) ---

    def summary_statistics(self) -> DataFrame:
        from .operators.stock_stats import summary_statistics

        return summary_statistics(self.fact)

    def rolling_volatility(self, window: int = 20) -> DataFrame:
        from .operators.stock_stats import rolling_volatility

        return rolling_volatility(self.fact, window)

    def cumulative_returns(self) -> DataFrame:
        from .operators.stock_stats import cumulative_returns

        return cumulative_returns(self.fact)

    def per_ticker_quarterly_stats(self) -> DataFrame:
        """A6 — the per-ticker chart inputs (olap_analysis.py:84,99,116)
        in long form: avg + sample-std Close by (Ticker, Year, Quarter)."""
        from pyspark.sql import functions as F

        return (
            self._olap.groupBy("Ticker", "Year", "Quarter")
            .agg(
                F.avg("Close").alias("avg_close"),
                F.stddev_samp("Close").alias("std_close"),
            )
            .orderBy("Ticker", "Year", "Quarter")
        )

    def close(self) -> None:
        if "fact" in self.__dict__:
            self.fact.unpersist()
