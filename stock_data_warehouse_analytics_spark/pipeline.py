"""End-to-end pipeline runner — the drop-in replacement for the
reference's three scripts:

- ``run_etl``    ≙ ``python preprocess_stocks.py`` (cleaned/{T}.csv + All.csv)
- ``run_olap``   ≙ ``python olap_analysis.py`` result tables (olap_results/01–04)
- ``run_mining`` ≙ ``python datamining_analysis.py`` (datamining_results/01–04)
- ``run_charts`` ≙ the chart set of ``olap_analysis.py:80-184``, rendered
  by the dependency-free PNG encoder in ``sources/charts.py``

The refresh is a set of sinks over one :class:`~.api.StockWarehouse`:
``run_etl`` takes the session's memoized fact from it, and the OLAP,
mining and chart stages write what its dashboard methods return, so a
dashboard opened after a refresh in the same session reads the same
cached fact.  The result *tables* remain the primary contract and every
one matches the reference's committed goldens (tests/test_pipeline_cli.py).

CLI:  python -m stock_data_warehouse_analytics_spark all \\
          --input /root/reference/stock_data --output /tmp/out
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .api import StockWarehouse
from .schemas import TICKERS
from .sources.stock_csv import csv_lines, write_csv_single, write_lines

__all__ = ["run_etl", "run_olap", "run_mining", "run_charts", "main"]

OLAP_SINKS = [
    ("01_quarterly_price.csv", StockWarehouse.quarterly_price),
    ("02_growth_24_25.csv", StockWarehouse.yearly_growth),
    ("03_monthly_volume.csv", StockWarehouse.monthly_volume),
    ("04_stats_2025.csv", StockWarehouse.stats_panel),
]
MINING_SINKS = [
    ("01_regression_same_day.csv", StockWarehouse.regression_same_day),
    ("02_regression_next_day.csv", StockWarehouse.regression_next_day),
    ("03_kmeans_clusters.csv", StockWarehouse.kmeans),
    ("04_anomalies.csv", StockWarehouse.anomalies),
]


def run_etl(
    spark: SparkSession, input_dir: str, output_dir: str
) -> DataFrame:
    """ETL: raw CSVs → cleaned per-ticker CSVs + merged All.csv
    (preprocess_stocks.py:189-230), from one collect of the fact's CSV
    lines ordered by (Ticker, Date): a file per ticker of ``TICKERS``
    present, then All.csv.  Returns the merged fact DataFrame:
    the session's cached ``StockWarehouse(spark, input_dir).fact``, the
    one bounded intermediate every stage and the dashboard reuse.  Under
    ``session_memo``'s staleness contract, refreshing a rewritten input
    directory needs a fresh session."""
    os.makedirs(output_dir, exist_ok=True)
    fact = StockWarehouse(spark, input_dir).fact
    header, rows = csv_lines(fact.orderBy("Ticker", "Date"), "Ticker")
    lines: dict[str, list[str]] = {}
    for t, line in rows:
        lines.setdefault(t, []).append(line)
    for t in TICKERS:
        if t in lines:
            write_lines(os.path.join(output_dir, f"{t}.csv"), header, lines[t])
    write_lines(os.path.join(output_dir, "All.csv"), header, (r[1] for r in rows))
    return fact


def _sink(fact: DataFrame, results_dir: str, sinks) -> None:
    os.makedirs(results_dir, exist_ok=True)
    wh = StockWarehouse.over(fact)
    for name, method in sinks:
        write_csv_single(method(wh), os.path.join(results_dir, name))


def run_olap(spark: SparkSession, fact: DataFrame, results_dir: str) -> None:
    """OLAP result tables 01–04 (olap_analysis.py:43-63)."""
    _sink(fact, results_dir, OLAP_SINKS)


def run_mining(spark: SparkSession, fact: DataFrame, results_dir: str) -> None:
    """Mining result tables 01–04 (datamining_analysis.py), over any
    number of tickers: k-means (k=3) is exact up to 12 tickers and
    Lloyd past that (``stock_mining.kmeans_exact_small``).  With fewer
    than 3 tickers left for clustering it raises
    ``ValueError("n_samples=… should be >= n_clusters=3")``, sklearn's
    message, after writing tables 01–02."""
    _sink(fact, results_dir, MINING_SINKS)


def run_charts(spark: SparkSession, fact: DataFrame, charts_dir: str) -> list[str]:
    """Chart PNG sinks (S8 — olap_analysis.py:80-184's chart set,
    rendered by the dependency-free encoder in sources/charts.py):
    per-ticker price-trend line, quarterly-avg-price bar, monthly-avg-
    volume bar, plus the combined monthly-close multi-line, quarterly
    price heatmap, daily-return box plot and volume-vs-return scatter.

    The per-ticker charts and the scatter draw raw points: the
    year-filtered rows (with the lagged daily ``Return``) are collected
    once, ordered by (Ticker, Date), and give the ticker list.  The
    heatmap (table A1, ``quarterly_price``), the monthly-close pivot and
    the box-plot percentiles are Spark aggregates; both pivots take that
    list, so the charts run no ticker enumeration of their own.  Null
    prices, volumes and returns are skipped, as pandas' plots and means
    skip NaN.  Returns the written paths."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.stock_olap import monthly_close_pivot, quarterly_price
    from .sources.charts import bar_chart, box_plot, heatmap, line_chart, scatter_chart

    os.makedirs(charts_dir, exist_ok=True)
    wh = StockWarehouse.over(fact)
    written: list[str] = []

    def save(canvas, name: str) -> None:
        path = os.path.join(charts_dir, name)
        with open(path, "wb") as f:
            f.write(canvas.png())
        written.append(path)

    def month_fmt(ordinal: float) -> str:
        d = datetime.date.fromordinal(int(ordinal))
        return f"{d.year}-{d.month:02d}"

    def bars(t: str, pairs, title: str, name: str) -> None:
        groups: dict[str, list] = {}
        for key, x in pairs:
            if x is not None:
                groups.setdefault(key, []).append(x)
        means = [sum(xs) / len(xs) for xs in groups.values()]
        save(bar_chart(list(groups), means, title=f"{t} {title}"), f"{t}_{name}.png")

    wd = Window.partitionBy("Ticker").orderBy("Date")
    with_ret = wh._olap.withColumn(
        "Return",
        (F.col("Close") / F.lag("Close").over(wd) - 1.0) * 100.0,
    )  # C5 pct_change rule (functions/derivations.py)
    rows: dict[str, list] = {}
    cols = ["Ticker", "Date", "Close", "Year", "Quarter", "YearMonth", "Volume", "Return"]
    for r in with_ret.select(*cols).orderBy("Ticker", "Date").collect():
        rows.setdefault(r.Ticker, []).append(r)
    tickers = sorted(rows)

    scatter = []
    for t in tickers:
        pts = [(r.Date.toordinal(), r.Close) for r in rows[t] if r.Close is not None]
        save(
            line_chart(
                [(t, pts)], title=f"{t} PRICE TREND", x_fmt=month_fmt
            ),
            f"{t}_01_price_trend.png",
        )
        bars(t, ((f"{r.Year}Q{r.Quarter}", r.Close) for r in rows[t]),
             "QUARTERLY AVG PRICE", "02_quarterly_price")
        bars(t, ((str(r.YearMonth)[2:], r.Volume) for r in rows[t]),
             "MONTHLY AVG VOLUME", "03_monthly_volume")
        pts = [
            (float(r.Volume), r.Return)
            for r in rows[t]
            if r.Volume is not None and r.Return is not None
        ]
        if pts:
            scatter.append((t, pts))
    wide = monthly_close_pivot(wh._olap, tickers).collect()
    series = []
    for t in tickers:
        pts = [
            (float(i), r[t]) for i, r in enumerate(wide) if r[t] is not None
        ]
        series.append((t, pts))
    save(
        line_chart(series, title="MONTHLY AVG CLOSE - ALL TICKERS"),
        "00_monthly_close_combined.png",
    )

    # reference chart parity beyond line/bar (olap_analysis.py:179-184
    # heatmap; datavisualization.py:378-389 boxplot, :652,770 scatter)
    qp = quarterly_price(wh._olap, tickers).collect()
    save(
        heatmap(
            [f"{r.Year}Q{r.Quarter}" for r in qp],
            tickers,
            [[r[t] for t in tickers] for r in qp],
            title="AVG CLOSE BY QUARTER",
            cmap="rdylgn",
        ),
        "03_combined_heatmap_price.png",
    )
    ret_stats = (
        with_ret.filter(F.col("Return").isNotNull())
        .groupBy("Ticker")
        .agg(
            F.percentile("Return", F.lit(0.05)).alias("wlo"),
            F.percentile("Return", F.lit(0.25)).alias("q1"),
            F.percentile("Return", F.lit(0.5)).alias("med"),
            F.percentile("Return", F.lit(0.75)).alias("q3"),
            F.percentile("Return", F.lit(0.95)).alias("whi"),
        )
        .orderBy("Ticker")
        .collect()
    )
    save(
        box_plot(
            [r.Ticker for r in ret_stats],
            [(r.wlo, r.q1, r.med, r.q3, r.whi) for r in ret_stats],
            title="DAILY RETURN RISK BY TICKER",
        ),
        "04_boxplot_risk.png",
    )
    save(
        scatter_chart(scatter, title="VOLUME VS DAILY RETURN"),
        "05_scatter_volume_return.png",
    )
    return written


def main(argv: list[str] | None = None) -> None:
    import argparse

    from .session import get_spark

    p = argparse.ArgumentParser(prog="stock_data_warehouse_analytics_spark")
    p.add_argument("stage", choices=["etl", "olap", "mining", "charts", "all"])
    p.add_argument("--input", required=True, help="raw stock_data dir")
    p.add_argument("--output", required=True, help="output root dir")
    args = p.parse_args(argv)

    spark = get_spark("stock-pipeline", inputs=[args.input])
    spark.sparkContext.setLogLevel("WARN")
    cleaned = os.path.join(args.output, "cleaned")
    fact = run_etl(spark, args.input, cleaned)
    if args.stage in ("olap", "all"):
        run_olap(spark, fact, os.path.join(args.output, "olap_results"))
    if args.stage in ("mining", "all"):
        run_mining(spark, fact, os.path.join(args.output, "datamining_results"))
    if args.stage in ("charts", "all"):
        run_charts(spark, fact, os.path.join(args.output, "olap_charts"))
    spark.stop()


if __name__ == "__main__":
    main()
