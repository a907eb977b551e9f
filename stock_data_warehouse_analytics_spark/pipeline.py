"""End-to-end pipeline runner — the drop-in replacement for the
reference's three scripts:

- ``run_etl``    ≙ ``python preprocess_stocks.py`` (cleaned/{T}.csv + All.csv)
- ``run_olap``   ≙ ``python olap_analysis.py`` result tables (olap_results/01–04)
- ``run_mining`` ≙ ``python datamining_analysis.py`` (datamining_results/01–04)

Chart PNGs (S8) render too — ``run_charts`` ≙ the chart set of
``olap_analysis.py:80-184`` via the dependency-free PNG encoder in
``sources/charts.py`` (matplotlib is absent here).  The result *tables*
remain the primary contract and every one matches the reference's
committed goldens (tests/test_pipeline_cli.py).

CLI:  python -m stock_data_warehouse_analytics_spark all \\
          --input /root/reference/stock_data --output /tmp/out
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .schemas import TICKERS
from .sources.stock_csv import load_stock_facts, write_csv_single

__all__ = ["run_etl", "run_olap", "run_mining", "run_charts", "main"]


def run_etl(
    spark: SparkSession, input_dir: str, output_dir: str
) -> DataFrame:
    """ETL: raw CSVs → cleaned per-ticker CSVs + merged All.csv
    (preprocess_stocks.py:189-230).  Returns the merged fact DataFrame
    (cached — the one bounded intermediate every stage reuses)."""
    os.makedirs(output_dir, exist_ok=True)
    fact = load_stock_facts(spark, input_dir).cache()
    present = {r.Ticker for r in fact.select("Ticker").distinct().collect()}
    for t in TICKERS:
        if t in present:
            per = fact.filter(fact.Ticker == t).orderBy("Date")
            write_csv_single(per, os.path.join(output_dir, f"{t}.csv"))
    write_csv_single(fact.orderBy("Ticker", "Date"), os.path.join(output_dir, "All.csv"))
    return fact


def run_olap(spark: SparkSession, fact: DataFrame, results_dir: str) -> None:
    """OLAP result tables 01–04 (olap_analysis.py:43-63)."""
    from .operators.stock_olap import (
        monthly_volume,
        prepare_olap_frame,
        quarterly_price,
        stats_panel,
        yearly_growth,
    )

    os.makedirs(results_dir, exist_ok=True)
    df = prepare_olap_frame(fact)
    write_csv_single(
        quarterly_price(df), os.path.join(results_dir, "01_quarterly_price.csv")
    )
    write_csv_single(
        yearly_growth(df), os.path.join(results_dir, "02_growth_24_25.csv")
    )
    write_csv_single(
        monthly_volume(df), os.path.join(results_dir, "03_monthly_volume.csv")
    )
    write_csv_single(stats_panel(df), os.path.join(results_dir, "04_stats_2025.csv"))


def run_mining(spark: SparkSession, fact: DataFrame, results_dir: str) -> None:
    """Mining result tables 01–04 (datamining_analysis.py)."""
    from .operators.stock_mining import (
        kmeans_exact_small,
        kmeans_features,
        prepare_mining_frame,
        regression_next_day,
        regression_same_day,
        zscore_anomalies,
    )

    os.makedirs(results_dir, exist_ok=True)
    df = prepare_mining_frame(fact)
    write_csv_single(
        regression_same_day(df),
        os.path.join(results_dir, "01_regression_same_day.csv"),
    )
    write_csv_single(
        regression_next_day(df),
        os.path.join(results_dir, "02_regression_next_day.csv"),
    )
    write_csv_single(
        kmeans_exact_small(kmeans_features(df), k=3),
        os.path.join(results_dir, "03_kmeans_clusters.csv"),
    )
    write_csv_single(
        zscore_anomalies(df), os.path.join(results_dir, "04_anomalies.csv")
    )


def run_charts(spark: SparkSession, fact: DataFrame, charts_dir: str) -> list[str]:
    """Chart PNG sinks (S8 — olap_analysis.py:80-184's chart set,
    rendered by the dependency-free encoder in sources/charts.py):
    per-ticker price-trend line, quarterly-avg-price bar, monthly-avg-
    volume bar, plus the combined monthly-close multi-line.  All chart
    inputs are REPORT-grain aggregates collected to the driver (the
    reference renders from the same pivoted tables); raw facts never
    leave the executors.  Returns the written paths."""
    from .operators.stock_olap import monthly_close_pivot, prepare_olap_frame
    from .sources.charts import bar_chart, line_chart

    os.makedirs(charts_dir, exist_ok=True)
    df = prepare_olap_frame(fact)
    written: list[str] = []

    def save(canvas, name: str) -> None:
        path = os.path.join(charts_dir, name)
        with open(path, "wb") as f:
            f.write(canvas.png())
        written.append(path)

    def month_fmt(ordinal: float) -> str:
        import datetime

        d = datetime.date.fromordinal(int(ordinal))
        return f"{d.year}-{d.month:02d}"

    from pyspark.sql import functions as F

    tickers = sorted(
        r[0] for r in df.select("Ticker").distinct().collect()
    )
    for t in tickers:
        rows = (
            df.filter(F.col("Ticker") == t)
            .select("Date", "Close", "Year", "Quarter", "YearMonth", "Volume")
            .orderBy("Date")
            .collect()
        )
        pts = [(r.Date.toordinal(), r.Close) for r in rows]
        save(
            line_chart(
                [(t, pts)], title=f"{t} PRICE TREND", x_fmt=month_fmt
            ),
            f"{t}_01_price_trend.png",
        )
        q: dict[str, list[float]] = {}
        v: dict[str, list[float]] = {}
        for r in rows:
            q.setdefault(f"{r.Year}Q{r.Quarter}", []).append(r.Close)
            v.setdefault(str(r.YearMonth), []).append(r.Volume)
        save(
            bar_chart(
                list(q), [sum(x) / len(x) for x in q.values()],
                title=f"{t} QUARTERLY AVG PRICE",
            ),
            f"{t}_02_quarterly_price.png",
        )
        save(
            bar_chart(
                [m[2:] for m in v], [sum(x) / len(x) for x in v.values()],
                title=f"{t} MONTHLY AVG VOLUME",
            ),
            f"{t}_03_monthly_volume.png",
        )
    wide = monthly_close_pivot(df, tickers).collect()
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
    # heatmap; datavisualization.py:378-389 boxplot, :652,770 scatter,
    # :699,714 corr/cov heatmaps) — every input is a REPORT-grain
    # aggregate or an engine-side five-number summary; raw facts never
    # reach the driver.
    from .operators.stock_olap import quarterly_price
    from .sources.charts import box_plot, heatmap, scatter_chart

    qp = quarterly_price(df, tickers).collect()
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
    from pyspark.sql import Window

    wd = Window.partitionBy("Ticker").orderBy("Date")
    with_ret = df.withColumn(
        "Return",
        (F.col("Close") / F.lag("Close").over(wd) - 1.0) * 100.0,
    )  # C5 pct_change rule (functions/derivations.py)
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
    sc = (
        with_ret.filter(F.col("Return").isNotNull())
        .select("Ticker", "Date", "Volume", "Return")
        .orderBy("Ticker", "Date")
        .collect()
    )
    by_t: dict[str, list[tuple[float, float]]] = {}
    for r in sc:
        by_t.setdefault(r.Ticker, []).append((float(r.Volume), r.Return))
    save(
        scatter_chart(
            sorted(by_t.items()),
            title="VOLUME VS DAILY RETURN",
        ),
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

    spark = get_spark("stock-pipeline")
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
