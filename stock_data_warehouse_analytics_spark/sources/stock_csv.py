"""Stock CSV ingestion S1–S4 (SURVEY.md §2.1) — the reference's ETL
(``preprocess_stocks.py:121-230``) as one lazy, codegen'd Spark plan.

The ticker comes from the file name (or from ``input_file_name()`` in
the all-CSV fallback): no per-ticker Python loop over rows.
:func:`load_stock_facts` takes one of two routes, chosen from the input
files' total size on disk (``os.path.getsize`` on the driver, no job):

- at most :data:`localrel.ONE_PARTITION_MAX_BYTES`: the union in ONE
  partition sorted by Date, so every aggregate, window and ``orderBy``
  above it plans no shuffle;
- above it: a union of scans, one partition per (small) file, each
  sorted by Date by :func:`clean_raw`, never globally.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.derivations import (
    average_price,
    log_return,
    return_pct,
    volatility,
)
from ..functions.parsers import parse_date, parse_number, parse_percent, parse_volume
from ..operators import localrel
from ..schemas import COL_MAP, FACT_COLUMNS, TICKERS

__all__ = [
    "standardize_columns",
    "read_raw",
    "clean_raw",
    "load_stock_facts",
    "load_cleaned",
    "write_csv_single",
]


def standardize_columns(df: DataFrame) -> DataFrame:
    """P1 — header normalization (preprocess_stocks.py:102-118): strip
    whitespace/newlines/BOM, map Vietnamese→English via COL_MAP, pass
    unknown columns through stripped."""
    renames = {}
    for c in df.columns:
        stripped = c.replace("﻿", "").replace("\n", " ").strip()
        renames[c] = COL_MAP.get(stripped, stripped)
    return df.withColumnsRenamed(renames)


def read_raw(
    spark: SparkSession, path: str, *, encoding: str = "UTF-8"
) -> DataFrame:
    """S1+S2 — raw CSV scan (preprocess_stocks.py:124-127).  ``path``
    may be a file, directory, or glob.  The reference's latin1 retry
    maps to calling again with ``encoding='ISO-8859-1'``."""
    return (
        spark.read.option("header", True)
        .option("encoding", encoding)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", True)
        .csv(path)
    )


def clean_raw(raw: DataFrame, ticker: F.Column | str | None = None) -> DataFrame:
    """ETL core (preprocess_stocks.py:121-186): standardize headers →
    attach Ticker → parse all columns (pure expressions, no UDFs) →
    derive Return/Average/Volatility/LogReturn.  No global order:
    consumers order (``run_etl``'s writes, the windows).  Rows are
    sorted by Date within each partition: no shuffle, and aggregates
    over a file sum in date order although raw files are newest first,
    so a rounded mean such as ``quarterly_price`` is the one a
    date-ordered sum gives, not one a last-bit difference flipped.

    ``ticker``: a literal string (reference's per-file mode, :200), a
    Column (scalable ``input_file_name`` mode), or None to derive from
    the filename like preprocess_stocks.py:131-136.
    """
    df = standardize_columns(raw)
    if ticker is None:
        ticker = F.upper(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.[Cc][Ss][Vv]$", 1)
        )
    elif isinstance(ticker, str):
        ticker = F.lit(ticker)

    df = df.withColumn("Ticker", ticker)
    df = df.withColumns(
        {
            "Date": parse_date(F.col("Date")),
            "Close": parse_number(F.col("Close")),
            "Open": parse_number(F.col("Open")),
            "High": parse_number(F.col("High")),
            "Low": parse_number(F.col("Low")),
            "Volume": parse_volume(F.col("Volume"))
            if "Volume" in df.columns
            else F.lit(None).cast("long"),
            "ChangePercent": parse_percent(F.col("ChangePercent"))
            if "ChangePercent" in df.columns
            else F.lit(None).cast("double"),
        }
    )
    df = df.withColumns(
        {
            "Return": return_pct(F.col("Close"), F.col("Open")),
            "Average": average_price(F.col("High"), F.col("Low")),
            "Volatility": volatility(F.col("High"), F.col("Low")),
            "LogReturn": log_return(F.col("Close"), F.col("Open")),
        }
    )
    extra = [c for c in df.columns if c not in FACT_COLUMNS]
    return df.select(*FACT_COLUMNS, *extra).sortWithinPartitions("Date")


def load_stock_facts(
    spark: SparkSession,
    input_dir: str,
    tickers: list[str] | None = None,
) -> DataFrame:
    """process_all equivalent (preprocess_stocks.py:189-230): per-ticker
    glob ``*{T}*.csv`` with all-CSV fallback, cleaned and union'd into
    the merged fact table (U1, ``pd.concat sort=False`` ≙ unionByName).

    Each ticker's files form one lazy branch of a union plan, one
    partition per (small) file.  When the globbed files total at most
    :data:`localrel.ONE_PARTITION_MAX_BYTES` on disk, the union is
    coalesced to one partition and sorted by Date within it: one
    partition satisfies every distribution, so the consumers' plans need
    no Exchange, and each ticker still sums in Date order.  Larger inputs
    keep the union's partitions.
    """
    import glob as _glob

    tickers = tickers or TICKERS
    branches, paths = [], []
    for t in tickers:
        files = sorted(_glob.glob(os.path.join(input_dir, f"*{t}*.csv")))
        if not files:
            continue
        paths += files
        branches.append(clean_raw(read_raw(spark, files), ticker=t))
    if not branches:
        paths = _glob.glob(os.path.join(input_dir, "*.csv"))
        branches = [clean_raw(read_raw(spark, os.path.join(input_dir, "*.csv")))]
    union = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches
    )
    if sum(map(os.path.getsize, paths)) <= localrel.ONE_PARTITION_MAX_BYTES:
        return union.coalesce(1).sortWithinPartitions("Date")
    return union


def load_cleaned(spark: SparkSession, path: str) -> DataFrame:
    """S3 — typed scan of already-cleaned CSVs (the ``pd.read_csv(
    'cleaned/All.csv', parse_dates=['Date'])`` entry point used by every
    downstream reference script, e.g. olap_analysis.py:29).  Explicit
    FACT_SCHEMA: no inference pass over the data, stable types."""
    from ..schemas import FACT_SCHEMA

    return (
        spark.read.schema(FACT_SCHEMA)
        .option("header", True)
        .csv(path)
    )


def write_csv_single(df: DataFrame, out_path: str) -> None:
    """S4 — single-file CSV sink with header, no index column
    (``df.to_csv(path, index=False)``, preprocess_stocks.py:183-184).

    The sinks are bounded result tables: the rows are collected on the
    driver as lines of ``to_csv`` — the generator and default options of
    Spark's CSV writer — and written to a temp file next to ``out_path``
    (a driver-local path) that then replaces it.  The header is ``to_csv``
    over the column names, so the file has the same bytes as
    ``df.coalesce(1).write.option("header", True).csv``.  Large fact
    writes should use partitioned parquet instead."""
    cols = [f"_{i}" for i in range(len(df.columns))]
    lines = df.toDF(*cols).select(F.to_csv(F.struct(*cols))).collect()
    names = df.sparkSession.sql(
        "SELECT * FROM VALUES (" + ", ".join(f":{c}" for c in cols) + ")",
        args=dict(zip(cols, df.columns)),
    )  # a local relation: to_csv over it runs no job
    header = names.select(F.to_csv(F.struct(*names.columns))).collect()[0][0]
    tmp = out_path + ".tmp"
    with open(tmp, "w", encoding="utf-8", newline="") as f:
        f.writelines(line + "\n" for line in [header, *(r[0] for r in lines)])
    os.replace(tmp, out_path)
