"""Stock CSV ingestion S1–S4 (SURVEY.md §2.1) — the reference's ETL
(``preprocess_stocks.py:121-230``) as one lazy, codegen'd Spark plan.

:func:`load_stock_facts` reads every raw file in ONE CSV scan (one per
distinct header line, normally exactly one) and starts no Spark job:
:func:`read_raw` reads the header on the driver instead of running
Spark's header-inference job, and the ticker comes from each row's
``_metadata.file_name`` through a literal map built on the driver from
the per-ticker globs.  No expression on this path maps case: Spark's
``upper``/``lower`` go through ICU, whose first use in a JVM costs
seconds of CPU (PERF.md).  The load takes one of two routes, chosen
from the input files' total size on disk (``os.path.getsize`` on the
driver, no job):

- at most :data:`localrel.ONE_PARTITION_MAX_BYTES`: the scan in ONE
  partition sorted by (Date, ticker), so every aggregate, window and
  ``orderBy`` above it plans no shuffle;
- above it: the scan's own file splits, each sorted the same way, never
  globally.
"""

from __future__ import annotations

import codecs
import csv
import glob
import io
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

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
    "csv_lines",
    "write_lines",
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


# Java's String.trim: what Spark strips before it calls a line blank
_JAVA_TRIM = "".join(map(chr, range(33)))


def _header_line(path: str, encoding: str) -> str | None:
    """The first non-blank line of the file at ``path``, without a
    leading UTF-8 BOM or the line break (Hadoop's line reader drops the
    BOM and splits at ``\\n``, ``\\r\\n`` or ``\\r``); None for a file
    with no such line."""
    with open(path, "rb") as f:
        if f.read(3) != codecs.BOM_UTF8:
            f.seek(0)
        text = io.TextIOWrapper(f, encoding=encoding, errors="replace")
        line = next((s for s in text if s.strip(_JAVA_TRIM)), None)
    return None if line is None else line.rstrip("\n")


def _first_file(path: str) -> str | None:
    """The first file, in name order, that ``path`` (a file, directory
    or glob) names; a directory's hidden (``.``, ``_``) files excluded."""
    for p in sorted(glob.glob(path)):
        if os.path.isdir(p):
            p = _first_file(os.path.join(p, "[!._]*"))
        if p is not None:
            return p
    return None


def _header_names(line: str) -> list[str]:
    """The column names Spark's CSV reader gives the header ``line``
    under :func:`read_raw`'s options: fields split with ``"`` as quote
    and escape, leading whitespace ignored; then Spark's header rule
    (``CSVUtils.makeSafeHeader``, case-insensitive analysis): an empty
    name becomes ``_c<i>``, a name that occurs twice or more ignoring
    case becomes name + ``<i>``."""
    fields = next(csv.reader([line], quotechar='"', doublequote=True, skipinitialspace=True))
    folded = [f.lower() for f in fields]
    return [
        f"_c{i}" if not f else f"{f}{i}" if folded.count(f.lower()) > 1 else f
        for i, f in enumerate(fields)
    ]


def read_raw(
    spark: SparkSession, path: str | list[str], *, encoding: str = "UTF-8"
) -> DataFrame:
    """S1+S2 — raw CSV scan (preprocess_stocks.py:124-127).  ``path``
    may be a file, a directory, a glob or a list of files.  The schema
    is all strings, named by :func:`_header_names` from the first
    non-blank line of the first file, read on the driver: the scan
    starts no inference job.  Spark still skips the first line of every
    file.  A first file without a header line leaves the schema to
    Spark's inference.  The reference's latin1 retry maps to calling
    again with ``encoding='ISO-8859-1'``."""
    first = _first_file(path if isinstance(path, str) else path[0])
    line = None if first is None else _header_line(first, encoding)
    reader = (
        spark.read.option("header", True)
        .option("encoding", encoding)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", True)
    )
    if line is not None:
        reader = reader.schema(
            StructType([StructField(n, StringType()) for n in _header_names(line)])
        )
    return reader.csv(path)


def clean_raw(raw: DataFrame, ticker: F.Column | str) -> DataFrame:
    """ETL core (preprocess_stocks.py:121-186): standardize headers →
    attach Ticker → parse all columns (pure expressions, no UDFs) →
    derive Return/Average/Volatility/LogReturn.  No order: consumers
    order (:func:`load_stock_facts`, ``run_etl``'s writes, the windows).

    ``ticker``: a literal string (reference's per-file mode, :200) or a
    Column (:func:`load_stock_facts`' file-name map).
    """
    df = standardize_columns(raw)
    if isinstance(ticker, str):
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
    return df.select(*FACT_COLUMNS, *extra)


def load_stock_facts(
    spark: SparkSession,
    input_dir: str,
    tickers: list[str] | None = None,
) -> DataFrame:
    """process_all equivalent (preprocess_stocks.py:189-230): per-ticker
    glob ``*{T}*.csv`` with all-CSV fallback (ticker = the file's stem,
    upper-cased in Python), cleaned and union'd into the merged fact
    table (U1, ``pd.concat sort=False`` ≙ unionByName).

    The globs run on the driver and give each file its tickers: a file
    that matches two patterns keeps its rows under both, as the
    reference's per-ticker loop does.  The files are read in one CSV
    scan per distinct header line (normally one), joined by name; each
    row's Ticker comes from ``_metadata.file_name`` through a literal
    map.  When the files total at most
    :data:`localrel.ONE_PARTITION_MAX_BYTES` on disk, the fact is
    coalesced to one partition: one partition satisfies every
    distribution, so the consumers' plans need no Exchange.  Larger
    inputs keep the scan's file splits.  Either way each partition is
    sorted by Date, then by the ticker's place in glob order, so each
    ticker sums in Date order and tied dates keep the per-ticker
    loop's order (``regression_next_day``'s global standardization sums
    rows in this order).  Starts no job.
    """
    owners: dict[str, list[str]] = {}  # file → its tickers, in glob order
    for t in tickers or TICKERS:
        for f in sorted(glob.glob(os.path.join(input_dir, f"*{t}*.csv"))):
            owners.setdefault(f, []).append(t)
    if not owners:
        owners = {
            f: [os.path.basename(f)[: -len(".csv")].upper()]
            for f in sorted(glob.glob(os.path.join(input_dir, "*.csv")))
        }
    groups: dict[str, list[str]] = {}
    for f in owners:
        line = _header_line(f, "UTF-8")
        if line is not None:  # a blank file has no rows
            groups.setdefault(line, []).append(f)
    if not groups:
        raise FileNotFoundError(f"no raw CSV file with a header line in {input_dir}")

    # the scan's file_name is the name escaped as in a Hadoop Path's URI
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    names = {
        f: hadoop_path(os.path.abspath(f)).toUri().getRawPath().rsplit("/", 1)[-1]
        for f in owners
    }
    scans = []
    for files in groups.values():
        ticker_of = F.create_map(
            *(
                x
                for f in files
                for x in (F.lit(names[f]), F.array(*map(F.lit, owners[f])))
            )
        )
        ticker = F.explode(F.element_at(ticker_of, F.col("_metadata.file_name")))
        scans.append(clean_raw(read_raw(spark, files), ticker))
    fact = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans)
    if sum(map(os.path.getsize, owners)) <= localrel.ONE_PARTITION_MAX_BYTES:
        fact = fact.coalesce(1)
    order = list(dict.fromkeys(t for ts in owners.values() for t in ts))
    place = F.array_position(F.array(*map(F.lit, order)), F.col("Ticker"))
    return fact.sortWithinPartitions("Date", place)


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


def csv_lines(df: DataFrame, *keys: str) -> tuple[str, list]:
    """``df``'s CSV header and, in one ``collect()``, its rows as
    ``(*keys, line)``: each line is ``to_csv`` over the row — the
    generator and default options of Spark's CSV writer.  The header is
    ``to_csv`` over the column names, one ``localrel.literal_df`` row,
    so it starts no job."""
    cols = [f"_{i}" for i in range(len(df.columns))]
    key_cols = [cols[df.columns.index(k)] for k in keys]
    rows = df.toDF(*cols).select(*key_cols, F.to_csv(F.struct(*cols))).collect()
    names = localrel.literal_df(
        df.sparkSession, [df.columns], ", ".join(f"{c} string" for c in cols)
    )
    header = names.select(F.to_csv(F.struct(*names.columns))).collect()[0][0]
    return header, rows


def write_lines(out_path: str, header: str, lines) -> None:
    """Write ``header`` and ``lines`` to a temp file next to ``out_path``
    (a driver-local path) that then replaces it."""
    tmp = out_path + ".tmp"
    with open(tmp, "w", encoding="utf-8", newline="") as f:
        f.writelines(line + "\n" for line in [header, *lines])
    os.replace(tmp, out_path)


def write_csv_single(df: DataFrame, out_path: str) -> None:
    """S4 — single-file CSV sink with header, no index column
    (``df.to_csv(path, index=False)``, preprocess_stocks.py:183-184).

    The sinks are bounded result tables: :func:`csv_lines` collects the
    rows on the driver and :func:`write_lines` writes them, so the file
    has the same bytes as ``df.coalesce(1).write.option("header",
    True).csv``.  Large fact writes should use partitioned parquet
    instead."""
    header, rows = csv_lines(df)
    write_lines(out_path, header, (r[0] for r in rows))
