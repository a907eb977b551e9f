"""Parquet scans for the driver's TPC-H-ish testdata (TESTDATA.md).

Scan-level scale notes (the part that matters at 100 TB):

- Parquet + lazy DataFrames mean Catalyst pushes filters and prunes
  columns into the scan (``PushedFilters`` / ``ReadSchema`` in
  ``.explain``); callers should always ``select`` only what they need
  and filter as early as possible — the plans in ``plans/`` do.
- No caching here: at 100 TB you cannot cache the fact table; every
  query should be a single scan-shaped pipeline.  (The tiny stock fact
  table from the reference IS cached by its pipeline — bounded data.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_memo

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Memoized *lazy* DataFrames per (session, dir, table): reusing the
# DataFrame object reuses its FileIndex (file listing) and footer
# schema — ~0.3 s of fixed setup per query on local disk, and a real
# catalog/metastore round-trip at cluster scale.  This caches scan
# METADATA only; the data path stays a fresh scan per action (the
# "no caching of unbounded inputs" stance below is about data).


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    return session_memo(
        spark,
        ("tables", os.path.abspath(sf_dir), name),
        lambda: _read_table(spark, sf_dir, name),
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet has shipped with either TIMESTAMP(NANOS) —
        # which the vectorized parquet reader rejects — or plain
        # micros, depending on the generator version.  Adapt to the
        # footer: with nanosAsLong the nanos variant scans as int64,
        # which we truncate to microsecond timestamp_ntz (what DuckDB's
        # reader does implicitly, so oracle comparisons line up);
        # integer DIV keeps full precision (double division would lose
        # low bits of the ~1.7e18 nanos epoch).  The micros variant
        # just normalizes to timestamp_ntz.
        # Scope the legacy conf: the setting is global to the session, so
        # restore it when the footer turns out to be micros (otherwise a
        # later read of an unrelated TIMESTAMP(NANOS) file would silently
        # surface bigint).  In the nanos case the conf MUST stay set —
        # parquet schema conversion re-reads it at physical-plan time,
        # so restoring it would break execution of the returned (lazy)
        # DataFrame.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        df = spark.read.parquet(path)
        if df.schema["ts"].dataType.simpleString() == "bigint":
            ts = F.expr("timestamp_micros(ts DIV 1000)").cast("timestamp_ntz")
        else:
            ts = F.col("ts").cast("timestamp_ntz")
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df.withColumn("ts", ts).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the full
    ``spark.sql(...)`` surface works directly — the engine's SQL
    entry point (any query in plans/ can equivalently be written as
    SQL against these views)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
