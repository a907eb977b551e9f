"""The stock refresh on synthetic raw CSVs, and its CSV sink.

- ``write_csv_single`` writes exactly the bytes of Spark's own CSV writer
  (``coalesce(1).write.option("header", True).csv``, kept here as the
  reference writer) for adversarial names and values, and for 0 rows;
- ``run_etl`` → ``run_olap`` → ``run_mining`` → ``run_charts`` over
  FIXTURES.md §1-style raw files: Date-ordered per-ticker files, and a
  cached fact with no Exchange and no global Sort under it, at most one
  partition per input file, each partition in Date order; also with null
  sentinels in one ticker's Close and Volume cells, and over the
  reference's six tickers;
- the fact's two routes, one Date-sorted partition (input under the byte
  cap) and the scan's file splits (over it), per-ticker files and the
  all-CSV fallback alike: the same rows from all 12 facade methods, no
  shuffle above the one-partition fact, one CSV scan and no job to load;
- the ETL in one scan and one collect: two jobs for ``run_etl``,
  lower-case volume suffixes, files with different headers joined by
  name, a file that matches two ticker patterns under both tickers, and
  Spark's names for empty or repeated header names;
- no case mapping and no ``input_file_name`` in the stock-path modules;
- a dashboard opened after the refresh in the same session reads the
  refresh's fact (one raw load) and serves the same tables;
- ``run_olap`` runs over one ticker; ``run_mining`` over one or two
  tickers raises k-means' declared error;
- k-means on generated raw files at its exact bound (12 tickers, the
  optimal partition) and past it (13 tickers, Lloyd, every refresh
  output written).

Needs no reference data.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import random
import re

import pytest

from stock_data_warehouse_analytics_spark.sources.stock_csv import write_csv_single

from .conftest import jobs_of


def _spark_writer_bytes(df, out_dir) -> bytes:
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(str(out_dir))
    (part,) = [
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".csv")
    ]
    return (out_dir / part).read_bytes()


def _leftovers(root) -> list[str]:
    return [
        f
        for _, _, files in os.walk(root)
        for f in files
        if f.endswith((".crc", ".tmp")) or "_spark_tmp" in f or f == "_SUCCESS"
    ]


def test_sink_bytes_match_spark_writer(spark, tmp_path):
    names = [" lead", 'q"x', "a,b", "", "n\nl", "Ngày", "ts", "n"]
    schema = (
        "c0 string, c1 double, c2 date, c3 long, c4 string, c5 double, c6 timestamp, c7 int"
    )
    rows = [
        ("", 1e-4, dt.date(2024, 1, 2), 2**62, 'say "hi"', -0.0,
         dt.datetime(2025, 9, 26, 14, 30, 5, 123000), 0),
        (None, 1.5e10, None, -1, "x,y", math.nan, None, None),
        ("two\nlines", math.inf, dt.date(1999, 12, 31), None, " pad ", -math.inf,
         dt.datetime(2024, 2, 29), -7),
        ("é", None, dt.date(2025, 9, 26), 0, "back\\slash", 36500.0,
         dt.datetime(2000, 1, 1, 0, 0, 0, 1), 2**31 - 1),
        (None, None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema).toDF(*names)
    for case, frame in (("rows", df), ("empty", df.limit(0))):
        out = tmp_path / case
        out.mkdir()
        want = _spark_writer_bytes(frame, tmp_path / f"ref_{case}")
        write_csv_single(frame, str(out / "t.csv"))
        assert (out / "t.csv").read_bytes() == want, case
        assert os.listdir(out) == ["t.csv"]  # no temp file, _SUCCESS or .crc
    assert b'"q\\"x"' in want and want.count(b"\n") == 2  # header only


HEADER = ["Ngày", "Lần cuối", "Mở", "Cao", "Thấp", "KL", "% Thay đổi"]
NULL_CELLS = {5: (1, "—"), 10: (1, ""), 31: (5, "—"), 40: (5, "")}  # row: Close/KL


def _write_raw(
    path, ticker: str, n: int, seed: int, null_prices: bool = False
) -> list[dt.date]:
    """One raw file in the scrape format: BOM, fully quoted Vietnamese
    headers, newest row first, thousands separators, K/M volumes and a
    null sentinel in Open; with ``null_prices``, sentinels in two Close
    and two Volume cells as well.  Returns the dates written."""
    rng = random.Random(seed)
    days = [dt.date(2024, 1, 2) + dt.timedelta(days=13 * i) for i in range(n)]
    walk = rng.uniform(10_000, 80_000)
    lines = []
    for i, d in enumerate(days):
        walk *= math.exp(rng.gauss(0, 0.02))
        close = walk * (2.5 if i == n // 2 else 1.0)  # one |z| > 2 outlier
        opn = close * (1 + rng.gauss(0, 0.01))
        hi, lo = max(opn, close) * 1.01, min(opn, close) * 0.99
        vol = f"{rng.uniform(1, 999):.2f}{rng.choice('KM')}"
        cells = [d.strftime("%d/%m/%Y"), f"{close:,.1f}", f"{opn:,.1f}",
                 f"{hi:,.1f}", f"{lo:,.1f}", vol, f"{rng.gauss(0, 2):.2f}%"]
        if i == 3:
            cells[2] = "—"
        if null_prices and i in NULL_CELLS:
            col, sentinel = NULL_CELLS[i]
            cells[col] = sentinel
        lines.append(cells)
    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n")
        w.writerow(HEADER)
        w.writerows(reversed(lines))
    return days


TICKERS = ["AST", "HVN", "NCT"]
PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stock_data_warehouse_analytics_spark",
)


def _refresh(spark, raw, out):
    from stock_data_warehouse_analytics_spark.pipeline import (
        run_charts,
        run_etl,
        run_mining,
        run_olap,
    )

    fact = run_etl(spark, str(raw), str(out / "cleaned"))
    run_olap(spark, fact, str(out / "olap_results"))
    run_mining(spark, fact, str(out / "datamining_results"))
    run_charts(spark, fact, str(out / "olap_charts"))
    return fact


def _check_refresh(spark, tmp_path, null_prices: bool, tickers=TICKERS):
    raw = tmp_path / "raw"
    raw.mkdir()
    days = {
        t: _write_raw(raw / f"{t}.csv", t, 60, seed, null_prices and t == "HVN")
        for seed, t in enumerate(tickers)
    }
    out = tmp_path / "out"

    fact = _refresh(spark, raw, out)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "Exchange" not in plan and not re.search(r"Sort \[[^]]*\], true", plan), plan
    assert fact.rdd.getNumPartitions() <= len(tickers)
    # no global order, but each partition in Date order: sums run by date
    parts = fact.rdd.mapPartitions(lambda it: [[r.Date for r in it]]).collect()
    assert sum(map(len, parts)) == 60 * len(tickers)
    assert all(p == sorted(p) for p in parts)

    assert sorted(os.listdir(out / "cleaned")) == sorted(["All.csv", *(f"{t}.csv" for t in tickers)])
    for t in tickers:
        with open(out / "cleaned" / f"{t}.csv", encoding="utf-8") as f:
            got = list(csv.DictReader(f))
        assert {r["Ticker"] for r in got} == {t}
        assert [r["Date"] for r in got] == [d.isoformat() for d in days[t]]
    all_bytes = _spark_writer_bytes(fact.orderBy("Ticker", "Date"), tmp_path / "ref_all")
    assert (out / "cleaned" / "All.csv").read_bytes() == all_bytes

    with open(out / "olap_results" / "01_quarterly_price.csv", encoding="utf-8") as f:
        assert next(csv.reader(f)) == ["Year", "Quarter", *sorted(tickers)]
    for name in sorted(os.listdir(out / "datamining_results")):
        with open(out / "datamining_results" / name, encoding="utf-8") as f:
            assert len(list(csv.reader(f))) > 1, name
    assert len(os.listdir(out / "datamining_results")) == 4
    with open(out / "datamining_results" / "02_regression_next_day.csv", encoding="utf-8") as f:
        assert sorted(r["Ticker"] for r in csv.DictReader(f)) == sorted(tickers)
    with open(out / "datamining_results" / "03_kmeans_clusters.csv", encoding="utf-8") as f:
        clusters = {r["Ticker"]: r["Cluster"] for r in csv.DictReader(f)}
    assert sorted(clusters) == sorted(tickers)
    assert set(clusters.values()) == {"0", "1", "2"}
    charts = os.listdir(out / "olap_charts")
    assert len(charts) == 3 * len(tickers) + 4
    assert all((out / "olap_charts" / c).read_bytes()[:8] == b"\x89PNG\r\n\x1a\n" for c in charts)
    assert _leftovers(out) == []
    fact.unpersist()
    return fact


def test_refresh_on_synthetic_raw(spark, tmp_path):
    _check_refresh(spark, tmp_path, null_prices=False)


def test_refresh_on_six_tickers(spark, tmp_path):
    """The reference's shape: six tickers, unsorted, through every
    refresh output, k-means included."""
    _check_refresh(
        spark, tmp_path, null_prices=False,
        tickers=["HVN", "VJC", "AST", "NCT", "SCS", "VTR"],
    )


def test_refresh_with_null_prices_and_volumes(spark, tmp_path):
    """Sentinels in one ticker's Close and Volume cells reach the fact as
    nulls; every table and chart is still written (the charts skip null
    points, the next-day regression drops null-feature rows)."""
    fact = _check_refresh(spark, tmp_path, null_prices=True)
    hvn = fact.filter("Ticker = 'HVN'")
    assert hvn.filter("Close IS NULL").count() == 2
    assert hvn.filter("Volume IS NULL").count() == 2


TABLES = [
    ("olap_results/01_quarterly_price.csv", "quarterly_price"),
    ("olap_results/02_growth_24_25.csv", "yearly_growth"),
    ("olap_results/03_monthly_volume.csv", "monthly_volume"),
    ("olap_results/04_stats_2025.csv", "stats_panel"),
    ("datamining_results/01_regression_same_day.csv", "regression_same_day"),
    ("datamining_results/02_regression_next_day.csv", "regression_next_day"),
    ("datamining_results/03_kmeans_clusters.csv", "kmeans"),
    ("datamining_results/04_anomalies.csv", "anomalies"),
]


def test_dashboard_reads_the_refresh_fact(spark, tmp_path, monkeypatch):
    """A dashboard opened after the refresh, in the same session and after
    the refresh released its fact, serves the refresh's fact (cached again,
    one raw load in all) and the same OLAP and mining tables."""
    from stock_data_warehouse_analytics_spark.api import StockWarehouse
    from stock_data_warehouse_analytics_spark.sources import stock_csv

    loads = []
    load = stock_csv.load_stock_facts
    monkeypatch.setattr(
        stock_csv, "load_stock_facts", lambda *a, **k: loads.append(a) or load(*a, **k)
    )
    raw = tmp_path / "raw"
    raw.mkdir()
    for seed, t in enumerate(TICKERS):
        _write_raw(raw / f"{t}.csv", t, 60, seed)
    out = tmp_path / "out"
    fact = _refresh(spark, raw, out)
    fact.unpersist()

    wh = StockWarehouse(spark, str(raw))
    assert wh.fact is fact and fact.is_cached
    for name, method in TABLES:
        write_csv_single(getattr(wh, method)(), str(tmp_path / "t.csv"))
        assert (tmp_path / "t.csv").read_bytes() == (out / name).read_bytes(), name
    assert len(loads) == 1
    wh.close()


def test_mining_needs_three_tickers(spark, tmp_path):
    """k-means over one or two tickers is a declared error: sklearn's own
    message.  With two, the third raw file is header-only.  ETL and OLAP
    still run over either."""
    from stock_data_warehouse_analytics_spark.pipeline import (
        run_etl,
        run_mining,
        run_olap,
    )

    for n in (2, 1):
        raw = tmp_path / f"raw{n}"
        raw.mkdir()
        for seed, t in enumerate(TICKERS[:n]):
            _write_raw(raw / f"{t}.csv", t, 60, seed)
        if n == 2:
            with open(raw / "NCT.csv", "w", encoding="utf-8-sig", newline="") as f:
                csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n").writerow(HEADER)
        out = tmp_path / f"out{n}"
        fact = run_etl(spark, str(raw), str(out / "cleaned"))
        assert sorted(os.listdir(out / "cleaned")) == sorted(
            ["All.csv", *(f"{t}.csv" for t in TICKERS[:n])]
        )
        run_olap(spark, fact, str(out / "olap"))
        assert len(os.listdir(out / "olap")) == 4
        with open(out / "olap" / "01_quarterly_price.csv", encoding="utf-8") as f:
            assert next(csv.reader(f)) == ["Year", "Quarter", *TICKERS[:n]]
        with pytest.raises(ValueError, match=f"n_samples={n} should be >= n_clusters=3"):
            run_mining(spark, fact, str(out / "mining"))
        fact.unpersist()


def _kmeans_points(spark, raw):
    """The facade's k-means rows and the standardized features it
    clustered."""
    from stock_data_warehouse_analytics_spark.api import StockWarehouse
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        _standardize_pop,
    )

    wh = StockWarehouse(spark, str(raw))
    got = wh.kmeans().toPandas()
    wh.close()
    return got, _standardize_pop(got, ["Return", "Volume"])


def _is_lloyd_fixed_point(X, labels) -> bool:
    """Every point is nearest to its own cluster's mean."""
    import numpy as np

    means = np.array([X[labels == c].mean(0) for c in range(labels.max() + 1)])
    d2 = ((X[:, None, :] - means[None]) ** 2).sum(2)
    return bool((d2[np.arange(len(X)), labels] <= d2.min(1) + 1e-12).all())


def test_kmeans_at_the_exact_bound(spark, tmp_path):
    """12 generated tickers take the exact path: three clusters in
    restricted-growth labels (the first ticker in cluster 0), and an
    optimal partition is a Lloyd fixed point."""
    from perfbench.gen import stock_csvs

    stock_csvs(7, str(tmp_path), tickers=[f"S{i:02d}" for i in range(12)])
    got, X = _kmeans_points(spark, tmp_path)
    labels = got.Cluster.to_numpy()
    assert len(got) == 12 and sorted(set(labels)) == [0, 1, 2]
    assert all(labels[i] <= labels[:i].max(initial=-1) + 1 for i in range(12))
    assert _is_lloyd_fixed_point(X, labels)


def test_refresh_past_the_exact_bound(spark, tmp_path):
    """13 generated tickers: k-means runs Lloyd on the driver instead of
    raising, and the refresh writes all four mining tables."""
    from perfbench.gen import stock_csvs

    tickers = [f"S{i:02d}" for i in range(13)]
    raw = tmp_path / "raw"
    stock_csvs(7, str(raw), tickers=tickers)
    out = tmp_path / "out"
    _refresh(spark, raw, out).unpersist()
    mining = out / "datamining_results"
    assert sorted(os.listdir(mining)) == [
        "01_regression_same_day.csv", "02_regression_next_day.csv",
        "03_kmeans_clusters.csv", "04_anomalies.csv",
    ]
    with open(mining / "03_kmeans_clusters.csv", encoding="utf-8") as f:
        clusters = {r["Ticker"]: int(r["Cluster"]) for r in csv.DictReader(f)}
    assert sorted(clusters) == tickers
    got, X = _kmeans_points(spark, raw)
    assert dict(zip(got.Ticker, got.Cluster)) == clusters
    assert _is_lloyd_fixed_point(X, got.Cluster.to_numpy())


FACADE = [
    "quarterly_price", "yearly_growth", "monthly_volume", "stats_panel",
    "regression_same_day", "regression_next_day", "kmeans", "anomalies",
    "summary_statistics", "rolling_volatility", "cumulative_returns",
    "per_ticker_quarterly_stats",
]


@pytest.mark.parametrize(
    "names", [TICKERS, ["alpha", "beta", "gamma"]], ids=["tickers", "fallback"]
)
def test_fact_routes_serve_the_same_rows(spark, tmp_path, monkeypatch, names):
    """Raw input under ``localrel.ONE_PARTITION_MAX_BYTES`` gives a
    one-partition fact with no shuffle above it in any facade plan; a cap
    of 0 forces the other route, the scan's own file splits, not
    coalesced.  Both routes serve the same rows from every facade method
    and read the files in one CSV scan; loading starts no job on either
    (the header is read on the driver, the route is chosen from file
    sizes), and file names that match no ticker (the all-CSV fallback)
    still give the Ticker."""
    from stock_data_warehouse_analytics_spark.api import StockWarehouse
    from stock_data_warehouse_analytics_spark.operators import localrel
    from stock_data_warehouse_analytics_spark.sources import stock_csv

    raw = tmp_path / "raw"
    raw.mkdir()
    for seed, name in enumerate(names):
        _write_raw(raw / f"{name}.csv", name, 60, seed)
    scans = []
    read_raw = stock_csv.read_raw
    monkeypatch.setattr(
        stock_csv, "read_raw", lambda *a, **k: scans.append(a) or read_raw(*a, **k)
    )
    facts, jobs = {}, {}
    for route, cap in (("one", localrel.ONE_PARTITION_MAX_BYTES), ("over_cap", 0)):
        monkeypatch.setattr(localrel, "ONE_PARTITION_MAX_BYTES", cap)
        jobs[route] = jobs_of(
            spark, f"load-{route}-{tmp_path.name}",
            lambda: facts.setdefault(route, stock_csv.load_stock_facts(spark, str(raw)).cache()),
        )
    assert jobs == {"one": 0, "over_cap": 0}
    assert len(scans) == 2  # one scan per load
    assert facts["one"].rdd.getNumPartitions() == 1
    assert facts["over_cap"].rdd.getNumPartitions() > 1
    tickers = sorted(r.Ticker for r in facts["one"].select("Ticker").distinct().collect())
    assert tickers == sorted(n.upper() for n in names)

    one, over_cap = (StockWarehouse.over(facts[r]) for r in ("one", "over_cap"))
    for method in FACADE:
        df = getattr(one, method)()
        rows = [repr(r) for r in df.collect()]  # repr: NaN equals NaN
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\bExchange\b|ShuffleQueryStage", plan), (method, plan)
        assert rows == [repr(r) for r in getattr(over_cap, method)().collect()], method
    for fact in facts.values():
        fact.unpersist()


def test_etl_is_one_scan_and_one_collect(spark, tmp_path):
    """``run_etl`` on a fresh session fact starts two jobs: the cache's
    build (a query stage of its own under AQE) and the one collect of
    the CSV lines that every cleaned file is written from.  No header
    inference, no distinct-ticker job, no job per sink."""
    from stock_data_warehouse_analytics_spark.pipeline import run_etl

    raw = tmp_path / "raw"
    raw.mkdir()
    for seed, t in enumerate(TICKERS):
        _write_raw(raw / f"{t}.csv", t, 60, seed)
    facts = []
    out = tmp_path / "cleaned"
    jobs = jobs_of(
        spark, f"etl-{tmp_path.name}",
        lambda: facts.append(run_etl(spark, str(raw), str(out))),
    )
    assert jobs == 2
    assert sorted(os.listdir(out)) == sorted(["All.csv", *(f"{t}.csv" for t in TICKERS)])
    facts[0].unpersist()


def test_volume_suffix_case_is_ignored(spark):
    """Lower-case ``k/m/b`` volume suffixes parse to the values of the
    upper-case ones (the reference's ``[KkMmBb]``), truncated alike."""
    from pyspark.sql import functions as F

    from stock_data_warehouse_analytics_spark.functions.parsers import parse_volume

    cells = ["903.30K", "1.76M", "2.5B", "-0.0019K", "12", "1,234.5K", "7.1X"]
    values = spark.sql(
        "SELECT * FROM VALUES " + ", ".join(f"('{c}', '{c.lower()}')" for c in cells)
        + " AS t(u, l)"
    ).select(parse_volume(F.col("u")), parse_volume(F.col("l"))).collect()
    assert [tuple(r) for r in values] == [
        (903300, 903300), (1760000, 1760000), (2500000000, 2500000000),
        (-1, -1), (12, 12), (1234500, 1234500), (None, None),
    ]


def test_files_with_different_headers_union_by_name(spark, tmp_path):
    """Files whose headers differ are read in one scan per header line
    and joined by name: English and Vietnamese headers give the same
    columns, and a file without ``% Thay đổi`` gives null
    ChangePercent, not another column's values."""
    from stock_data_warehouse_analytics_spark.schemas import FACT_COLUMNS
    from stock_data_warehouse_analytics_spark.sources import stock_csv

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_raw(raw / "HVN.csv", "HVN", 20, 0)
    rows = [
        ["Date", "Close", "Open", "High", "Low", "Volume", "Change%"],
        ["02/01/2024", "10,000.5", "9,950.0", "10,100.0", "9,900.0", "1.5m", "0.50%"],
        ["03/01/2024", "10,200.0", "10,000.0", "10,300.0", "9,990.0", "2k", "1.99%"],
    ]
    with open(raw / "AST.csv", "w", encoding="utf-8", newline="") as f:
        csv.writer(f, lineterminator="\n").writerows(rows)
    with open(raw / "NCT.csv", "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator="\n")
        w.writerow(HEADER[:6])
        w.writerow(["04/01/2024", "5,000.0", "4,900.0", "5,100.0", "4,800.0", "3.25K"])

    fact = stock_csv.load_stock_facts(spark, str(raw))
    assert fact.columns == FACT_COLUMNS
    got = {
        (r.Ticker, str(r.Date)): (r.Close, r.Volume, r.ChangePercent)
        for r in fact.collect()
    }
    assert len(got) == 23
    assert got["AST", "2024-01-02"] == (10000.5, 1_500_000, 0.5)
    assert got["AST", "2024-01-03"] == (10200.0, 2_000, 1.99)
    assert got["NCT", "2024-01-04"] == (5000.0, 3_250, None)
    assert all(v[2] is not None for (t, _), v in got.items() if t == "HVN")


def test_file_matching_two_tickers_feeds_both(spark, tmp_path):
    """A file whose name matches two ticker patterns (``*AST*`` and
    ``*HVN*``) gives its rows to both tickers, as the reference's
    per-ticker glob loop does, in the fact and in the cleaned files."""
    from stock_data_warehouse_analytics_spark.pipeline import run_etl

    raw = tmp_path / "raw"
    raw.mkdir()
    days = _write_raw(raw / "HVN_AST.csv", "HVN", 30, 0)
    _write_raw(raw / "NCT.csv", "NCT", 30, 1)
    out = tmp_path / "cleaned"
    fact = run_etl(spark, str(raw), str(out))
    counts = {r.Ticker: r["count"] for r in fact.groupBy("Ticker").count().collect()}
    assert counts == {"HVN": 30, "AST": 30, "NCT": 30}
    assert sorted(os.listdir(out)) == ["AST.csv", "All.csv", "HVN.csv", "NCT.csv"]
    for t in ("HVN", "AST"):
        with open(out / f"{t}.csv", encoding="utf-8") as f:
            got = list(csv.DictReader(f))
        assert [r["Date"] for r in got] == [d.isoformat() for d in days]
        assert {r["Ticker"] for r in got} == {t}
    fact.unpersist()


def test_header_names_follow_spark(spark, tmp_path):
    """``read_raw`` names the columns as Spark's own header inference
    does: a BOM dropped, quotes and doubled quotes undone, leading
    blanks ignored, an empty name as ``_c<i>`` and a name repeated in
    any case as name + ``<i>``."""
    from stock_data_warehouse_analytics_spark.sources.stock_csv import read_raw

    p = tmp_path / "h.csv"
    p.write_text(
        '\ufeff"Ngày",  Close,"", "say ""hi""",close,Mở,,"a,b",ngày\n\n'
        '1,2,3,4,5,6,7,8,9\n',
        encoding="utf-8",
    )
    want = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", True)
        .csv(str(p))
    )
    got = read_raw(spark, str(p))
    assert got.columns == want.columns
    assert got.columns[1] == "Close1" and got.columns[2] == "_c2"
    assert got.collect() == want.collect()


def test_stock_path_maps_no_case():
    """No case mapping and no ``input_file_name`` on the stock path.  In
    Spark 4.1 ``upper``/``lower``/``initcap`` on UTF8_BINARY strings go
    through ICU (``spark.sql.icu.caseMappings.enabled``), whose first use
    in a JVM cost 2.17 CPU-s for one ``upper`` over 1,290 volume strings
    against 0.39 with ICU mappings off (PERF.md); the ticker comes from
    ``_metadata.file_name``."""
    modules = [
        "pipeline.py", "api.py", "sources/stock_csv.py", "functions/parsers.py",
        "functions/derivations.py", "operators/windows.py",
        *(f"operators/{m}" for m in os.listdir(os.path.join(PKG_DIR, "operators"))
          if m.startswith("stock_") and m.endswith(".py")),
    ]
    marks = re.compile(
        r"\bF\.(upper|lower|initcap)\b|input_file_name"
        r"|(?<![.\w])(upper|lower|initcap|ucase|lcase)\s*\("
    )
    offenders = []
    for rel in modules:
        with open(os.path.join(PKG_DIR, rel), encoding="utf-8") as fh:
            offenders += [
                f"{rel}:{n}" for n, line in enumerate(fh, 1) if marks.search(line)
            ]
    assert len(modules) >= 9 and offenders == []
