"""M1–M5 golden parity vs /root/reference/datamining_results/ and
pandas-replication checks for the stats module (SURVEY.md §5.2)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

REF = "/root/reference"


@pytest.fixture(scope="module")
def mining(spark):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        prepare_mining_frame,
    )
    from stock_data_warehouse_analytics_spark.sources.stock_csv import (
        load_stock_facts,
    )

    df = prepare_mining_frame(load_stock_facts(spark, f"{REF}/stock_data"))
    df.cache()
    yield df
    df.unpersist()


def _close(a, b, rtol=1e-6):
    return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-9)


def test_regression_same_day_golden(mining):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        regression_same_day,
    )

    want = pd.read_csv(f"{REF}/datamining_results/01_regression_same_day.csv")
    got = regression_same_day(mining).toPandas()
    assert list(got.Ticker) == list(want.Ticker)
    for col in ("R2_Score", "MSE", "Intercept"):
        for a, b in zip(got[col], want[col]):
            assert _close(a, b), (col, a, b)


def test_regression_next_day_golden(mining):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        regression_next_day,
    )

    want = pd.read_csv(f"{REF}/datamining_results/02_regression_next_day.csv")
    got = regression_next_day(mining).toPandas()
    assert list(got.Ticker) == list(want.Ticker)
    for col in ("R2_Score", "MSE", "Intercept"):
        for a, b in zip(got[col], want[col]):
            assert _close(a, b, rtol=1e-5), (col, a, b)


def test_kmeans_golden_co_membership(mining):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        kmeans_exact_small,
        kmeans_features,
    )

    want = pd.read_csv(f"{REF}/datamining_results/03_kmeans_clusters.csv").sort_values(
        "Ticker"
    )
    feats = kmeans_features(mining)
    got = kmeans_exact_small(feats, k=3).toPandas().sort_values("Ticker")

    assert list(got.Ticker) == list(want.Ticker)
    for col in ("Return", "Volume"):
        for a, b in zip(got[col], want[col]):
            assert _close(a, b), (col, a, b)

    # label-free comparison: identical co-membership partition
    def partition(labels):
        groups = {}
        for t, c in zip(want.Ticker, labels):
            groups.setdefault(c, set()).add(t)
        return sorted(frozenset(g) for g in groups.values())

    assert partition(got.Cluster.tolist()) == partition(want.Cluster.tolist())


def test_anomalies_golden(mining):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        zscore_anomalies,
    )

    want = pd.read_csv(f"{REF}/datamining_results/04_anomalies.csv", parse_dates=["Date"])
    got = zscore_anomalies(mining).toPandas()
    got["Date"] = pd.to_datetime(got["Date"])
    assert len(got) == len(want)
    got = got.reset_index(drop=True)
    for col in want.columns:
        for i, (a, b) in enumerate(zip(got[col], want[col])):
            if isinstance(b, float) and not isinstance(b, bool):
                if math.isnan(b):
                    assert a is None or math.isnan(a), (col, i)
                else:
                    assert _close(float(a), b), (col, i, a, b)
            else:
                assert a == b, (col, i, a, b)


# ---------------------------------------------------------------------------
# stats module vs in-test pandas replication (no CSV goldens exist — the
# reference only renders these as charts)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fact_pdf():
    files = ["HVN", "AST", "NCT", "SCS", "VJC", "VTR"]
    frames = [pd.read_csv(f"{REF}/cleaned/{t}.csv", parse_dates=["Date"]) for t in files]
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def fact_sdf(spark):
    from stock_data_warehouse_analytics_spark.sources.stock_csv import (
        load_stock_facts,
    )

    df = load_stock_facts(spark, f"{REF}/stock_data")
    df.cache()
    yield df
    df.unpersist()


def test_summary_statistics_vs_pandas(fact_sdf, fact_pdf):
    from stock_data_warehouse_analytics_spark.operators.stock_stats import (
        summary_statistics,
    )

    got = summary_statistics(fact_sdf).toPandas().set_index("Ticker")
    for t, df in fact_pdf.groupby("Ticker"):
        df = df.sort_values("Date")
        mu = df["LogReturn"].mean()
        sigma = df["LogReturn"].std()
        ann_ret = np.exp(mu * 252) - 1
        ann_vol = sigma * np.sqrt(252)
        cum = (1 + df["Return"]).cumprod()
        mdd = ((cum - cum.cummax()) / cum.cummax()).min()
        row = got.loc[t]
        assert _close(row["Mean Daily Return (%)"], mu * 100)
        assert _close(row["Annualized Return (%)"], ann_ret * 100)
        assert _close(row["Annualized Volatility (%)"], ann_vol * 100)
        assert _close(row["Sharpe Ratio"], (ann_ret - 0.03) / ann_vol)
        assert _close(row["Max Drawdown (%)"], mdd * 100, rtol=1e-5)
        assert _close(row["Average Volume"], df["Volume"].mean())


def test_rolling_volatility_vs_pandas(fact_sdf, fact_pdf):
    from stock_data_warehouse_analytics_spark.operators.stock_stats import (
        rolling_volatility,
    )

    got = (
        rolling_volatility(fact_sdf, 20)
        .toPandas()
        .sort_values(["Ticker", "Date"])
        .reset_index(drop=True)
    )
    want = fact_pdf.sort_values(["Ticker", "Date"]).reset_index(drop=True)
    want["RollingVolatility"] = (
        want.groupby("Ticker")["LogReturn"]
        .rolling(window=20)
        .std()
        .reset_index(level=0, drop=True)
    )
    a = got["RollingVolatility"].to_numpy(dtype=float)
    b = want["RollingVolatility"].to_numpy(dtype=float)
    assert len(a) == len(b)
    nan_ok = np.isnan(a) & np.isnan(b)
    assert (nan_ok | np.isclose(a, b, rtol=1e-9, atol=1e-12)).all()


def test_volume_spikes_vs_pandas(fact_sdf, fact_pdf):
    from stock_data_warehouse_analytics_spark.operators.stock_stats import (
        volume_spike_global,
        volume_spike_ma20,
    )

    # MA20 rule
    pdf = fact_pdf.sort_values(["Ticker", "Date"]).reset_index(drop=True)
    ma20 = pdf.groupby("Ticker")["Volume"].transform(
        lambda x: x.rolling(window=20).mean()
    )
    spike = pdf["Volume"] > 2.5 * ma20
    want = pdf.assign(_s=spike).groupby("_s")["Return"].apply(
        lambda x: x.abs().mean()
    )
    got = volume_spike_ma20(fact_sdf).toPandas().set_index("Is_Spike_Day")
    for flag in (False, True):
        assert _close(got.loc[flag, "Mean Absolute Return"], want.loc[flag])

    # global μ+2σ rule
    stats = pdf.groupby("Ticker")["Volume"].agg(["mean", "std"])
    joined = pdf.merge(stats, on="Ticker", how="left")
    joined["IsSpike"] = joined["Volume"] > joined["mean"] + 2 * joined["std"]
    wide = (
        joined.groupby(["Ticker", "IsSpike"])["Return"]
        .apply(lambda x: np.mean(np.abs(x)))
        .unstack()
    )
    got2 = volume_spike_global(fact_sdf).toPandas().set_index("Ticker")
    for t in wide.index:
        assert _close(
            got2.loc[t, "Mean |Return| (Non-Spike)"], round(wide.loc[t, False], 4)
        )
        assert _close(
            got2.loc[t, "Mean |Return| (Spike)"], round(wide.loc[t, True], 4)
        )


def test_corr_matrices_vs_pandas(fact_sdf, fact_pdf):
    from stock_data_warehouse_analytics_spark.operators.stock_stats import (
        logreturn_corr_pairs,
        ohlcv_corr_matrix,
        rolling_corr_pair,
    )

    # per-ticker OHLCV corr
    got = ohlcv_corr_matrix(fact_sdf).toPandas()
    for t, df in fact_pdf.groupby("Ticker"):
        want = df[["Open", "High", "Low", "Close", "Volume"]].corr()
        sub = got[got.Ticker == t]
        for _, r in sub.iterrows():
            assert _close(r["corr"], want.loc[r.col_a, r.col_b]), (t, r.col_a, r.col_b)

    # cross-ticker LogReturn corr + cov
    pivot = fact_pdf.pivot(index="Date", columns="Ticker", values="LogReturn")
    want_corr, want_cov = pivot.corr(), pivot.cov()
    for cov in (False, True):
        out = logreturn_corr_pairs(fact_sdf, covariance=cov).toPandas()
        want = want_cov if cov else want_corr
        for _, r in out.iterrows():
            assert _close(r["value"], want.loc[r.ticker_a, r.ticker_b], rtol=1e-6), (
                cov, r.ticker_a, r.ticker_b,
            )

    # rolling 30d HVN-VJC corr
    roll = pivot.rolling(window=30).corr()
    want_series = roll.xs("HVN", level=1)[["VJC"]].dropna()["VJC"]
    got_roll = rolling_corr_pair(fact_sdf, "HVN", "VJC", 30).toPandas()
    assert len(got_roll) == len(want_series)
    for a, b in zip(got_roll["rolling_corr"], want_series):
        assert _close(a, b, rtol=1e-6)


# ---------------------------------------------------------------------------
# degenerate inputs (synthetic frames, no reference data needed)
# ---------------------------------------------------------------------------


def test_regression_next_day_drops_null_features(spark):
    import datetime as dt

    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        regression_next_day,
    )

    rng = np.random.default_rng(7)
    rows = []
    for ticker in ("AAA", "BBB"):
        close = 100.0
        for i in range(40):
            close += float(rng.normal())
            rows.append(
                (
                    ticker,
                    dt.date(2024, 1, 1) + dt.timedelta(days=i),
                    close + float(rng.normal()),
                    close + 2.0 + float(rng.random()),
                    close - 2.0 - float(rng.random()),
                    close,
                    float(rng.integers(1_000, 100_000)),
                )
            )
    # a sentinel-parsed null Close on one row
    rows[10] = rows[10][:5] + (None,) + rows[10][6:]
    df = spark.createDataFrame(
        rows,
        "Ticker string, Date date, Open double, High double, Low double,"
        " Close double, Volume double",
    )
    got = regression_next_day(df).toPandas()
    assert sorted(got.Ticker) == ["AAA", "BBB"]
    assert got[["R2_Score", "MSE", "Intercept"]].notna().all().all()


def _kmeans_by_product(X: np.ndarray, k: int):
    """The exact k-means as first written: every labeling in
    ``itertools.product`` order, those using fewer than ``k`` labels
    skipped, the first that beats the best by more than 1e-12 wins."""
    import itertools

    best, best_sse = None, np.inf
    for assign in itertools.product(range(k), repeat=len(X)):
        if len(set(assign)) != k:
            continue
        a = np.asarray(assign)
        sse = 0.0
        for c in range(k):
            pts = X[a == c]
            sse += float(((pts - pts.mean(axis=0)) ** 2).sum())
        if sse < best_sse - 1e-12:
            best, best_sse = a, sse
    return best


@pytest.mark.parametrize("n", [4, 5, 6, 7, 8])
def test_kmeans_exact_small_matches_product_enumeration(spark, n):
    """The restricted-growth enumeration picks the labels the product
    enumeration picked, on random features, with a duplicated ticker
    (tied partitions) and on an integer grid (many tied SSEs)."""
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        _standardize_pop,
        kmeans_exact_small,
    )

    rng = np.random.default_rng(n)
    for case in ("random", "duplicate", "grid"):
        ret = rng.normal(0, 0.01, n)
        vol = rng.uniform(1e4, 1e7, n)
        if case == "duplicate":
            ret[1], vol[1] = ret[0], vol[0]
        if case == "grid":
            ret, vol = np.round(ret * 100) / 100, np.round(vol / 1e6) * 1e6
        pdf = pd.DataFrame(
            {"Ticker": [f"T{i}" for i in range(n)], "Return": ret, "Volume": vol}
        )
        feats = spark.createDataFrame(pdf)
        got = kmeans_exact_small(feats, k=3).toPandas()
        want = _kmeans_by_product(_standardize_pop(pdf, ["Return", "Volume"]), 3)
        assert list(got.Ticker) == list(pdf.Ticker)
        assert got.Cluster.tolist() == want.tolist(), case


def test_kmeans_exact_small_rejects_fewer_groups_than_k(spark):
    from stock_data_warehouse_analytics_spark.operators.stock_mining import (
        kmeans_exact_small,
    )

    feats = spark.createDataFrame(
        [("AAA", 0.01, 1e5), ("BBB", -0.02, 3e5)],
        "Ticker string, Return double, Volume double",
    )
    with pytest.raises(ValueError, match=r"n_samples=2 .*n_clusters=3"):
        kmeans_exact_small(feats, k=3)
