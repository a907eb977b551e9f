"""Data-mining operators M1–M5 (SURVEY.md §2.9) — golden-parity targets
for ``/root/reference/datamining_results/``.

Per-group model fitting uses ``applyInPandas`` — the idiomatic Spark
replacement for the reference's "loop over ``df['Ticker'].unique()`` and
fit sklearn" anti-pattern (datamining_analysis.py:44,77; SURVEY.md
§7.5): one Arrow-batched task per group, parallel across executors,
no driver-side loop.  OLS itself is closed-form least squares via
numpy (sklearn is not available here; ``LinearRegression`` is plain
OLS, so ``lstsq`` reproduces it to float precision).

M4 k-means clusters one point per ticker.  Up to 12 tickers it is
exact: every set partition is scored and the globally optimal one wins
(the reference clusters 6).  Past 12 it runs the package's driver
Lloyd trainer (``operators/kmeans.lloyd_kernels``) seeded in md5(Ticker)
order.  Both are deterministic; the result contract is co-membership,
not label values (SURVEY.md §4.2 item 5).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .localrel import literal_df
from .windows import lag_pct_change, lead_, ordered_window, zscore

__all__ = [
    "prepare_mining_frame",
    "regression_same_day",
    "regression_next_day",
    "kmeans_features",
    "kmeans_exact_small",
    "zscore_anomalies",
]

_REG_SCHEMA = "Ticker string, R2_Score double, MSE double, Intercept double"
_EXACT_MAX_TICKERS = 12  # S(12, 3) = 86 526 partitions, scored in ~0.1 s


def prepare_mining_frame(fact: DataFrame, min_year: int = 2024) -> DataFrame:
    """datamining_analysis.py:20-23 — drop null dates, year filter,
    canonical (Ticker, Date) order."""
    return fact.na.drop(subset=["Date"]).filter(F.year("Date") >= min_year)


def _ols_fit_metrics(X: np.ndarray, y: np.ndarray) -> tuple[float, float, float]:
    """OLS with intercept; in-/out-of-sample metrics computed by caller.
    Returns (coef..., handled by caller) — here fit on given data and
    return (r2, mse, intercept) evaluated on the same data."""
    A = np.column_stack([np.ones(len(X)), X])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    pred = A @ beta
    resid = y - pred
    ss_res = float(resid @ resid)
    ss_tot = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - ss_res / ss_tot
    mse = ss_res / len(y)
    return r2, mse, float(beta[0])


def regression_same_day(mining: DataFrame, min_rows: int = 20) -> DataFrame:
    """M1 — per-ticker OLS ``Close ~ Open+High+Low+Volume``, in-sample
    R²/MSE/intercept, sorted R² desc (datamining_analysis.py:44-65).
    Golden: ``01_regression_same_day.csv``."""
    cols = ["Open", "High", "Low", "Volume", "Close"]
    base = mining.na.drop(subset=cols).select("Ticker", *cols)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_rows:  # F7 min-group-size guard
            return pd.DataFrame(columns=["Ticker", "R2_Score", "MSE", "Intercept"])
        X = pdf[["Open", "High", "Low", "Volume"]].to_numpy(dtype=float)
        y = pdf["Close"].to_numpy(dtype=float)
        r2, mse, intercept = _ols_fit_metrics(X, y)
        return pd.DataFrame(
            {
                "Ticker": [pdf["Ticker"].iloc[0]],
                "R2_Score": [r2],
                "MSE": [mse],
                "Intercept": [intercept],
            }
        )

    return (
        base.groupBy("Ticker")
        .applyInPandas(fit, schema=_REG_SCHEMA)
        .orderBy(F.desc("R2_Score"))
    )


def regression_next_day(mining: DataFrame, min_rows: int = 20) -> DataFrame:
    """M2 — next-day regression (datamining_analysis.py:67-100):
    lead target (W1), *global* population standardization of features
    (W12 — sklearn StandardScaler ddof=0 across all tickers jointly,
    the reference's deliberate leakage quirk), per-ticker temporal
    80/20 holdout (W13, ``ceil(0.2n)`` test rows like sklearn), fit on
    train, report out-of-sample R²/MSE.  Golden:
    ``02_regression_next_day.csv``.

    Global scaling is computed as an aggregate + broadcast literal join
    rather than an unpartitioned window — no single-partition shuffle
    at scale."""
    features = ["Open", "High", "Low", "Close", "Volume"]
    w = ordered_window(["Ticker"], ["Date"])
    df = (
        mining.withColumn("Target_NextDay", lead_("Close", w))
        .na.drop(subset=["Target_NextDay", *features])  # F4, before the fit
        .select("Ticker", "Date", "Target_NextDay", *features)
    )

    stats = df.select(
        *[F.avg(c).alias(f"{c}_mu") for c in features],
        *[F.stddev_pop(c).alias(f"{c}_sd") for c in features],
    )
    df = df.crossJoin(F.broadcast(stats))
    df = df.select(
        "Ticker",
        "Date",
        "Target_NextDay",
        *[
            ((F.col(c) - F.col(f"{c}_mu")) / F.col(f"{c}_sd")).alias(c)
            for c in features
        ],
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_rows:
            return pd.DataFrame(columns=["Ticker", "R2_Score", "MSE", "Intercept"])
        pdf = pdf.sort_values("Date", kind="stable")
        n = len(pdf)
        n_test = int(np.ceil(n * 0.2))  # sklearn train_test_split ceil
        train, test = pdf.iloc[: n - n_test], pdf.iloc[n - n_test :]
        A = np.column_stack(
            [np.ones(len(train)), train[features].to_numpy(dtype=float)]
        )
        beta, *_ = np.linalg.lstsq(A, train["Target_NextDay"].to_numpy(), rcond=None)
        At = np.column_stack([np.ones(len(test)), test[features].to_numpy(dtype=float)])
        y_t = test["Target_NextDay"].to_numpy(dtype=float)
        pred = At @ beta
        ss_res = float(((y_t - pred) ** 2).sum())
        ss_tot = float(((y_t - y_t.mean()) ** 2).sum())
        return pd.DataFrame(
            {
                "Ticker": [pdf["Ticker"].iloc[0]],
                "R2_Score": [1.0 - ss_res / ss_tot],
                "MSE": [ss_res / len(y_t)],
                "Intercept": [float(beta[0])],
            }
        )

    return (
        df.groupBy("Ticker")
        .applyInPandas(fit, schema=_REG_SCHEMA)
        .orderBy(F.desc("R2_Score"))
    )


def kmeans_features(mining: DataFrame) -> DataFrame:
    """A9 — per-ticker cluster features: mean pct_change Return (W2 —
    note datamining_analysis.py:107 *overwrites* the ETL Return with
    pct_change) and mean Volume."""
    w = ordered_window(["Ticker"], ["Date"])
    feats = mining.withColumn("Return", lag_pct_change("Close", w))
    return (
        feats.groupBy("Ticker")
        .agg(F.avg("Return").alias("Return"), F.avg("Volume").alias("Volume"))
        .na.drop()
        .orderBy("Ticker")
    )


def _standardize_pop(pdf: pd.DataFrame, cols: list[str]) -> np.ndarray:
    X = pdf[cols].to_numpy(dtype=float)
    return (X - X.mean(axis=0)) / X.std(axis=0)  # ddof=0 (StandardScaler)


def _restricted_growth(n: int, k: int) -> np.ndarray:
    """Every partition of ``n`` items into exactly ``k`` blocks, one row
    each in restricted-growth form (item 0 has label 0, each item's
    label is at most one more than the largest label before it), rows
    in lexicographic order.  A labeling's restricted-growth form is the
    first labeling of its partition in ``itertools.product`` order."""
    labels = np.zeros((1, 1), dtype=np.int64)
    top = np.zeros(1, dtype=np.int64)  # largest label so far, per row
    for _ in range(1, n):
        width = np.minimum(top + 2, k)  # next label: 0 .. min(top+1, k-1)
        row = np.repeat(np.arange(len(labels)), width)
        nxt = np.arange(len(row)) - np.repeat(np.cumsum(width) - width, width)
        labels = np.column_stack([labels[row], nxt])
        top = np.maximum(top[row], nxt)
    return labels[top == k - 1]


def kmeans_exact_small(features: DataFrame, k: int = 3) -> DataFrame:
    """M4 k-means over the per-ticker features, standardized with the
    population std.  Up to ``_EXACT_MAX_TICKERS`` rows it is globally
    optimal: every set partition into ``k`` blocks is scored by its
    within-cluster SSE in one vectorized pass, and in lexicographic
    order the first one that beats the best so far by more than 1e-12
    wins; its restricted-growth labels are the Cluster ids.  Past the
    bound it is Lloyd on the driver (``operators/kmeans.lloyd_kernels``,
    10 iterations), seeded by the ``k`` tickers with the smallest
    md5(Ticker) hex digests.  Compare by co-membership, not label
    values (SURVEY.md §4.2 item 5)."""
    pdf = features.toPandas().sort_values("Ticker").reset_index(drop=True)
    n = len(pdf)
    if n < k:  # no assignment uses all k labels (sklearn raises too)
        raise ValueError(f"n_samples={n} should be >= n_clusters={k}")
    X = _standardize_pop(pdf, ["Return", "Volume"])

    if n > _EXACT_MAX_TICKERS:
        from .kmeans import lloyd_kernels

        nearest, lloyd = lloyd_kernels()
        order = np.argsort(
            [hashlib.md5(t.encode()).hexdigest() for t in pdf["Ticker"]]
        )
        best = nearest(X, lloyd(X, order, k, 10))
    else:
        labels = _restricted_growth(n, k)
        member = labels[:, :, None] == np.arange(k)  # (partition, item, block)
        means = np.einsum("pik,id->pkd", member, X) / member.sum(1)[:, :, None]
        dev = X[None] - np.take_along_axis(means, labels[:, :, None], 1)
        sse = (dev**2).sum((1, 2))
        # only a strict running minimum can beat the best by > 1e-12
        prev_min = np.minimum.accumulate(np.concatenate([[np.inf], sse[:-1]]))
        best, best_sse = None, np.inf
        for i in np.flatnonzero(sse < prev_min):
            if sse[i] < best_sse - 1e-12:
                best, best_sse = labels[i], sse[i]
    pdf["Cluster"] = best
    return literal_df(
        features.sparkSession,
        pdf.itertuples(index=False),
        "Ticker string, Return double, Volume double, Cluster bigint",
    )


def zscore_anomalies(mining: DataFrame, threshold: float = 2.0) -> DataFrame:
    """M5 — per-ticker z-score on Close (ddof=1), |z| > 2, sorted
    (Ticker, Date) (datamining_analysis.py:123-131).  Golden:
    ``04_anomalies.csv`` — which carries the pct_change-overwritten
    Return column (line 107 runs before line 127)."""
    w = ordered_window(["Ticker"], ["Date"])
    df = mining.withColumn("Return", lag_pct_change("Close", w))
    df = df.withColumn("Z_Score", zscore("Close", ["Ticker"]))
    return df.filter(F.abs("Z_Score") > threshold).orderBy("Ticker", "Date")
