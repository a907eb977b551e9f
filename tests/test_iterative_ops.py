"""Equivalence checks for the iterative operators beyond the DuckDB
oracle: PageRank vs an independent driver-side power iteration, the
fixed-point PC1 vs numpy's exact eigendecomposition, and as-of
tolerance limit behavior."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from stock_data_warehouse_analytics_spark.plans.registry import QUERIES, get_queries
from stock_data_warehouse_analytics_spark.sources.tables import load_table

from .conftest import SF_SMALL

get_queries()


def test_pagerank_matches_driver_side_power_iteration(spark):
    """Recompute the same integer power iteration in plain Python from
    the collected edge list — the distributed loop must agree exactly."""
    edges = (
        load_table(spark, SF_SMALL, "lineitem")
        .join(
            load_table(spark, SF_SMALL, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            load_table(spark, SF_SMALL, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            load_table(spark, SF_SMALL, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    out_w: dict[int, int] = {}
    nodes = set()
    for r in edges:
        out_w[r.src] = out_w.get(r.src, 0) + r.w
        nodes.update((r.src, r.dst))
    n = len(nodes)
    rank = {v: 1_000_000 // n for v in nodes}
    base = (1_000_000 * 15 // 100) // n
    for _ in range(8):
        contrib: dict[int, int] = {}
        for r in edges:
            part = (rank[r.src] * r.w * 85) // (100 * out_w[r.src])
            contrib[r.dst] = contrib.get(r.dst, 0) + part
        rank = {v: base + contrib.get(v, 0) for v in nodes}

    name_rows = load_table(spark, SF_SMALL, "nation").collect()
    names = {r.n_nationkey: r.n_name for r in name_rows}
    expected = {names[v]: rk for v, rk in rank.items()}

    got = {
        r.nation: r.rank_micro
        for r in QUERIES["graph_pagerank_nations"].fn(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_pc1_matches_numpy_power_iterate(spark):
    """Contract: the distributed fixed-point loop equals the
    mathematical power iterate at the same k (all-ones start, max-norm
    rescale) — fixed-point floor noise stays tiny.  Proximity to the
    true eigenvector is spectrum-dependent (λ1/λ2 ≈ 1.07 here), so the
    eigh comparison is a looser envelope check."""
    from stock_data_warehouse_analytics_spark.plans.emb_iter import PI_ITERS

    rows = load_table(spark, SF_SMALL, "embeddings").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc
    u = np.ones(cov.shape[0])
    for _ in range(PI_ITERS):
        u = cov @ u
        u = u / np.abs(u).max()

    got_rows = QUERIES["emb_power_iteration_pc1"].fn(spark, SF_SMALL).collect()
    got = np.array([r.pc1_micro for r in sorted(got_rows, key=lambda r: r.dim)])
    cos_iter = abs(got @ u) / (np.linalg.norm(got) * np.linalg.norm(u))
    assert cos_iter > 0.999, cos_iter

    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos_top = abs(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top))
    # 40 rounds at λ2/λ1≈0.93 → residual ~(0.93)^40; loose envelope
    assert cos_top > 0.95, cos_top


def test_asof_tolerance_limits(spark):
    """tolerance=∞ must equal the plain as-of; tolerance=0 must keep
    only equal-timestamp matches."""
    from stock_data_warehouse_analytics_spark.plans.joins_advanced import asof_join

    e = load_table(spark, SF_SMALL, "events")
    probe = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    build = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    plain = asof_join(probe, build, on="user_id", value_col="v")
    huge = asof_join(
        probe, build, on="user_id", value_col="v", tolerance_us=1 << 62
    )
    assert (
        plain.orderBy("user_id", "ts").collect()
        == huge.orderBy("user_id", "ts").collect()
    )

    zero = asof_join(probe, build, on="user_id", value_col="v", tolerance_us=0)
    matched = zero.filter(F.col("v").isNotNull())
    eq_ts = probe.join(
        build.select(F.col("user_id").alias("bu"), F.col("ts").alias("bts")),
        (F.col("user_id") == F.col("bu")) & (F.col("ts") == F.col("bts")),
        "left_semi",
    )
    assert matched.count() == eq_ts.count()


def test_product_quantization_contract(spark):
    """PQ contract (the rows-only substitute check cited in the query
    docstring): all 8 subspaces present with codebooks no larger than
    16, every subspace's reconstruction distortion strictly beats the
    global-mean baseline (a 1-centroid codebook), and the fit is
    deterministic (fixed seeds → identical distortion on re-run)."""
    get_queries()
    rows = {
        r.subspace: r
        for r in QUERIES["emb_product_quantization"].fn(spark, SF_SMALL).collect()
    }
    assert set(rows) == set(range(8))

    vecs = np.array(
        [
            r.embedding
            for r in load_table(spark, SF_SMALL, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    for s, r in rows.items():
        assert r.n_vectors == len(vecs)
        assert 1 <= r.n_codes_used <= 16
        sub = vecs[:, s * 8 : (s + 1) * 8]
        baseline = float(((sub - sub.mean(axis=0)) ** 2).sum())
        assert r.distortion < baseline, (s, r.distortion, baseline)

    again = {
        r.subspace: r.distortion
        for r in QUERIES["emb_product_quantization"].fn(spark, SF_SMALL).collect()
    }
    assert again == {s: r.distortion for s, r in rows.items()}


@pytest.mark.parametrize("eow", [None, "</w>"])
def test_bpe_train_merges_matches_python_reference(spark, monkeypatch, eow):
    """Differential check of the BPE trainer, on both its routes (the
    driver merge loop and the relational loop), against a
    driver-side pure-Python reference (same tokenization, same greedy
    leftmost-non-overlapping merge, same (count desc, left, right)
    tie-break) on the sf0.001 corpus — pins the pair counting, the
    argmax selection AND the fold-merge rewrite round by round, in
    BOTH modes: plain character symbols and the subword-nmt
    end-of-word marker (last character fused with ``</w>``)."""
    from collections import Counter

    from stock_data_warehouse_analytics_spark.operators import localrel
    from stock_data_warehouse_analytics_spark.operators.text_ml import (
        bpe_train_merges,
    )

    docs = load_table(spark, SF_SMALL, "documents")

    # ---- pure-Python reference
    freq: Counter = Counter()
    for r in docs.select("text").collect():
        for w in (r.text or "").strip().lower().split():
            if w:
                freq[w] += 1
    if eow is None:
        vocab = {w: list(w) for w in freq}
    else:
        vocab = {w: list(w[:-1]) + [w[-1] + eow] for w in freq}

    def ref_rounds(n):
        out = []
        for rnd in range(1, n + 1):
            pairs: Counter = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += freq[w]
            if not pairs:
                break
            (l, r), cnt = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            m = l + r
            out.append((rnd, l, r, m, cnt))
            for w, syms in vocab.items():
                new, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        new.append(m)
                        i += 2
                    else:
                        new.append(syms[i])
                        i += 1
                vocab[w] = new
        return out

    expected = ref_rounds(8)
    for max_rows in (localrel.DRIVER_MAX_ROWS, 0):  # driver, relational
        monkeypatch.setattr(localrel, "DRIVER_MAX_ROWS", max_rows)
        merges, final_vocab = bpe_train_merges(docs, rounds=8, eow=eow)
        got = [
            (r.round, r.left, r.right, r.merged, r.pair_count)
            for r in merges.orderBy("round").collect()
        ]
        assert got == expected

        # final symbolization also matches the reference, word for word
        got_syms = {r.w: list(r.syms) for r in final_vocab.collect()}
        assert got_syms == vocab


def test_bpe_encode_cost_invariants(spark):
    """Substitute check for rows-only ``text_bpe_encode_cost``: the
    per-source report must satisfy the algebraic invariants of BPE
    (each word is ≥1 and ≤len(word) symbols, so
    ws_tokens ≤ bpe_symbols ≤ chars), and the corpus-wide totals must
    equal independently computed plain-expression sums (no rows lost
    in the vocab join).  The vocab itself is word-for-word
    differential-verified in test_bpe_train_merges_matches_python_*."""
    from stock_data_warehouse_analytics_spark.functions.text import tokens

    rows = QUERIES["text_bpe_encode_cost"].fn(spark, SF_SMALL).collect()
    assert rows, "empty report"
    for r in rows:
        assert r.ws_tokens <= r.bpe_symbols <= r.chars, r

    docs = load_table(spark, SF_SMALL, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") > 0
    )
    exp = tok.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("w")).alias("c")
    ).first()
    assert sum(r.ws_tokens for r in rows) == exp.n
    assert sum(r.chars for r in rows) == exp.c


def test_irls_logreg_matches_numpy(spark):
    """Differential check of the distributed IRLS trainer against a
    driver-side numpy IRLS (identical update rule, weight floor and
    ridge) on a seeded synthetic logit problem — pins the moment
    aggregation and the Newton solve.  Also checks the fit actually
    recovers the planted coefficient signs."""
    import numpy as np

    from stock_data_warehouse_analytics_spark.operators.logreg import (
        irls_logreg,
    )

    rng = np.random.default_rng(5)
    n = 2000
    X = np.column_stack([np.ones(n), rng.normal(size=(n, 2))])
    true_beta = np.array([-0.5, 1.5, -2.0])
    p = 1 / (1 + np.exp(-X @ true_beta))
    y = (rng.random(n) < p).astype(float)

    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(t)) for (a, b, c), t in zip(X, y)],
        "x0 double, x1 double, x2 double, y double",
    )
    got = np.array(
        irls_logreg(df, feature_cols=["x0", "x1", "x2"], label_col="y", iters=8)
    )

    beta = np.zeros(3)
    for _ in range(8):
        xb = X @ beta
        pr = 1 / (1 + np.exp(-xb))
        w = np.maximum(pr * (1 - pr), 1e-9)
        z = xb + (y - pr) / w
        A = (X * w[:, None]).T @ X + 1e-6 * np.eye(3)
        beta = np.linalg.solve(A, (X * w[:, None]).T @ z)

    assert np.allclose(got, beta, rtol=1e-6, atol=1e-8), (got, beta)
    assert np.sign(got[1]) == 1 and np.sign(got[2]) == -1


def test_kcenter_covers_planted_clusters(spark):
    """Farthest-first k-center must pick exactly one representative
    per well-separated planted cluster (the 2-approx covering
    guarantee made concrete), produce a non-increasing dist_to_set
    sequence, and be run-to-run deterministic."""
    from stock_data_warehouse_analytics_spark.operators.similarity import (
        kcenter_select,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 16)) * 10
    rows = []
    for ci, c in enumerate(centers):
        for j in range(10):
            v = c + 0.01 * rng.normal(size=16)
            rows.append((ci * 100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out1 = kcenter_select(df, n_select=8).collect()
    sel1 = [(r.sel_rank, r.vec_id, r.dist_to_set) for r in out1]
    assert sorted({i // 100 for _, i, _ in sel1}) == list(range(8))
    dists = [d for _, _, d in sel1][1:]  # first pick has no prior set
    assert dists == sorted(dists, reverse=True) or all(
        a >= b - 1e-9 for a, b in zip(dists, dists[1:])
    )

    out2 = kcenter_select(df, n_select=8).collect()
    assert sel1 == [(r.sel_rank, r.vec_id, r.dist_to_set) for r in out2]


def test_bpe_fold_merge_adversarial_overlaps(spark):
    """The array-fold BPE merge must equal greedy leftmost
    non-overlapping on adversarial inputs — self-overlapping pairs
    ('aaaa' under (a,a)), interleavings, and pair-at-both-ends — for
    several merge pairs evaluated in ONE Spark job."""
    from pyspark.sql import functions as F

    words = ["aaaa", "aaab", "abab", "baaa", "aabbaabb", "bbbb", "abba", "a", "ba"]
    merges = [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]

    def greedy(word, l, r):
        syms, out, i = list(word), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def fold_expr(l, r):
        lc, rc, mc = F.lit(l), F.lit(r), F.lit(l + r)
        return F.aggregate(
            F.split(F.col("w"), ""),
            F.array().cast("array<string>"),
            lambda acc, s2: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lc)
                & (s2 == rc),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mc)
                ),
            ).otherwise(F.concat(acc, F.array(s2))),
        )

    df = spark.createDataFrame([(w,) for w in words], "w string")
    cols = [fold_expr(l, r).alias(f"m{i}") for i, (l, r) in enumerate(merges)]
    got = df.select("w", *cols).collect()
    for row in got:
        for i, (l, r) in enumerate(merges):
            assert list(row[f"m{i}"]) == greedy(row.w, l, r), (
                row.w, (l, r), list(row[f"m{i}"]),
            )


def test_bpe_encode_incremental_oov(spark):
    """Substitute check for rows-only ``text_bpe_encode_incremental``:
    (a) OOV accounting is exact — the reported oov_tokens per source
    equals an independent count of odd-half token occurrences whose
    word is absent from the even-half vocabulary; (b) conservation —
    ws_tokens match an independent plain-expression count; (c) BPE
    algebra — known words contribute 1 ≤ n_syms ≤ len(word) and OOV
    words exactly len(word), so ws_tokens ≤ bpe_symbols ≤ chars."""
    from pyspark.sql import functions as F

    from stock_data_warehouse_analytics_spark.functions.text import tokens
    from stock_data_warehouse_analytics_spark.plans.tokenizer import (
        trained_bpe_half,
    )

    rows = {
        r.source: r
        for r in QUERIES["text_bpe_encode_incremental"].fn(spark, SF_SMALL).collect()
    }
    assert rows, "empty report"

    from stock_data_warehouse_analytics_spark.plans.tokenizer import (
        VOCAB_KEEP,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    _, vocab = trained_bpe_half(spark, SF_SMALL)
    ranked = sorted(
        ((r.freq, r.w) for r in vocab.select("w", "freq").collect()),
        key=lambda t: (-t[0], t[1]),
    )
    vocab_words = {w for _f, w in ranked[:VOCAB_KEEP]}
    tok = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .collect()
    )
    import collections

    want_tokens: collections.Counter = collections.Counter()
    want_oov: collections.Counter = collections.Counter()
    want_chars: collections.Counter = collections.Counter()
    for r in tok:
        want_tokens[r.source] += 1
        want_chars[r.source] += len(r.w)
        if r.w not in vocab_words:
            want_oov[r.source] += 1

    assert set(rows) == set(want_tokens)
    for src, r in rows.items():
        assert r.ws_tokens == want_tokens[src]
        assert r.oov_tokens == want_oov[src], (src, r.oov_tokens, want_oov[src])
        assert r.ws_tokens <= r.bpe_symbols <= want_chars[src]
    # the odd half must actually contain unseen words, or the query
    # proves nothing
    assert sum(want_oov.values()) > 0
