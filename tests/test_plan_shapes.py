"""Physical-plan regression tests: the optimizations we rely on at
100 TB must actually appear in the plan — filter/column pushdown into
the parquet scan, broadcast joins for dims, partial aggregation below
fact joins, bounded shuffle counts.  A refactor that silently loses one
of these fails here long before it shows up in a cluster bill."""

from __future__ import annotations

import re

import pytest

from stock_data_warehouse_analytics_spark.plans.registry import QUERIES, get_queries

from .conftest import SF_SMALL

get_queries()


def _explain(df, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _plan(spark, name: str) -> str:
    return _explain(QUERIES[name].fn(spark, SF_SMALL))


def _final_plan(spark, name: str) -> str:
    """Execute so AQE finalizes, then read the executed plan (shows
    WholeStageCodegen star markers)."""
    df = QUERIES[name].fn(spark, SF_SMALL)
    df.collect()
    return _explain(df, "simple")


def test_q1_scan_pushdown(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_q3_broadcasts_dim_and_pushes_filters(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_top_parts_partial_agg_below_broadcast_join(spark):
    plan = _plan(spark, "top_parts_by_revenue")
    assert "BroadcastHashJoin" in plan
    # the revenue aggregation must be the join's fact-side INPUT
    # (":- HashAggregate" = left child of the join in the tree dump) —
    # i.e. partial+final agg happens before part is attached
    assert ":- HashAggregate" in plan
    # top-k must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q5_single_fact_shuffle(spark):
    plan = _plan(spark, "q5_region_nation_revenue")
    # every dim side broadcast; the only SortMergeJoin/shuffle join
    # allowed is orders⋈lineitem
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_window_queries_shuffle_once_per_partitioning(spark):
    plan = _plan(spark, "win_lead_lag_pct")
    # one hash exchange for the user_id window; the final orderBy adds
    # at most one range exchange
    hash_ex = len(re.findall(r"hashpartitioning\(", plan))
    assert hash_ex == 1, plan
    plan2 = _plan(spark, "win_rolling_stats")
    assert len(re.findall(r"hashpartitioning\(", plan2)) == 1


def test_text_stats_is_pure_map(spark):
    plan = _plan(spark, "text_stats")
    # no hash shuffle at all — stats are per-row expressions
    assert "hashpartitioning(" not in plan


# Scale-growing tables: an EXPLICIT broadcast hint whose subtree scans
# one of these raw (no Aggregate/Limit between hint and leaf) is a
# 100×-scale defect — the hint force-ships a table that grows with
# scale factor to every executor, overriding the size-based planner.
# The leaf Relation line in the analyzed plan lists raw parquet
# columns, so each table is identified by a column only it has.
_GROWING_SIGS = {
    "customer": "c_custkey#",
    "orders": "o_orderkey#",
    "lineitem": "l_linenumber#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
    "events": "event_id#",
}

# Queries whose broadcast hint over a growing-table subtree is bounded
# by a FILTER (which the Aggregate/Limit marker heuristic cannot see).
# Every entry carries its written bound — the same discipline as
# _BOUNDED_SINGLE_PARTITION below.
_BOUNDED_BROADCAST = {
    "emb_binary_quantization": "query set filtered to vec_id < 16 (16 rows) before the hint",
    "emb_matryoshka_audit": "query set filtered to vec_id < 16 (16 rows) before the hint",
    "mining_knn_label_accuracy": (
        "documented brute-force eval BASELINE: the test split is a "
        "corpus-proportional 4% hash sample (vec_id % 25 == 0); a 100 TB "
        "deployment caps the probe or swaps in IVF/LSH (see docstring)"
    ),
    "sim_hybrid_rrf": "dense query set vec_id < 8; sparse size table filtered doc_id < 8",
    "sim_mmr_diversify": "query vectors filtered to the fixed bounded query-id set",
    "sim_topk_bruteforce": "documented O(|Q|·N) baseline; query set filtered to fixed ids",
    "sim_topk_ivf": "query set filtered to fixed ids; centroid table is k rows",
    "sim_topk_ivf_probe": "query set filtered to fixed ids; probe list is (|Q|·nprobe) rows",
    "sim_topk_ivfpq": "query set filtered to fixed ids; codebook is (m·k) rows",
    "sim_topk_binary_rerank": (
        "both hints (bit-word query set, stage-2 query vectors) are "
        "filtered to vec_id < 16 (16 rows) before the hint"
    ),
    "sim_binary_cand_depth_tuning": (
        "both hints (bit-word query set, truth query vectors) are "
        "filtered to vec_id < 16 (16 rows) before the hint"
    ),
    "sim_ivf_nprobe_tuning": (
        "query set filtered to vec_id < 8 (8 rows) before the hint; "
        "the cell-size broadcast is an n_cells-row aggregate"
    ),
    "sim_topk_lsh": "documented LSH baseline; query set filtered to fixed ids",
    "text_contamination_overlap": (
        "benchmark shingle side filtered to doc_id < 20 (eval sets are "
        "small by construction) before the hint"
    ),
}


def _broadcast_hint_subtrees(df):
    """Walk the ANALYZED logical plan (pre-optimization, so hints are
    still visible as ResolvedHint nodes) and return the string form of
    every broadcast-hinted subtree."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "ResolvedHint":
            if "broadcast" in node.hints().toString().lower():
                out.append(node.toString())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


def test_registrywide_plan_audit(spark):
    """ONE pass over every registered query checking two global plan
    invariants: (1) no CartesianProduct anywhere (unbounded pairwise
    blowup), and (2) no explicit broadcast hint whose subtree scans a
    scale-growing table raw — the defect class the round-6 review
    found in warehouse_ivm_delta_join (a force-broadcast customer
    projection); this guard would have caught it.  A hinted subtree is
    accepted when an Aggregate/Limit/Deduplicate sits between hint and
    leaf (grain reduction) or the query carries a written filter-bound
    in _BOUNDED_BROADCAST."""
    bad_hints = []
    for name in sorted(QUERIES):
        df = QUERIES[name].fn(spark, SF_SMALL)
        if name not in _BOUNDED_BROADCAST:
            for sub in _broadcast_hint_subtrees(df):
                growing = sorted(
                    t
                    for t, sig in _GROWING_SIGS.items()
                    if any(
                        "Relation" in ln and "parquet" in ln and sig in ln
                        for ln in sub.splitlines()
                    )
                )
                if growing and not any(
                    m in sub
                    for m in (
                        "Aggregate",
                        "GlobalLimit",
                        "Deduplicate",
                        "Distinct",
                        "Limit",
                    )
                ):
                    bad_hints.append((name, growing))
        if name in ("emb_neardup_exact", "sim_topk_bruteforce", "sim_topk_lsh"):
            continue  # documented O(|Q|·N)/O(n²) baselines (broadcast NL)
        if name == "behavior_rfm_segments":
            # the three ONE-ROW quantile-cut tables are combined under a
            # BroadcastExchange; Catalyst folds the constant join key so
            # the 1×1×1 combine prints as CartesianProduct — bounded by
            # construction (cut tables, never data)
            continue
        plan = _explain(df)
        assert "CartesianProduct" not in plan, name
    assert not bad_hints, (
        "explicit broadcast hint over a raw scale-growing table "
        f"(drop the hint or add a written bound): {bad_hints}"
    )


# Plans where an Exchange SinglePartition is legitimate because its
# INPUT is already bounded (never the raw fact table):
# - global aggregates: the single partition receives one partial-agg row
#   per upstream task, O(#tasks) not O(rows);
# - win_rolling_corr_daily: the global window runs over the per-day
#   pivot (one row per calendar day — bounded by time span, not facts).
_BOUNDED_SINGLE_PARTITION = {
    "set_multiset_custkeys",
    "sql_q6_forecast_revenue",
    "win_rolling_corr_daily",
    # global aggregates (one partial-agg row per task reaches the final)
    "funnel_view_click_purchase",
    "q14_promo_revenue_share",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "agg_hll_sketch_union",
    # one-row scalar subqueries (global threshold / max / watermark
    # cutoff), each fed by partial aggregation — O(#tasks) rows reach
    # the single partition, never raw facts
    "q11_important_parts",
    "q15_top_supplier",
    # r10: the global order count rides the plan as a one-row
    # count_distinct scalar (broadcast cross join) instead of an eager
    # driver action — partial aggregation means O(#tasks) rows reach
    # the single partition, never raw facts (same category as q11/q15)
    "mining_basket_lift",
    "stream_left_outer_join",
    "stream_full_outer_join",
    "join_interval_overlap_bucketed",
    # whole-table aggregates to a one-row (dq_numeric_profile) or
    # three-one-row-union (dq_referential_integrity) report — partial
    # aggregation upstream, O(#tasks) rows cross the final exchange
    "dq_numeric_profile",
    "dq_referential_integrity",
    # eval_brier_decomposition: one-row global moment aggregate
    # (partial-agg upstream) + the 10-row decile-terms sum — nothing
    # larger than 10 rows crosses the final exchange
    "eval_brier_decomposition",
    # eval_lift_gain_curve: the user-grain ranking itself is
    # distributed (bucketed_global_rank); the only single-partition
    # stages are the one-row total and the cumulative-gain window over
    # the 10-row decile summary
    "eval_lift_gain_curve",
    # warehouse_wap_gate: three ONE-ROW audit aggregates (staged batch
    # counters, orphan count, prior-volume baseline — each partial-agg
    # upstream, O(#tasks) rows cross the final exchange) combined into
    # the 5-row rule report
    "warehouse_wap_gate",
    # one-row grand-total scalar (the cumulative path itself is the
    # bucketed-window cumsum — no global sort)
    "olap_abc_pareto",
    # one-row min/max bounds broadcast
    "olap_histogram_equi_width",
    # one-row cut/rate/bounds tables (quantile cuts, corpus rates,
    # spine width) built from bounded aggregates, and final one-row
    # report aggs — partial aggregation upstream in every case
    "behavior_rfm_segments",
    "mix_sqrt_temperature",
    "sketch_bloom_membership",
    # growth curve: window over a FIXED 16-point histogram
    "docs_vocab_growth",
    # one-row global aggregates (rule report, histogram bounds/terms,
    # watermark row, grand mean) — partial aggregation upstream
    "dq_consistency_rules",
    "dq_distribution_drift",
    "events_user_lifecycle",
    "mining_seasonal_indices",
    "behavior_session_conversion",
    "mining_churn_features",  # one-row watermark agg broadcast back
    # calendar-bounded month table window (like win_rolling_corr_daily)
    "olap_period_over_period",
    # count-of-counts window: distinct frequency values are ≤ √(2·rows)
    # (c1<c2<…<ck distinct counts sum ≤ rows ⇒ k(k+1)/2 ≤ rows), so the
    # single partition holds ~1.4M tiny rows even at 10^12 input rows
    "dq_key_skew_profile",
    # hot-shingle df cap: the one-row corpus-size scalar (COUNT(*) over
    # documents, partial-agg upstream, O(#tasks) rows cross the final
    # exchange) broadcast back into the shingle df filter
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_dedup_containment",
    "text_minhash_calibration",
    "dedup_exact_substring",  # same one-row corpus-size cap scalar
    "dedup_span_coverage",  # same cap scalar (reuses the spans plan)
    "contamination_span_level",  # same one-row corpus-size cap scalar
    "dedup_detector_ensemble",  # same cap scalar (minhash side)
    "dedup_rewrite_yield",  # same cap scalar (cached spans plan)
    "dedup_minhash_estimate_accuracy",  # same cap scalar (sig + shingle plans)
    "dedup_minhash_band_tuning",  # same cap scalar; the (b,r) grid side
    #   is a 50-row literal and the histogram is 10 rows
    "dedup_edit_distance_verify",  # same cap scalar (minhash pairs CTE);
    #   Levenshtein runs only on the LSH-bounded candidate pairs
    "behavior_growth_accounting",  # one-row MAX(day) censoring scalar
    #   (partial-agg upstream); the day-grain joins are hash-partitioned
    "behavior_growth_accounting_wau",  # same one-row MAX(period)
    #   censoring scalar as the daily query, at week grain
    "behavior_growth_accounting_mau",  # same, at month grain
    "sim_ivf_nprobe_tuning",  # one-row corpus-total scalar (SUM over
    #   the n_cells=16-row size table) broadcast into the 5-row curve
    "sim_ivf_ncells_tuning",  # literal local relations (Σ sweep ≤ 60
    #   centroid rows, 4 sweep points) + the |Q|×Σcells probe-prefs
    #   window (≤ 8×60 rows) + the one-row corpus-total scalar —
    #   every single-partition stage is sweep/centroid-sized, the
    #   corpus-sized assignment and size rollups are hash-partitioned
    "layout_compaction_plan",  # one-row total scalar + the next-fit
    #   running sum over the CALENDAR-bounded day-grain file frame
    "behavior_weekday_seasonality",  # one-row grand-mean scalar over
    #   the day-grain frame; the rollup itself is 7 weekday rows
    "behavior_seasonal_adjusted_anomalies",  # one-row residual-moment
    #   scalar broadcast back over the CALENDAR-bounded day-grain frame
    "sketch_misra_gries_topk",  # the global top-10 window runs over the
    #   survivor set, bounded ≤ 32 buckets × 8 counters = 256 rows by
    #   the MG construction itself
    # round-6 session-3 additions, each with a written cardinality bound:
    # unpartitioned windows over the STRATUM table — ≤ _ATT_CAP+1 = 6 rows
    # by construction (activity band is capped at 5)
    "eval_att_stratified",
    # one-row report aggregates over the ≤ |langs|² = 25-cell confusion
    # table (the corpus-sized pass is the grouped cell count upstream,
    # partial-agg map-side)
    "eval_cohens_kappa",
    # one-row hour-spine min/max bounds agg (partial agg upstream,
    # O(#tasks) rows cross the final exchange) broadcast into the
    # generated sequence
    "eval_conformal_coverage",
    # union-register estimate: one-row agg over the ≤ m = 256-row merged
    # register table, plus the global COUNT(DISTINCT user) audit column
    # (two-phase distinct, partial agg upstream — user-dimension-bounded)
    "sketch_hll_relational",
    # one-row total-moment agg over the k = 5-row fold-moment table
    "eval_kfold_cv_ols",
    # one-row warehouse high-water MAX(ts) broadcast back (the
    # mining_churn_features watermark pattern)
    "dq_freshness_sla",
    # distinct-score running count: the unpartitioned window runs over
    # per-SCORE groups — score is rounded to 6 decimals in [0,1], so
    # ≤ 10^6+1 rows at ANY corpus size — plus the final one-row agg
    "eval_auc_rank_sum",
    # one-row grand token total (SUM partial-agg upstream, O(#tasks)
    # rows cross the final exchange) broadcast into per-domain budgets;
    # the running sum itself windows per corpus, never globally
    "mix_token_budget_per_domain",
    # same one-row clean-pool token total broadcast into the budget
    # stage, plus the minhash/span corpus-size cap scalars inherited
    # from the composed upstream plans (each bounded as documented on
    # its own allowlist entry); per-corpus running sums stay windowed
    "mix_training_manifest",
    # one-row (n_pos, n) grand total over the per-score group table —
    # that table is bounded by the round-6 score domain (≤ 10^6+1 rows
    # at ANY corpus size, the eval_auc_rank_sum bound), and the total
    # itself is partial-agg upstream, O(#tasks) rows cross the exchange
    "eval_pr_curve",
    # one-row grand-total over the 3-row per-domain availability table
    # (partial-agg upstream, O(#tasks) rows cross the final exchange)
    "mix_epoch_schedule",
    # A/B family: every single-partition stage is a one-row report or
    # scalar — the six-moment Welch row, the two-count SRM row, the
    # date-bounds/cutoff scalar and the six-moment pooled CUPED row
    # (partial aggregation upstream of each; the per-user grain stays
    # hash-partitioned on user_id at any scale)
    "eval_ab_welch_ttest",
    "eval_ab_srm_check",
    "eval_ab_cuped_adjust",
    "eval_ab_diff_in_diff",
    "eval_ab_power_mde",
    # quantile-operator cut scalars (32-row global value cuts, the
    # grouped_exact_quantiles contract) + the final pivot over the
    # 2-row per-variant quantile table — all report/cut-sized
    "eval_ab_quantile_effect",
    # same one-row report shapes as the rest of the A/B family: the
    # four-count z row, the ten-moment panel row, the one-row
    # date-bounds/cutoff scalar — partial aggregation upstream
    "eval_ab_proportion_ztest",
    "eval_ab_readout_panel",
    # one-row (n_c, n_t) universe scalar + windows over the CALENDAR-
    # bounded daily grid (2 variants × days); the user-grain window is
    # hash-partitioned by user_id — never a corpus-sized partition
    "eval_ab_cumulative_tstat",
    # same shared _daily_cum_moments shapes as eval_ab_cumulative_tstat
    # (one-row universe scalar + CALENDAR-bounded daily windows), plus
    # the mSPRT running-max window over the day-grain table — ≤ study
    # span in days at ANY fact scale
    "eval_ab_msprt",
    # one-row n_metrics scalar: COUNT(*) over the already-aggregated
    # per-metric panel (≤ #distinct event types rows, partial-agg
    # upstream), broadcast back to drive the Bonferroni CASE — never
    # raw facts
    "eval_ab_metric_panel",
    # θ scalar for MaxScore pruning: global top-20 of the seed set via
    # TakeOrderedAndProject (≤ 20 rows per task reach the final
    # exchange) then a one-row MIN over those 20 — bounded at ANY
    # corpus size; the pruned scoring path stays hash-partitioned
    "text_bm25_topk_maxscore",
    # both rankings cut to 10 rows via TakeOrderedAndProject (≤ 10
    # rows per task cross the exchange) BEFORE the rank window; the
    # DCG/IDCG/MRR report aggs are one-row over those 10-row frames,
    # and the n_rel_corpus scalar is partial-agg upstream
    "eval_ranking_ndcg",
    # one-row privacy report over the ≤ |nations|×|segments| QI-class
    # census (partial aggregation upstream, O(#tasks) rows cross the
    # final exchange)
    "dq_k_anonymity",
    # one-row (T_target, T_source, V) LM-totals scalar broadcast into
    # the per-term LLR (partial-agg upstream); doc scoring stays
    # hash-partitioned, final cut is a top-20 TakeOrderedAndProject
    "mix_dsir_selection",
    # one-row τ-b report + one-row n_days scalar, both over the
    # CALENDAR-bounded daily table (≤ ~36.5k rows per century at any
    # fact scale; partial aggregation upstream of both aggregates)
    "win_kendall_tau_daily",
    # one-row (n_docs, avgdl) corpus scalar — partial aggregation
    # upstream, O(#tasks) rows cross the final exchange; broadcast
    # back into the hit-sized scored table
    "text_bm25_topk",
    # four one-row report aggregates (customer count, cohort count,
    # order marks, lineitem marks) cross-joined into the single report
    # row — partial aggregation upstream of each
    "dq_deletion_cascade",
    # one-row normalization scalar (max key / date span) + two one-row
    # summary aggs per layout over the 64-row file-box table — every
    # single-partition stage here is one-row or 64-row by construction
    "layout_zorder_skipping",
    # one-row vocab-size scalar (countDistinct over the unigram table,
    # which is vocabulary-sized by Heaps' law — ≪ corpus at any scale;
    # partial aggs upstream, O(#tasks) rows cross the final exchange)
    "text_lm_perplexity",
    # two one-row totals (n_uni, n_bi) summed over the vocabulary-sized
    # unigram/bigram count tables — same Heaps-law bound as above
    "text_pmi_collocations",
    # theta sketch: every global agg here is over k=256-row sketch
    # tables or one-row theta scalars — sketch-sized by construction
    "sketch_theta_set_difference",
    # octave window: ≤ 41 rows (one per rank octave; 2^41 ranks covers
    # any vocabulary) — bounded like docs_vocab_growth's 16-point table
    "text_zipf_octave_fit",
    # PQ: eight one-row per-subspace report aggregates unioned —
    # partial aggregation upstream, one row each crosses the exchange
    "emb_product_quantization",
    # triangle report: one-row node/edge/wedge/triangle aggregates over
    # the (bounded) candidate-pair graph — partial-agg upstream
    "graph_triangle_count",
    # CM join-size report: one-row min-of-4-dots estimate and one-row
    # exact join size — sketch-cell (1024-row) and partial-agg inputs
    "sketch_join_size_estimate",
    # one-row scalars by construction: the batch-cutoff max/min agg and
    # the shingle-cap corpus count (incremental dedup), the df-cap
    # scalar (source matrix), the single wide conditional-sum row that
    # the yield curve unpivots — partial aggregation upstream in all
    "dedup_incremental_new_batch",
    "dedup_source_matrix",
    "docs_quality_yield_curve",
    # one-row digit-count total (benford) and the grand-total window
    # over the |nations|-row aggregate (share-of-parent) — both
    # dimension/report-sized inputs, partial aggregation upstream
    "dq_benford_audit",
    "olap_share_of_parent",
    # top-K vocab cutoff: the unpartitioned row_number runs over the
    # Heaps-bounded word-frequency table (≪ corpus; ~31 words here,
    # ~10^6 at web scale — a tokenizer vocab fits one partition by
    # definition), partial-agg word counts upstream
    "text_bpe_encode_incremental",
    # NB classifier: one-row train-vocab scalar (countDistinct over the
    # Heaps-bounded token stream — vocabulary-sized, ≪ corpus) and a
    # one-row total-train-docs scalar — partial aggregation upstream,
    # O(#tasks) rows cross each final exchange
    "text_nb_langid_train",
    # one-row corpus token total (SUM over the vocabulary-sized unigram
    # count table — Heaps bound) broadcast into the per-token terms
    "text_js_divergence_sources",
    # calendar-bounded per-duration-day table (≤ study span in days at
    # ANY event volume — the olap_period_over_period bound) carries the
    # risk-set and product-limit windows; plus a one-row user-count
    # scalar (partial-agg upstream)
    "events_survival_kaplan_meier",
    # Poisson bootstrap: the percentile window runs over the B-row
    # replicate table (bounded by the B=100 literal at ANY corpus
    # size — partial (Σwx, Σw) aggregation upstream, #tasks × B rows
    # cross the exchange), plus one-row point/count scalars
    "eval_poisson_bootstrap_ci",
    # KN LM: the one-row (T, V) scalar — count of the Heaps-bounded
    # bigram table and countDistinct over the token stream (both
    # vocabulary-sized, partial aggs upstream; same bound as
    # text_lm_perplexity's vocab scalar)
    "text_lm_kneser_ney",
    # round-6 session-4 additions, each with a written cardinality
    # bound:
    # shared _daily_cum_moments shapes (one-row universe scalar +
    # CALENDAR-bounded daily windows, the eval_ab_cumulative_tstat
    # bound) plus look-index/boundary/CP windows over the SAME
    # day-grain table — ≤ study span in days at ANY fact scale
    "eval_ab_obf_spending",
    "eval_ab_futility_power",
    # BH step-up windows run over the ALREADY-AGGREGATED per-metric
    # panel (≤ #distinct event types rows, the eval_ab_metric_panel
    # bound): rank, count, and the k_max window are all panel-sized
    "eval_ab_fdr_bh",
    # two one-row grand-moment aggregates (orders total + cluster
    # census), partial aggregation upstream of both; everything after
    # is a one-row cross join
    "eval_ab_cluster_icc",
    # one-row calendar-bounds agg (MIN/MAX date, partial-agg upstream)
    # broadcast into the generated day spine — the conformal-spine
    # construction at day grain; noise is per-cell expressions
    "dq_dp_daily_histogram",
    # two one-row census scalars (distinct types, calendar span)
    # broadcast into a 3-row literal ledger; the running-epsilon
    # window runs over those 3 rows
    "dq_dp_budget_ledger",
    # global band-domain cumsum: the unpartitioned window runs over
    # the DISTINCT acctbal/1000 bands — a fixed value domain (TPC-H
    # acctbal in [-999.99, 9999.99] ⇒ ≤ 12 bands at ANY row count) —
    # plus one-row m/N scalars, partial aggs upstream
    "dq_t_closeness",
    # estimator-axis shapes: the 16-row Z table, its 4-row group-mean
    # table and the rank-2 median window, plus the one-row exact-F2
    # audit agg (partial aggregation upstream) — all literal-bounded
    "sketch_ams_f2",
    # composes the three sequential trajectories (each inheriting the
    # eval_ab_cumulative_tstat bound: one-row universe scalar +
    # CALENDAR-bounded daily windows) and reduces them to ONE report
    # row — every single-partition stage is day-span- or one-row-sized
    "eval_ab_sequential_panel",
}


def test_no_unbounded_single_partition_plans(spark):
    """No registered plan may funnel unbounded input through an
    ``Exchange SinglePartition`` (the one-reducer global sort/window
    that dies first at 100 TB).  Every allowed occurrence is a bounded-
    input final stage, documented above."""
    offenders = [
        name
        for name in sorted(QUERIES)
        if "SinglePartition" in _plan(spark, name)
        and name not in _BOUNDED_SINGLE_PARTITION
    ]
    assert not offenders, offenders


def test_ntile_has_no_global_window_sort(spark):
    """win_ntile_deciles must use the bucketed global rank (n-way
    partitioned window), not ntile over an unpartitioned window."""
    plan = _plan(spark, "win_ntile_deciles")
    assert "SinglePartition" not in plan, plan
    assert "ntile(" not in plan, plan
    assert "hashpartitioning(_rk_bucket" in plan, plan


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "olap_stats_panel", "win_zscore_anomalies"]
)
def test_whole_stage_codegen_present(spark, name):
    plan = _final_plan(spark, name)
    assert "*(" in plan, name  # codegen'd stage markers


def test_sampling_queries_single_aggregate_shuffle(spark):
    """Hash-bucket sampling/splitting must stay map-side up to one
    small aggregate: exactly one hash exchange, no join."""
    for name in ("sample_stratified_hash", "split_train_val_test"):
        plan = _plan(spark, name)
        assert len(re.findall(r"hashpartitioning\(", plan)) == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_packing_is_one_window_pass(spark):
    """Offset packing: one window shuffle on source; the follow-up
    (source, seq_id) aggregate reuses that partitioning (it is a
    superset key), so exactly one hash exchange total."""
    plan = _plan(spark, "pack_training_sequences")
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert "Window" in plan, plan


def test_bpe_token_cost_is_pure_map(spark):
    plan = _plan(spark, "text_bpe_token_cost")
    assert "hashpartitioning(" not in plan, plan
    assert "Join" not in plan, plan


def test_sessionize_single_shuffle(spark):
    """Sessionization: lag window, running-sum window, and the final
    per-session aggregate all share the user_id hash partitioning —
    exactly one exchange for the whole gaps-and-islands pipeline."""
    plan = _plan(spark, "sessionize_events")
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert "SinglePartition" not in plan


def test_latest_per_key_single_shuffle(spark):
    plan = _plan(spark, "latest_event_per_user")
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan


def test_contamination_benchmark_side_broadcasts(spark):
    """The (bounded) benchmark shingle table must broadcast; the corpus
    side streams map-side into one aggregate shuffle."""
    plan = _plan(spark, "text_contamination_overlap")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan


def test_q18_aggregates_before_join_and_topk(spark):
    """Q18 shape: lineitem aggregates FIRST (the HAVING prune), the
    join sees qualifying-orders-sized input, and the top-k is
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "q18_large_orders")
    assert "TakeOrderedAndProject" in plan, plan
    # the only fact-sized exchange is the pre-join aggregation
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The 100 TB selective-dim-join lever Spark ships built-in:
    runtime bloom-filter injection.  With a filtered creation side and
    a shuffle join, the optimizer aggregates a bloom filter over the
    dim keys and applies might_contain on the fact side BEFORE the
    shuffle — rows that cannot join never leave the scan stage.  The
    thresholds here only exist because local testdata is far below the
    production defaults (10 MB application-side scan)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    from pyspark.sql import functions as F

    from stock_data_warehouse_analytics_spark.sources.tables import load_table

    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, SF_SMALL, "lineitem")
        joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = _explain(joined)
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        # and the filter really is the flag's doing, not an incidental
        # plan feature: flag off → no runtime filter, same join
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plan_off = _explain(
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        )
        assert "might_contain" not in plan_off, plan_off[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_warehouse_tickers_one_job_and_pivot_parity(spark):
    """The stock pivots' ticker list is a property of the facade: on one
    ``StockWarehouse``, ``tickers`` and building ``quarterly_price``,
    ``monthly_volume`` and ``per_ticker_quarterly_stats`` start exactly
    one job (the ticker collect) before any result is collected; the
    operators themselves only build plans.  Called with ``tickers=None``
    the pivots (Spark's own sorted pivot-values pass) give the same
    columns and rows as with the explicit list.  A ticker with rows only
    before the OLAP year filter is not a pivot column, and a ticker
    missing a month gets a 0 volume there."""
    from pyspark.sql import functions as F

    from stock_data_warehouse_analytics_spark.api import StockWarehouse
    from stock_data_warehouse_analytics_spark.operators import stock_olap

    rows = (
        [("BBB", f"2024-0{m}-01", 20.0 + m, 200 + m) for m in range(1, 7)]
        + [("AAA", f"2024-0{m}-01", 10.0 + m, 100 + m) for m in range(1, 7)]
        + [("CCC", f"2024-0{m}-01", 30.0 + m, 300 + m) for m in (2, 5)]
        + [("OLD", "2023-06-01", 5.0, 50)]
    )
    fact = (
        spark.createDataFrame(rows, ["Ticker", "Date", "Close", "Volume"])
        .withColumn("Date", F.to_date("Date"))
        .coalesce(1)
    )
    wh = StockWarehouse.over(fact)
    sc = spark.sparkContext
    group = "warehouse-tickers"
    sc.setJobGroup(group, group)
    try:
        tickers = wh.tickers
        frames = {
            "quarterly_price": wh.quarterly_price(),
            "monthly_volume": wh.monthly_volume(),
            "per_ticker_quarterly_stats": wh.per_ticker_quarterly_stats(),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert tickers == ["AAA", "BBB", "CCC"]
    assert wh.tickers is tickers  # one collect per instance

    for name in ("quarterly_price", "monthly_volume"):
        explicit = frames[name]
        implicit = getattr(stock_olap, name)(wh._olap)
        assert implicit.columns == explicit.columns == [*explicit.columns[:2], *tickers]
        assert implicit.collect() == explicit.collect(), name
    assert [r.CCC for r in frames["monthly_volume"].collect()] == [0, 302, 0, 0, 305, 0]
    assert frames["per_ticker_quarterly_stats"].count() == 6


@pytest.mark.parametrize(
    "name",
    [
        "chunk_hybrid_rrf_topk",
        "eval_ranking_ndcg",
        # round-7 leg sharing: both panels stage the two depth-10 leg
        # rankings (localCheckpoint) and derive every downstream frame
        # by filters/joins — no corpus explode may reappear
        "eval_rag_retrieval_recall",
        "eval_retrieval_mrr_map",
    ],
)
def test_staged_frames_are_not_reexploded(spark, name):
    """The round-6/7 staging pins: chunk_hybrid_rrf_topk materializes
    the shared shingle table once (five consumers), eval_ranking_ndcg
    its hit-sized per_doc frame (three report branches), and the two
    retrieval-eval panels their staged _hybrid_legs lists.  The FINAL
    plan must therefore read the staged RDD and contain NO Generate
    (explode) node — if the checkpoint is ever dropped, the corpus
    explode reappears downstream and this fails before the bench does."""
    plan = _plan(spark, name)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert "Generate" not in plan, plan


def test_binary_rerank_defers_vectors_past_candidate_cut(spark):
    """r7 verdict finding #4: sim_topk_binary_rerank's stage-1 Hamming
    ranking must carry ONLY (ids, bit words, hamming) — the float
    vectors join back on the ≤ |Q|·50 candidate rows AFTER the h_rnk
    cut, so stage 1 delivers the 16-bytes-per-vector memory traffic
    the docstring promises.  Pinned structurally: every Window node in
    the analyzed plan (both the h_rnk and the final cosine rnk) must
    see NO array-typed column in its child's output — the cosine rank
    runs after the re-rank projection has already folded the vectors
    into a scalar."""
    df = QUERIES["sim_topk_binary_rerank"].fn(spark, SF_SMALL)

    windows = []

    def walk(node):
        if node.getClass().getSimpleName() == "Window":
            windows.append(node)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    assert len(windows) == 2, [w.toString()[:120] for w in windows]
    for w in windows:
        out = w.child().output()
        types = [
            out.apply(i).dataType().simpleString() for i in range(out.size())
        ]
        assert not any(t.startswith("array") for t in types), (
            w.toString()[:200],
            types,
        )
