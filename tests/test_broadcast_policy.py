"""Broadcast-hint policy pin (SCALE.md §2).

An explicit ``F.broadcast`` hint forces a driver-built hash table no
matter how large the frame is at runtime, so the repo reserves it for
frames whose size is bounded by CONSTRUCTION, independent of data
volume: region/nation (constant cardinality), one-row aggregates,
bounded domains (event types, dow, months, priorities, languages,
sources), constant lag/probe/threshold/checkpoint lists, top-K-limited
frames, and per-partition offset frames. Frames that SCALE with the
data (customer/supplier/part selects, per-document metadata, per-part
degree/support frames, per-name clusters) must NOT carry the hint —
the size-based planner broadcasts them locally while they fit and
demotes them to shuffle joins at scale.

This test pins the audited set of hint sites, keyed by
(file, enclosing function). Adding a new ``F.broadcast`` call fails the
test until the site is reviewed for scale-boundedness and added to the
allowlist below (with the bounding argument in mind). Removing sites is
always fine.

Round-5 audit: every allowlisted site below was classified
bounded-by-construction; the scaling-frame hints were removed in the
same change (see SCALE.md §2 and §21 for the OOM this policy prevents).
"""

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), "..", "etl_data_spark")

# (relative file, enclosing function) -> number of F.broadcast call sites,
# each individually reviewed as bounded-by-construction.
ALLOWED = {
    ("operators/rank.py", "global_row_number"): 1,  # per-partition offsets
    ("operators/rank.py", "global_running_sum"): 1,  # per-partition offsets
    # bounded-query-set serving contract (docstring: queries are collected
    # to build the probe set, so |queries| is bounded by construction);
    # both hints broadcast O(|queries|) frames: the collected (query,
    # band, bucket) probe table and the query-vector frame
    ("operators/similarity.py", "knn_join_lsh_banded_at_rest"): 2,
    # the EVAL side of benchmark decontamination is bounded by
    # construction (held-out benchmarks are thousands of documents, not
    # corpora — docstring contract); the hint broadcasts its distinct
    # n-gram set so the corpus-side explode joins map-only, never
    # shuffling corpus text
    ("operators/corpus.py", "decontaminate_ngram"): 1,
    # the rerank shortlist is LIMIT `shortlist` rows by construction
    # (ADC top-N ids, a ~100-row frame) — broadcasting it makes the
    # vector fetch a map-only semi over the corpus
    ("operators/pq.py", "pq_topk_rerank"): 1,
    # r12 residual path: the ADC shortlist ids (<= `shortlist` rows, ~100)
    ("operators/pq.py", "ivfpq_topk_at_rest"): 1,
    # r12 SQ8: the dequantized-L2 shortlist ids (<= `shortlist` rows)
    ("operators/pq.py", "sq8_topk_rerank"): 1,
    ("queries.py", "q_latest_batch"): 1,  # 1-row max
    ("queries.py", "q_star_join"): 2,  # nation, region
    ("queries_analytics.py", "_bm25_scored"): 1,  # 1-row corpus stats
    ("queries_analytics.py", "q_ndcg_bm25"): 2,  # 1-row dcg/idcg
    ("queries_analytics.py", "q_prf_expansion_terms"): 2,  # 1-row N + top-K feedback docs
    ("queries_analytics.py", "q_star_build"): 5,  # nation + four 1-row dim summaries
    ("queries_analytics.py", "q_tfidf_topk"): 1,  # 1-row N
    ("queries_analytics.py", "q_unigram_logprob"): 1,  # 1-row total
    ("queries_corpus.py", "q_collocation_pmi"): 1,  # 1-row totals
    ("queries_corpus.py", "q_keyness_terms"): 2,  # 1-row N, per-language totals
    ("queries_corpus.py", "q_mixture_temperature_weights"): 1,  # 1-row totals
    ("queries_corpus.py", "q_packing_efficiency"): 1,  # per-source last-bin
    ("queries_corpus.py", "q_source_kl_divergence"): 2,  # 1-row total, per-source totals
    ("queries_corpus.py", "q_vocab_coverage"): 2,  # 1-row total, constant K list
    ("queries_corpus.py", "q_vocab_growth_curve"): 2,  # checkpoint list (corpus/step)
    ("queries_ext.py", "q_rollup_revenue"): 2,  # nation, region
    ("queries_ext.py", "q_scalar_subquery_above_avg"): 1,  # 1-row aggregate
    ("queries_ext.py", "q_tpch_q22_global_sales"): 1,  # 1-row average
    ("queries_ext.py", "q_tpch_q5_regional"): 2,  # nation, region filter
    ("queries_incr.py", "q_drill_across"): 2,  # nation x2
    ("queries_incr.py", "q_junk_dimension"): 1,  # bounded flag-combination dim
    ("queries_llm.py", "q_audience_overlap"): 2,  # per-event-type counts
    ("queries_llm.py", "q_knn_mrr"): 2,  # fixed 200-query probe set (+ its distinct)
    # r13 audit:
    # the (word -> token array) vocab frame of the tokenizer apply side —
    # a natural-language WORD vocabulary (Heaps-sublinear, ~10^7 entries
    # at web scale, a model-artifact-sized frame, not the token stream);
    # broadcast_vocab=False opts out for synthetic unbounded vocabularies
    ("operators/bpe.py", "join_word_tokens"): 1,
    # 1-row (nr, nt) totals onto the 1024-row bucket model
    ("operators/mixing.py", "_ratios_from"): 1,
    # the fitted DSIR model: exactly n_buckets rows (constant parameter)
    ("operators/mixing.py", "dsir_importance"): 1,
    # the 1-row (n_tokens, v_types) totals. (The target-corpus model
    # frames hint conditionally via broadcast_model — the gate's target
    # is a curated reference set, CCNet-style, bounded by convention —
    # and the conditional sites don't register as unconditional hints.)
    ("operators/mixing.py", "lm_perplexity"): 1,
    # 1-row piece-count total
    ("operators/unigram.py", "seed_pieces"): 1,
    # the unigram piece table — a tokenizer vocabulary (<= ~10^5 model
    # artifact, not data-scaled); broadcast_pieces=False opts out
    ("operators/unigram.py", "segment_words_viterbi"): 1,
    # 1-row Laplace total
    ("operators/unigram.py", "train_unigram"): 1,
    # the ADC shortlist ids (LIMIT `shortlist` rows, ~100)
    ("queries_llm.py", "q_ann_opq_rerank_topk"): 1,
    ("queries_llm.py", "q_lang_id_kappa"): 3,  # 1-row aggregates
    ("queries_stats.py", "q_abc_analysis"): 1,  # 1-row total
    ("queries_stats.py", "q_association_rules"): 1,  # 1-row basket count
    ("queries_stats.py", "q_benford_deviation"): 1,  # 1-row N
    ("queries_stats.py", "q_brier_decomposition"): 1,  # 1-row base rate
    ("queries_stats.py", "q_ccf_click_purchase"): 1,  # constant lag list
    ("queries_stats.py", "q_chi_square_independence"): 4,  # type/hour margins + totals
    ("queries_stats.py", "q_churn_labels"): 1,  # 1-row horizon
    ("queries_stats.py", "q_cohort_ltv"): 1,  # per-cohort-month sizes
    ("queries_stats.py", "q_countmin_heavy_hitters"): 1,  # bounded probe set
    ("queries_stats.py", "q_cramers_v"): 1,  # 1-row chi2/dims
    ("queries_stats.py", "q_cusum_changepoint"): 1,  # 1-row mean
    ("queries_stats.py", "q_drift_psi"): 2,  # per-bin reference/current totals
    ("queries_stats.py", "q_equidepth_histogram"): 1,  # 1-row N
    ("queries_stats.py", "q_funnel_strict_sequence"): 2,  # 1-row step counts
    ("queries_stats.py", "q_ks_two_sample"): 1,  # 1-row group totals
    ("queries_stats.py", "q_impute_group_median"): 1,  # per-event-type medians
    ("queries_stats.py", "q_mad_value"): 1,  # 1-row median
    ("queries_stats.py", "q_mutual_info_type_hour"): 3,  # type/hour margins + total
    ("queries_stats.py", "q_nation_trade_balance"): 2,  # per-nation supply/demand aggs
    ("queries_stats.py", "q_outlier_robust_z"): 2,  # 1-row median/MAD
    ("queries_stats.py", "q_outlier_zscore"): 1,  # 1-row mean/std
    ("queries_stats.py", "q_pareto_front"): 1,  # per-day running max
    ("queries_stats.py", "q_priority_mix_trend"): 1,  # per-month totals
    ("queries_stats.py", "q_quantile_normalize"): 1,  # 1-row N
    ("queries_stats.py", "q_revenue_bridge"): 1,  # 1-row month bounds
    ("queries_stats.py", "q_rfm_segments"): 1,  # 1-row quantile frame
    ("queries_stats.py", "q_seasonal_anomaly"): 1,  # per-dow baseline
    ("queries_stats.py", "q_seasonal_decompose"): 1,  # per-dow effects
    ("queries_stats.py", "q_session_copresence"): 3,  # 1-row session count + per-type counts
    ("queries_stats.py", "q_skew_kurtosis"): 1,  # 1-row moments
    ("queries_stats.py", "q_slow_movers"): 1,  # 1-row horizon
    ("queries_stats.py", "q_supplier_hhi"): 2,  # per-nation totals, nation names
    ("queries_stats.py", "q_supplier_risk_screen"): 1,  # nation names
    ("queries_stats.py", "q_survival_km"): 2,  # 1-row horizon, at-risk-by-week (bounded weeks)
    ("queries_stats.py", "q_target_encoding"): 2,  # per-priority means + 1-row prior
    ("queries_stats.py", "q_theil_sen_trend"): 1,  # 1-row N
    ("queries_stats.py", "q_triangle_count"): 1,  # 1-row edge count
    ("queries_stats.py", "q_weighted_median"): 1,  # 1-row total weight
    ("queries_stats.py", "q_winsorized_stats"): 1,  # 1-row p5/p95
    ("queries_tpch.py", "q_tpch_q10_returned_items"): 1,  # nation join inside cust select
    ("queries_tpch.py", "q_tpch_q11_important_supply"): 3,  # nation filter, 1-row threshold
    ("queries_tpch.py", "q_tpch_q15_top_supplier"): 1,  # 1-row max revenue
    ("queries_tpch.py", "q_tpch_q20_promotion_supplier"): 1,  # nation filter
    ("queries_tpch.py", "q_tpch_q2_min_cost_supply"): 2,  # region/nation filters
    ("queries_tpch.py", "q_tpch_q7_volume_shipping"): 2,  # nation-name tagging selects
    ("queries_tpch.py", "q_tpch_q8_market_share"): 3,  # region/nation-filtered selects
    ("queries_tpch.py", "q_tpch_q9_product_profit"): 1,  # nation-name tagging select
    ("report.py", "latest_batch"): 1,  # 1-row max date
    ("star.py", "build_fact"): 1,  # bounded-domain dims (~1e2 keys)
    ("star.py", "build_dims"): 2,  # stored dim keys + per-dim max ids (~1e2 keys)
    ("streaming/pipeline.py", "stream_static_enrich"): 1,  # static dim by contract
}


def _broadcast_sites():
    found = {}
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "broadcast"
                ):
                    enclosing = [
                        name for a, b, name in funcs if a <= n.lineno <= b
                    ]
                    fn = enclosing[-1] if enclosing else "<module>"
                    found[(rel, fn)] = found.get((rel, fn), 0) + 1
    return found


def test_no_unreviewed_broadcast_hints():
    found = _broadcast_sites()
    new = {
        k: v for k, v in found.items() if v > ALLOWED.get(k, 0)
    }
    assert not new, (
        "New F.broadcast site(s) not in the reviewed allowlist: "
        f"{sorted(new)} — a forced broadcast must be bounded by "
        "construction (SCALE.md §2). Review the frame's growth with data "
        "volume, then add it here with the bounding argument."
    )


def test_allowlist_has_no_stale_entries():
    found = _broadcast_sites()
    stale = {k: v for k, v in ALLOWED.items() if found.get(k, 0) < v}
    assert not stale, (
        f"Allowlist entries no longer present (prune them): {sorted(stale)}"
    )
