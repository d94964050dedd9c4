"""Unified query catalog: importing this module registers every query.

``__spark_entry__`` exposes exactly this surface to the grading driver.

The driver verifies the first 50 entries of ``queries()`` /
``oracle_sql()``. ``PRIORITY`` pins their order: the entries whose code
paths changed this round (``CHANGED_THIS_ROUND``) lead, so each re-earns
a driver row the round it moves, and the rest of the window goes to the
oldest-driver-green entries. Every oracle-backed entry outside the window
is covered by a green row in a committed ``CORRECTNESS_r*.json``;
``tests/test_rotation.py`` checks both. The rotation rules are in
ROTATION.md.

All entries, in the window or not, are oracle-checked locally by
``tests/test_queries_oracle.py`` under the driver-strict Arrow-typed
harness.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

import etl_data_spark.queries as _rel
import etl_data_spark.queries_analytics as _analytics  # noqa: F401  (registers on import)
import etl_data_spark.queries_corpus as _corpus  # noqa: F401  (registers on import)
import etl_data_spark.queries_ext as _ext  # noqa: F401  (registers on import)
import etl_data_spark.queries_incr as _incr  # noqa: F401  (registers on import)
import etl_data_spark.queries_llm as _llm  # noqa: F401  (registers on import)
import etl_data_spark.queries_stats as _stats  # noqa: F401  (registers on import)
import etl_data_spark.queries_tpch as _tpch  # noqa: F401  (registers on import)
from etl_data_spark.queries import REGISTRY, QuerySpec  # noqa: F401


# Entries whose implementing code path changed during the CURRENT round.
# ROTATION.md rule (written r8): a changed entry must re-earn a driver
# CORRECTNESS row in the SAME round — an already-green entry cannot ride
# its stale row across a code change. tests/test_rotation.py enforces
# that every name here sits inside the active PRIORITY window; when a
# change lands on an un-windowed entry, swap out a youngest-green tail
# entry in the same commit.
CHANGED_THIS_ROUND = [
    # r14 (OPTIMIZATION round 2): every entry below kept its output
    # byte-identical (oracle + exceptAll A/Bs), but the implementing
    # plan moved, so each must re-earn a driver row this round.
    # - SemDeDup trio: per-cell Arrow pair scoring (similarity.py)
    "semantic_dedup_pairs",
    "semantic_dedup_survivors",
    "semantic_dedup_at_rest",
    # - connected-components star rounds skew-hardened (window -> partial
    #   agg + join) and MinHash signing/banding moved to one Arrow pass
    #   with int64 band keys — every CC/minhash-pairs consumer:
    "dedup_clusters",
    "dedup_clusters_incremental",
    "dedup_cluster_sizes",
    "dedup_survivor_docs",
    "entity_resolution",
    "corpus_curate_end2end",
    "corpus_export_manifest",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_native",
    "dedup_incremental_pairs",
    # - simhash packed votes/signature/bit_count hamming:
    "dedup_simhash",
    # - threshold-curve one-pass aggregation at threshold=min(curve):
    "dedup_threshold_curve",
    # - Weiszfeld one-action-per-iteration merge:
    "geometric_median",
    # - pairwise prefix bound in the set-similarity join:
    "setsim_join_prefix",
    # - OPQ: driver-side sample rotation, merged fn() actions:
    "ann_opq_rerank_topk",
]

# The driver's window: the changed paths above lead; the 32 fills are the
# oldest-driver-green entries (all last green r7) not in the r13 window.
PRIORITY = CHANGED_THIS_ROUND + [
    "diff_in_diff",
    "fd_discovery",
    "fk_orphan_report",
    "forecast_conformal",
    "frequent_triples",
    "gains_table",
    "group_kfold",
    "join_skew_report",
    "l_diversity",
    "missing_days_report",
    "mktsegment_profile",
    "monthly_quantile_bands",
    "multimodal_audio_frames",
    "multimodal_audio_stats",
    "multimodal_resize",
    "nation_trade_balance",
    "new_vs_returning",
    "order_reconciliation",
    "pareto_front",
    "price_realization",
    "priority_mix_trend",
    "purchase_cadence",
    "return_rate_by_brand",
    "revenue_bridge",
    "rfm_migration",
    "session_copresence",
    "session_entry_exit",
    "session_length_histogram",
    "shipping_lag_profile",
    "size_price_regression",
    "skew_kurtosis",
    "slow_movers",
]
assert len(PRIORITY) == 50, f"PRIORITY must fill the window exactly: {len(PRIORITY)}"


def _ordered() -> dict[str, QuerySpec]:
    missing = [n for n in PRIORITY if n not in REGISTRY]
    assert not missing, f"PRIORITY references unregistered queries: {missing}"
    out = {n: REGISTRY[n] for n in PRIORITY}
    out.update((n, s) for n, s in REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rel.q_pricing_summary(spark, sf_dir)
