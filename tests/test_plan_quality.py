"""Physical-plan assertions: the properties that keep these queries viable
at 100 TB, checked on the actual Catalyst output so regressions fail CI.

Each test pins one scale-critical plan property:
- filters reach the parquet scan (PushedFilters), columns are pruned
  (ReadSchema carries only what the query needs);
- small dimensions broadcast (BroadcastHashJoin), big facts never do;
- ORDER BY+LIMIT plans as TakeOrderedAndProject (top-k, no global sort);
- group-aggs run partial (map-side combine) before the shuffle;
- the range join is a hash join on bucket keys, never a cartesian or
  broadcast-nested-loop plan.
"""

import pytest
from pyspark.sql import functions as F

from etl_data_spark.catalog import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    # default maxMetadataStringLength=100 truncates PushedFilters lists
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    # Plan pins assert the COLD plan: lingering cached subplans (operator
    # persists, fixture .cache()s) would otherwise be substituted by the
    # CacheManager and change exchange counts run-order-dependently.
    df.sparkSession.catalog.clearCache()
    return df._jdf.queryExecution().executedPlan().toString()


def q(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_pricing_summary_pushdown_and_pruning(spark):
    p = plan(q(spark, "pricing_summary"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read the unused join keys
    assert "l_orderkey" not in p.split("ReadSchema")[-1]
    assert "l_partkey" not in p.split("ReadSchema")[-1]


def test_pricing_summary_partial_agg(spark):
    # two HashAggregates (partial + final) around one shuffle
    p = plan(q(spark, "pricing_summary"))
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p or "partial_count" in p


def test_star_join_broadcasts_dims(spark):
    p = plan(q(spark, "star_join"))
    assert "BroadcastHashJoin" in p
    # the fact table must be the probe side, never broadcast
    assert "SortMergeJoin" not in p


def test_tpch_q5_broadcasts_region_nation(spark):
    p = plan(q(spark, "tpch_q5_regional"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_topk_is_take_ordered(spark):
    p = plan(q(spark, "topk_orders"))
    assert "TakeOrderedAndProject" in p
    assert "Sort [" not in p  # no global sort for a LIMIT query


def test_semi_and_anti_joins_stay_semi(spark):
    assert "LeftSemi" in plan(q(spark, "semi_join_active"))
    assert "LeftAnti" in plan(q(spark, "anti_join_unreferenced"))


def test_range_join_is_hash_join_not_nested_loop(spark):
    p = plan(q(spark, "range_join_bursts"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_brute_force_is_explicit_cross(spark):
    # the documented-small-corpus exact kNN is the ONLY sanctioned cross join
    p = plan(q(spark, "knn_join_sample"))
    assert "rank" in p


def test_scalar_subquery_broadcasts_aggregate(spark):
    p = plan(q(spark, "scalar_subquery_above_avg"))
    # one-row aggregate joined via broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_silver_gate_pushes_null_filter(spark):
    p = plan(q(spark, "silver_gate"))
    assert "PushedFilters" in p and "IsNotNull" in p


def test_minhash_no_allpairs(spark):
    p = plan(q(spark, "dedup_minhash_lsh"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_window_agg_partial_before_shuffle(spark):
    p = plan(q(spark, "window_agg_5min"))
    assert p.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name", ["daily_trend", "duplicate_groups", "status_rollup"]
)
def test_group_aggs_have_map_side_combine(spark, name):
    p = plan(q(spark, name))
    assert p.count("HashAggregate") >= 2 or "partial" in p


def test_q6_filters_reach_scan(spark):
    p = plan(q(spark, "tpch_q6_forecast"))
    # shipdate window and quantity bound must push to parquet
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity" in p


def test_q19_or_predicate_partially_pushed(spark):
    p = plan(q(spark, "tpch_q19_or_predicates"))
    # brand/size disjunction is pushable per-table; no nested-loop fallback
    assert "Or(" in p or "In(p_brand" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q3_prunes_join_inputs_before_join(spark):
    p = plan(q(spark, "tpch_q3_shipping"))
    # both date filters and the segment filter appear as scan-level pushdown,
    # so only surviving rows shuffle into the joins
    assert "GreaterThan(l_shipdate" in p
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "TakeOrderedAndProject" in p


def test_salted_join_is_hash_join_on_compound_key(spark):
    p = plan(q(spark, "salted_join_agg"))
    assert "__salt" in p
    assert "CartesianProduct" not in p


def test_sliding_window_no_explode_blowup(spark):
    # Spark plans sliding windows as an explode of window instances followed
    # by partial aggregation — the partial agg must still be present
    p = plan(q(spark, "sliding_window_agg"))
    assert p.count("HashAggregate") >= 2


def test_q18_single_lineitem_scan_and_partial_agg(spark):
    p = plan(q(spark, "tpch_q18_large_orders"))
    # the HAVING-regroup rewrite must keep exactly ONE lineitem scan
    assert p.count("lineitem.parquet") == 1
    # the per-order sum combines map-side before its one shuffle
    assert "partial_sum" in p
    # lineitem reads only the key and quantity
    assert "l_discount" not in p.split("ReadSchema")[-1]


def test_q22_pushdown_anti_join_scalar_broadcast(spark):
    p = plan(q(spark, "tpch_q22_global_sales"))
    # nation-membership and balance predicates reach the customer scans
    assert "In(c_nationkey" in p
    assert "GreaterThan(c_acctbal,0.0)" in p
    # the recent-order cutoff reaches the orders scan feeding the anti join
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "LeftAnti" in p
    # the one-row average broadcasts; nothing else may nested-loop
    assert p.count("BroadcastNestedLoopJoin") == 1


def test_sequence_pack_no_global_sort(spark):
    # the running offset is a per-shard window: partitioned by source, so the
    # plan must never collapse to a single-partition global sort
    p = plan(q(spark, "sequence_pack"))
    assert "SinglePartition" not in p
    assert "Window" in p


def test_ngram_topk_is_take_ordered_with_partial_agg(spark):
    # top-k over corpus bigrams: map-side combine before the one shuffle,
    # TakeOrderedAndProject instead of a full sort
    p = plan(q(spark, "ngram_topk"))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p


def test_split_leakage_no_cartesian(spark):
    # candidate generation stays an inverted-index equi-join; split tags are
    # pure id expressions (no extra join), so no nested-loop plan anywhere
    p = plan(q(spark, "split_leakage"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pii_redact_single_scan_no_shuffle(spark):
    # redaction is a pure projection: one scan, no exchange of any kind
    p = plan(q(spark, "pii_redact"))
    assert "Exchange" not in p
    assert p.count("documents.parquet") == 1


def test_corpus_mix_single_scan(spark):
    # global totals come from a window over the aggregated per-domain rows,
    # so the corpus is scanned exactly once
    p = plan(q(spark, "corpus_mix"))
    assert p.count("documents.parquet") == 1


def test_tpch_q21_single_lineitem_shuffle(spark):
    """Q21's rewrite: one repartition on l_orderkey feeds the supplier-level
    aggregate, both window levels, and the uniqueness count with no further
    lineitem exchange — and no sort-merge join anywhere."""
    p = plan(q(spark, "tpch_q21_waiting_supplier"))
    assert "SortMergeJoin" not in p
    assert p.count("Window") == 2
    # exactly one hash-partitioning exchange on l_orderkey alone
    import re

    li_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "l_orderkey" in m and "l_suppkey" not in m and "s_name" not in m
    ]
    assert len(li_exchanges) == 1, li_exchanges


def test_cdc_snapshot_diff_minimal_payload(spark):
    """The CDC diff must scan only key + compared columns and join once."""
    p = plan(q(spark, "cdc_snapshot_diff"))
    assert "o_orderdate" not in p.split("ReadSchema")[-1]
    assert "o_orderpriority" not in p.split("ReadSchema")[-1]
    assert "CartesianProduct" not in p


def test_cdc_merge_upsert_broadcasts_batch_side(spark):
    """With a small change batch, the anti join must broadcast the batch,
    keeping the merge a map-only pass over the target."""
    p = plan(q(spark, "cdc_merge_upsert"))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_bitmap_rollup_partial_aggregation(spark):
    """Daily bitmap construction partial-aggregates map-side before the
    (day, bucket) exchange — raw events never shuffle."""
    p = plan(q(spark, "bitmap_distinct_merge"))
    assert "partial_bitmap_construct_agg" in p


def test_interval_merge_single_user_shuffle(spark):
    """Both islands windows and the island groupBy reuse one shuffle on
    user_id: no second exchange on the same key."""
    p = plan(q(spark, "interval_merge"))
    import re

    user_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        if "user_id" in m and "island_id" not in m
    ]
    assert len(user_exchanges) == 1, user_exchanges
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_zorder_stats_codegen_no_udf(spark):
    """The Morton code is pure integer arithmetic: whole-stage codegen,
    no Python evaluation anywhere in the plan."""
    p = plan(q(spark, "zorder_layout_stats"))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # pure shift/mask arithmetic lands in a single Project over the scan
    assert "shiftright" in p and "Project" in p


def test_passage_overlap_no_cartesian(spark):
    # candidate generation is the fingerprint inverted-index equi-join;
    # the df-cap filter joins on fp too — no nested-loop plan anywhere
    p = plan(q(spark, "passage_overlap"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bfs_lineage_truncated_and_no_cartesian(spark):
    # the per-level localCheckpoint must truncate the 6-level union/join
    # lineage: the returned frame plans as a bounded scan over the
    # checkpointed RDD (plus the final histogram agg), not a 6-deep
    # join mega-plan — and no level may fall back to a nested loop
    p = plan(q(spark, "bfs_hops"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p  # all level joins happened pre-checkpoint


def test_chi_square_marginals_broadcast(spark):
    # the expected-count grid composes kilobyte marginal frames: every
    # join in the plan must be broadcast, never a shuffle join
    p = plan(q(spark, "chi_square_independence"))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p


def test_welch_single_scan_single_agg(spark):
    # ONE scan of orders, one grouping-less aggregate: no join at all
    p = plan(q(spark, "welch_t_test"))
    assert p.count("orders.parquet") == 1
    assert "Join" not in p.replace("joinOutputRows", "")


def test_doc_chunking_no_shuffle(spark):
    # chunking is a per-row array expansion: one scan, no exchange of
    # any kind — it must pipeline into the scan stage
    p = plan(q(spark, "doc_chunking"))
    assert "Exchange" not in p
    assert p.count("documents.parquet") == 1


def test_dq_expectations_single_scan(spark):
    # the whole expectations suite must cost ONE pass over the fact table
    p = plan(q(spark, "dq_expectations"))
    assert p.count("orders.parquet") == 1
    assert "Join" not in p.replace("joinOutputRows", "")


def test_target_encoding_broadcasts_group_stats(spark):
    # the group-stats frame is kilobytes: it must broadcast onto the fact
    # scan, never shuffle the fact table
    p = plan(q(spark, "target_encoding"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_feature_hashing_no_shuffle(spark):
    # the hashing trick needs no vocabulary pass: pure projection, one
    # scan, no exchange
    p = plan(q(spark, "feature_hashing"))
    assert "Exchange" not in p
    assert p.count("orders.parquet") == 1


def test_pit_join_is_keyed_equi_join(spark):
    # the point-in-time join must plan as a hash join on the entity key
    # (validity window as post-filter), never a range-explosion
    # nested-loop plan
    p = plan(q(spark, "pit_scd2_join"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_setsim_corpus_frames_stay_sort_merge(spark):
    # the per-shingle document-frequency map and shingle-set verify
    # frames are CORPUS-sized; their merge hints must survive to the
    # physical plan so a statistics misestimate can never promote them
    # to a driver-built broadcast (observed OOM at 5x bench data,
    # SCALE.md §21). Sides bounded by construction may still broadcast.
    p = plan(q(spark, "setsim_join_prefix"))
    assert "SortMergeJoin" in p


def test_minhash_verify_stays_sort_merge(spark):
    # exact-Jaccard verification joins candidates back to the
    # corpus-sized shingle frames — merge-hinted for the same reason
    p = plan(q(spark, "dedup_minhash_lsh_native"))
    assert "SortMergeJoin" in p


def test_multimodal_resize_zero_shuffle(spark):
    # the full pixel pipeline (build -> resize -> verify-decode) is three
    # chained mapInPandas stages: one scan, no exchange — blobs must
    # pipeline through the executor, never shuffle
    p = plan(q(spark, "multimodal_resize"))
    assert "Exchange" not in p
    assert p.count("documents.parquet") == 1


def test_multimodal_audio_stats_zero_shuffle(spark):
    # WAV build + PCM feature extraction: same contract, one scan, no
    # exchange of media bytes
    p = plan(q(spark, "multimodal_audio_stats"))
    assert "Exchange" not in p
    assert p.count("documents.parquet") == 1


def test_vectorized_topk_is_takeordered_merge(spark):
    # per-batch local top-k must merge through TakeOrderedAndProject
    # (<= k rows per batch reach the driver-side merge), with no global
    # sort exchange of the scored frame
    p = plan(q(spark, "embedding_topk_vectorized"))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_multimodal_audio_frames_zero_shuffle(spark):
    # the frame explode happens inside mapInPandas: one scan, no exchange
    p = plan(q(spark, "multimodal_audio_frames"))
    assert "Exchange" not in p
    assert p.count("documents.parquet") == 1


def test_ivf_assign_is_a_narrow_map(spark):
    # the r7 argmax rewrite (one array_max over (sim, -cid) structs) must
    # keep coarse quantization join-free and shuffle-free: centroids are
    # plan literals, so assignment is a single projected scan — the
    # property that makes the cell id usable as a partition key at rest
    from etl_data_spark.operators.similarity import ivf_assign, sample_centroids
    from etl_data_spark.queries import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    p = plan(ivf_assign(e, sample_centroids(e, k=4)))
    assert "Exchange" not in p
    assert "Join" not in p
    assert p.count("embeddings.parquet") == 1


def test_holt_linear_fold_evaluated_once(spark):
    # the Holt smoothing fold is projected in its OWN select so the four
    # output expressions share ONE evaluation — higher-order functions are
    # interpreted (no codegen CSE), so inlining st["l"]/st["b"] into each
    # column re-ran the whole fold 4x per row (SCALE.md §27). Pin the
    # optimized plan to exactly one aggregate( lambda.
    opt = (
        q(spark, "holt_linear")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert opt.count("aggregate(") == 1


def test_dedup_at_rest_probe_signs_only_the_delta(spark, tmp_path):
    """r12 (VERDICT r11 #1 done-criterion, plan form): the at-rest
    incremental dedup probe must never re-shingle the base corpus — in
    the physical plan, every scan of the documents table carries the
    delta pushdown, the band table is read from the layout (narrow
    (doc_id, band) columns), and the banded delta side is the broadcast
    build of the index join (the stored band table streams map-only)."""
    from etl_data_spark.operators import dedup as D
    from etl_data_spark.queries import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "bands_plan")
    D.write_minhash_bands(d.filter(F.col("doc_id") < 400), path)
    probe = D.dedup_incremental_at_rest(d.filter(F.col("doc_id") >= 400), path)
    plan = probe._jdf.queryExecution().executedPlan().toString()

    doc_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents" in ln
    ]
    assert doc_scans, "expected at least one documents scan (the delta)"
    for ln in doc_scans:
        assert ">= 400" in ln, f"corpus text scanned WITHOUT the delta pushdown: {ln[:200]}"

    # plan rendering truncates paths, so identify the band-table scan by
    # its column signature (band_idx is the layout's partition column)
    band_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "band_idx" in ln
    ]
    assert band_scans, "the probe must read the persisted band table"
    for ln in band_scans:
        assert "text" not in ln, "the band table scan must be narrow (no text)"

    # the index join streams the stored band table against a broadcast
    # banded delta (no sort-merge shuffle of the index): parse the
    # BroadcastHashJoin nodes and require one keyed on the band column —
    # the old fallback ("any broadcast join + the substring 'band'
    # anywhere") was nearly vacuous and would not catch the banded delta
    # losing its broadcast (r12 ADVICE)
    bhj_lines = [
        ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln
    ]
    assert any(
        "[band#" in ln or "band_idx#" in ln for ln in bhj_lines
    ), f"no BroadcastHashJoin keyed on the band column: {bhj_lines}"


def test_banded_lsh_signs_and_codes_in_one_pass(spark, tmp_path):
    """One signing path, one coding pass. MinHash: the band rows
    write_minhash_bands persists and the dedup_incremental_at_rest probe
    both sign through the vectorized Arrow pass (a MapInArrow node), with
    no interpreted ``concat_ws`` string band key. Hyperplane bands: every
    band's code comes from one projection, so the executed
    near_dup_pairs_lsh_banded plan scans the embeddings the same number
    of times at any band count."""
    from etl_data_spark.operators import dedup as D
    from etl_data_spark.operators import similarity as S
    from etl_data_spark.queries import load_table

    d = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "bands_one_pass")
    D.write_minhash_bands(d.filter(F.col("doc_id") < 400), path)
    written, _ = D._minhash_layout_rows(
        d.filter(F.col("doc_id") < 400), "doc_id", "text", 3, 64, 16, "md5"
    )
    probe = D.dedup_incremental_at_rest(d.filter(F.col("doc_id") >= 400), path)
    for frame in (written, probe):
        p = plan(frame)
        # the string band key was concat_ws(",", ...); the shingling's
        # concat_ws(" ", ...) is expected
        assert "MapInArrow" in p and "concat_ws(," not in p, p[:2000]

    e = load_table(spark, SF_DIR, "embeddings")
    dim = len(e.first()["embedding"])

    def emb_scans(bands):
        p = plan(S.near_dup_pairs_lsh_banded(
            e, dim=dim, bands=bands, planes_per_band=3
        ))
        return sum(
            "FileScan parquet" in ln and "embeddings" in ln
            for ln in p.splitlines()
        )

    assert emb_scans(2) == emb_scans(6) > 0
