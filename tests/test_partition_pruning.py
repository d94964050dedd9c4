"""Partition pruning on the month-partitioned writer — the access path that
replaces the reference's B-tree date indexes — plus join-strategy hints."""

import datetime as dt
import os

from pyspark.sql import functions as F

from etl_data_spark.generate import generate_source
from etl_data_spark.io.writers import (
    MONTH_KEY,
    cluster_by_month,
    with_month_key,
    write_partitioned,
)
from etl_data_spark.queries import load_table


def test_month_partition_prunes_files(spark, tmp_path):
    df = generate_source(spark, rows=2000, seed=7)
    path = str(tmp_path / "silver_part")
    write_partitioned(df, path, date_col="effective_from")

    back = spark.read.parquet(path)
    pruned = back.filter(F.col(MONTH_KEY) == 202303)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert f"{MONTH_KEY}#" in plan.split("PartitionFilters: [")[1].split("]")[0]

    # pruning must reflect in data too: only March rows come back
    months = {
        r[0]
        for r in pruned.select(
            (F.year("effective_from") * 100 + F.month("effective_from"))
        ).distinct().collect()
    }
    assert months == {202303}


def test_derived_month_key_matches_date(spark):
    df = generate_source(spark, rows=500, seed=7)
    bad = with_month_key(df).filter(
        F.col(MONTH_KEY)
        != (F.year("effective_from") * 100 + F.month("effective_from")).cast("int")
    )
    assert bad.count() == 0


def test_shuffle_hash_join_hint_respected(spark):
    # for mid-size tables where sort cost dominates, shuffle-hash beats SMJ;
    # the hint must survive planning (broadcast stays off to expose it)
    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_month_aligned_write_skips_the_exchange(spark, tmp_path):
    """A frame read from a month-partitioned table is written as it was
    read: no shuffle exchange. A frame from an unpartitioned source keeps
    the month-clustering repartition."""
    path = str(tmp_path / "months")
    write_partitioned(generate_source(spark, rows=300, seed=7), path)

    aligned = cluster_by_month(with_month_key(spark.read.parquet(path)))
    assert "Exchange" not in _plan(aligned)

    fresh = cluster_by_month(with_month_key(generate_source(spark, rows=300, seed=7)))
    assert "REPARTITION_BY_COL" in _plan(fresh)


def test_pipeline_fact_and_mart_writes_are_map_only(spark, tmp_path, monkeypatch):
    """The fact (read-back silver joined to broadcast dims) and the fresh
    mart (the read-back fact's window) write without a shuffle, one file
    per month directory."""
    from etl_data_spark import pipeline as P

    sc = spark.sparkContext
    groups = {}

    def in_group(fn):
        def run(*args):
            path = next(a for a in args if isinstance(a, str))
            group = f"{os.path.basename(path)}-{tmp_path.name}"
            groups[os.path.basename(path)] = group
            sc.setJobGroup(group, "map-only write")
            try:
                return fn(*args)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        return run

    monkeypatch.setattr(P, "write_partitioned", in_group(P.write_partitioned))
    monkeypatch.setattr(P, "overwrite_by_window", in_group(P.overwrite_by_window))
    wh = tmp_path / "wh"
    P.run_pipeline(spark, rows=300, seed=7, warehouse=str(wh))

    store = sc._jsc.sc().statusStore()
    for table in ("fact_task", "mart_task"):
        jobs = sc.statusTracker().getJobIdsForGroup(groups[table])
        stages = [s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds]
        assert jobs and stages, table
        shuffled = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)
        assert shuffled == 0, (table, shuffled)
        months = sorted((wh / table).glob(f"{MONTH_KEY}=*"))
        assert months, table
        assert all(len(list(m.glob("*.parquet"))) == 1 for m in months), table
