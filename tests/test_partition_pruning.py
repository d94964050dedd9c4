"""Partition pruning on the month-partitioned writer — the access path that
replaces the reference's B-tree date indexes — plus join-strategy hints."""

import datetime as dt
import os

from pyspark.sql import functions as F

from etl_data_spark.generate import generate_source
from etl_data_spark.io.writers import (
    MONTH_KEY,
    cluster_by_month,
    one_task_if_small,
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


def _month_files(path: str) -> dict[str, int]:
    return {
        d: len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
        for d in os.listdir(path)
        if d.startswith(f"{MONTH_KEY}=")
    }


def test_small_unaligned_write_runs_in_one_task(spark, tmp_path):
    """A small map-only read of an unpartitioned table is written (and
    aggregated) from one task: no exchange, one file per month, the same
    rows as the hash-clustered write it replaces. Above the size floor
    (forced here by a 1-byte floor) the write keeps the repartition."""
    src = str(tmp_path / "flat")
    generate_source(spark, rows=300, seed=7).write.parquet(src)
    keyed = with_month_key(spark.read.parquet(src).filter(F.col("age") > 0))

    one = cluster_by_month(keyed)
    assert "Exchange" not in _plan(one)
    assert "Exchange" not in _plan(one_task_if_small(keyed).groupBy("region").count())
    one.write.partitionBy(MONTH_KEY).parquet(str(tmp_path / "one"))

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        hashed = cluster_by_month(keyed)
        assert "REPARTITION_BY_COL" in _plan(hashed)
        hashed.write.partitionBy(MONTH_KEY).parquet(str(tmp_path / "hash"))
    finally:
        spark.conf.set(key, prev)

    files = _month_files(str(tmp_path / "one"))
    assert len(files) > 1 and set(files.values()) == {1}, files
    assert set(files) == set(_month_files(str(tmp_path / "hash")))
    back = [spark.read.parquet(str(tmp_path / t)) for t in ("one", "hash")]
    assert back[0].exceptAll(back[1]).count() == 0
    assert back[1].exceptAll(back[0]).count() == 0


def test_row_multiplying_plan_keeps_the_shuffle(spark, tmp_path):
    """A small scan followed by a generator can emit any number of rows,
    so it is not put in one task: a month write keeps the repartition."""
    src = str(tmp_path / "flat")
    generate_source(spark, rows=300, seed=7).write.parquet(src)
    exploded = spark.read.parquet(src).withColumn(
        "copy", F.explode(F.array(F.lit(1), F.lit(2)))
    )
    assert "REPARTITION_BY_COL" in _plan(cluster_by_month(with_month_key(exploded)))
    assert one_task_if_small(exploded) is exploded


def test_pipeline_fact_and_mart_writes_are_map_only(spark, tmp_path, monkeypatch):
    """Every write of a small nightly batch runs without a shuffle: silver
    (cleansed read-back bronze, in one task), the four dims (distinct +
    numbering of read-back silver, in one task), the fact (read-back
    silver joined to broadcast dims) and the fresh mart (the read-back
    fact's window). Each month directory holds one file."""
    from pyspark.sql.readwriter import DataFrameWriter

    from etl_data_spark import pipeline as P
    from etl_data_spark.star import DIM_SPECS

    sc = spark.sparkContext
    groups = {}
    parquet = DataFrameWriter.parquet

    def in_group(writer, path, *args, **kwargs):
        # a dim is written to its rewrite staging dir, ``{dim}__tmp_{tag}``
        table = os.path.basename(path).split("__tmp_")[0]
        group = f"{table}-{tmp_path.name}"
        groups[table] = group
        sc.setJobGroup(group, "map-only write")
        try:
            return parquet(writer, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", in_group)
    wh = tmp_path / "wh"
    P.run_pipeline(spark, rows=300, seed=7, warehouse=str(wh))

    store = sc._jsc.sc().statusStore()
    dims = [spec[0] for spec in DIM_SPECS]
    for table in ["silver", *dims, "fact_task", "mart_task"]:
        jobs = sc.statusTracker().getJobIdsForGroup(groups[table])
        stages = [s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds]
        assert jobs and stages, table
        shuffled = sum(store.lastStageAttempt(s).shuffleWriteBytes() for s in stages)
        assert shuffled == 0, (table, shuffled)
        if table not in dims:
            files = _month_files(str(wh / table))
            assert files and set(files.values()) == {1}, (table, files)


def test_pipeline_reloads_keep_one_file_per_mart_month(spark, tmp_path):
    """Nightly reloads into one warehouse, with windows that cut months in
    two, keep every mart month in one file: a reload merges the month's
    kept rows with the persisted batch, and that merge is clustered, so
    files do not pile up run after run. (Each month gets at most one file
    per salt value of the hash clustering: one below 24 cores.)"""
    from etl_data_spark import pipeline as P

    salts = max(1, spark.sparkContext.defaultParallelism // 12)
    wh = str(tmp_path / "wh")
    P.run_pipeline(spark, rows=300, seed=7, warehouse=wh)
    for seed, start, end in ((8, "2023-03-15", "2023-06-15"), (9, "2023-05-10", "2023-08-20")):
        P.run_pipeline(spark, rows=300, seed=seed, start_date=start, end_date=end, warehouse=wh)
        files = _month_files(os.path.join(wh, "mart_task"))
        assert len(files) > 1 and max(files.values()) <= salts, (start, files)
