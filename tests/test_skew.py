"""Salted join / two-phase agg must be result-identical to the plain forms,
and must actually scatter the hot key across salt buckets."""

import pytest
from pyspark.sql import functions as F

from etl_data_spark.operators.skew import (
    SALT_COL,
    salted_join,
    two_phase_agg,
    with_salt,
)


def _skewed_df(spark):
    # one hot key (90% of rows) + a long tail
    hot = spark.range(9000).select(
        F.lit(7).alias("k"), F.col("id").alias("row_id"), (F.col("id") % 100).alias("v")
    )
    tail = spark.range(1000).select(
        (F.col("id") % 50).alias("k"),
        (F.col("id") + 100000).alias("row_id"),
        (F.col("id") % 100).alias("v"),
    )
    return hot.unionByName(tail)


def test_salted_join_equals_plain_join(spark):
    skewed = _skewed_df(spark)
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("k_name")
    )
    plain = skewed.join(dim, "k").select("row_id", "k", "k_name")
    salted = salted_join(
        skewed, dim, on=["k"], n_salts=8, scatter_cols=["row_id"]
    ).select("row_id", "k", "k_name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salt_scatters_hot_key(spark):
    skewed = _skewed_df(spark)
    buckets = (
        with_salt(skewed.filter(F.col("k") == 7), 8, "row_id")
        .groupBy(SALT_COL)
        .count()
        .collect()
    )
    assert len(buckets) == 8  # hot key spread over all salts
    counts = [r["count"] for r in buckets]
    assert max(counts) < 9000 * 0.3  # no bucket holds the hot key alone


def test_default_scatter_spreads_hot_key(spark):
    """Omitting scatter_cols must still spread the hot key: the default is
    row identity, not the join key (which would no-op the operator)."""
    skewed = _skewed_df(spark)
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("name_"), F.col("id")).alias("k_name")
    )
    plain = skewed.join(dim, "k").select("row_id", "k", "k_name")
    salted = salted_join(skewed, dim, on=["k"], n_salts=8).select(
        "row_id", "k", "k_name"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0

    hot = skewed.filter(F.col("k") == 7)
    buckets = (
        with_salt(hot, 8, *hot.columns).groupBy(SALT_COL).count().collect()
    )
    assert len(buckets) >= 2, "default scatter re-concentrated the hot key"
    counts = [r["count"] for r in buckets]
    assert max(counts) < 9000 * 0.5


def test_salted_join_refuses_outer(spark):
    import pytest

    skewed = _skewed_df(spark)
    dim = spark.range(60).select(F.col("id").alias("k"))
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(skewed, dim, on=["k"], how=how)


def test_two_phase_agg_equals_plain_agg(spark):
    df = _skewed_df(spark)
    plain = df.groupBy("k").agg(
        F.sum("v").alias("sum_v"),
        F.count(F.lit(1)).alias("count_rows"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    two = two_phase_agg(
        df,
        keys=["k"],
        aggs={
            "sum_v": F.sum("v"),
            "count_rows": F.count(F.lit(1)),
            "min_v": F.min("v"),
            "max_v": F.max("v"),
        },
        n_salts=16,
        scatter_cols=["row_id"],
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, two.collect()))


@pytest.mark.parametrize("cap", [0, None], ids=["contract", "finish"])
def test_star_contraction_hub_graph_no_window(spark, monkeypatch, cap):
    """r14 (VERDICT r13 #1): hub-shaped graphs — one node adjacent to every
    other, exactly the shape contraction converges TO — must (a) label
    correctly and (b) never route a hub's whole neighborhood into a single
    sorted window partition (windows cannot be skew-split; the min is a
    partial-aggregated groupBy + AQE-splittable join instead). The 100k
    edges fit the one-task union-find finish, so cap 0 keeps the
    contraction rounds covered on the same hubs."""
    from etl_data_spark.operators import dedup
    from etl_data_spark.operators.dedup import (
        _large_star,
        _small_star,
        connected_components,
    )

    if cap is not None:
        monkeypatch.setattr(dedup, "_FINISH_MAX_EDGES", cap)

    n = 100_000
    # hub = the component MINIMUM (the converged star orientation):
    # every edge is (i, 0) — _large_star's groupBy(u=0) sees n-1 rows
    lo_hub = spark.range(1, n).select(
        F.col("id").alias("id_a"), F.lit(0).alias("id_b")
    )
    # hub = the component MAXIMUM: every edge is (n, i) — _small_star's
    # groupBy(hi=n) sees n-1 rows
    hi_hub = spark.range(1, n).select(
        F.col("id").alias("id_a"), F.lit(n).alias("id_b")
    )
    for pairs, root, size in ((lo_hub, 0, n), (hi_hub, 1, n)):
        labels = connected_components(pairs)
        agg = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("cluster_id").alias("k"),
            F.min("cluster_id").alias("root"),
        ).first()
        assert (agg["n"], agg["k"], agg["root"]) == (size, 1, root)

    # plan shape: no WindowExec in a contraction round (the r13 hub hazard)
    rnd = _small_star(_large_star(
        lo_hub.selectExpr("id_a as hi", "id_b as lo")
    ))
    plan = rnd._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
