"""Statistics / profiling / graph query family (round 3).

Covers what a warehouse + training-data pipeline needs beyond plain
rollups: exact linear regression & correlation from order-independent
sums, data profiling (per-column stats in one scan), information theory
(entropy, mutual information), distribution shape (z-score outliers,
rolling window stats, Gini concentration), market-basket co-occurrence,
triangle counting on the co-purchase graph, and blocked fuzzy string
matching. Reference parity: the reference's analytics surface stops at
GROUP BY rollups (fn_dq_report.sql:1-90); this family is the natural
extension a 100 TB lakehouse is actually asked for daily.

Float discipline (same as the rest of the repo): everything that crosses
a SUM of doubles is either decimal-cast before aggregation (exact,
fold-order-independent) or divided/rounded at emit so a 1e-13 partial-agg
difference cannot flip the driver's value hash. ``ROUND(x, k) + 0.0``
canonicalizes -0.0 to +0.0 in both engines.

Scale notes inline per query. Recurring shapes:
- tiny aggregate frames (per-type stats, per-partition counts, corpus
  scalars) ride as broadcast joins, never shuffles of the fact table;
- global rank uses operators/rank.py's range-partitioned construction,
  not a single-partition Window;
- fuzzy matching and co-occurrence are blocked equi-joins (block key =
  shared token / order id), never all-pairs cartesian products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_data_spark.operators.rank import global_row_number
from etl_data_spark.queries import load_table, register

from etl_data_spark.caching import pin
from etl_data_spark.caching import truncate_lineage

# --------------------------------------------------------------------------
# Exact linear regression / correlation
# --------------------------------------------------------------------------


@register(
    "regr_daily_trend",
    """
    WITH b AS (
      SELECT o_orderpriority,
             CAST(DATEDIFF('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    s AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x * x) AS DOUBLE) AS sx2,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS sy2
      FROM b GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) + 0.0
             AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n,
                 6) + 0.0 AS intercept,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 6) + 0.0
             AS corr_r
    FROM s ORDER BY o_orderpriority
    """,
    doc="Per-priority linear regression of order value vs day index, plus "
    "Pearson r — computed from EXACT sums (bigint x-moments, decimal "
    "y-moments), so the result is independent of distributed fold order; "
    "doubles appear only in the final 5-term formula, identical in both "
    "engines. Scale shape: one scan, partial-agg groupBy on a 5-value "
    "key; no window, no join.",
)
def q_regr_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderpriority",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    s = b.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("sy2"),
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    sy, sxy, sy2 = F.col("sy"), F.col("sxy"), F.col("sy2")
    slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    return s.select(
        "o_orderpriority",
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((sy - slope * sx) / n, 6) + F.lit(0.0)).alias("intercept"),
        (
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)),
                6,
            )
            + F.lit(0.0)
        ).alias("corr_r"),
    ).orderBy("o_orderpriority")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def _corr_matrix_sql() -> str:
    """Oracle for the pairwise correlation/covariance matrix: the same
    exact decimal moment sums and the same final double formula as the
    Spark side (both generated from _CORR_COLS/_CORR_PAIRS, so the
    expression shapes cannot drift)."""
    moment_sums = ", ".join(
        f"CAST(SUM(d_{c}) AS DOUBLE) AS s_{c}, "
        f"CAST(SUM(d_{c} * d_{c}) AS DOUBLE) AS s2_{c}"
        for c in _CORR_COLS
    )
    cross_sums = ", ".join(
        f"CAST(SUM(d_{a} * d_{b}) AS DOUBLE) AS sxy_{a}_{b}"
        for a, b in _CORR_PAIRS
    )
    decs = ", ".join(
        f"CAST({c} AS DECIMAL(12,2)) AS d_{c}" for c in _CORR_COLS
    )
    pair_rows = " UNION ALL ".join(
        f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b, n,
               ROUND((n * sxy_{a}_{b} - s_{a} * s_{b})
                     / SQRT((n * s2_{a} - s_{a} * s_{a})
                            * (n * s2_{b} - s_{b} * s_{b})), 6) + 0.0
                 AS corr_r,
               ROUND((sxy_{a}_{b} - s_{a} * s_{b} / n) / (n - 1), 6) + 0.0
                 AS cov_s
        FROM s
        """
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH b AS (SELECT {decs} FROM lineitem),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, {moment_sums}, {cross_sums}
      FROM b
    )
    SELECT * FROM ({pair_rows}) ORDER BY col_a, col_b
    """


@register(
    "corr_matrix",
    _corr_matrix_sql(),
    doc="Pairwise Pearson correlation + sample covariance across the four "
    "lineitem measures, ALL pairs in ONE scan: 14 exact decimal moment "
    "sums in a single grouping-less aggregate (partial-agg, "
    "fold-order-independent), then the closed-form double formula per "
    "pair on the 1-row frame. The built-in corr() would cost a pass per "
    "pair and sum doubles in nondeterministic order; this is the "
    "mergeable-moments pattern extended to the full matrix.",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        *[
            F.col(c).cast("decimal(12,2)").alias(f"d_{c}")
            for c in _CORR_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(f"d_{c}").cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum(F.col(f"d_{c}") * F.col(f"d_{c}"))
            .cast("double")
            .alias(f"s2_{c}")
        )
    for a, b_ in _CORR_PAIRS:
        aggs.append(
            F.sum(F.col(f"d_{a}") * F.col(f"d_{b_}"))
            .cast("double")
            .alias(f"sxy_{a}_{b_}")
        )
    s = b.agg(*aggs)
    # all 6 pair formulas evaluated on the ONE-row moment frame, then
    # stack()-unpivoted — a 6-way union of selects over `s` would re-run
    # the whole aggregation per branch (measured: 6 scans, no exchange
    # reuse even under AQE)
    n = F.col("n")
    pair_cols = []
    stack_args = []
    for a, b_ in _CORR_PAIRS:
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b_}")
        s2a, s2b = F.col(f"s2_{a}"), F.col(f"s2_{b_}")
        sxy = F.col(f"sxy_{a}_{b_}")
        pair_cols.append(
            (
                F.round(
                    (n * sxy - sa * sb)
                    / F.sqrt((n * s2a - sa * sa) * (n * s2b - sb * sb)),
                    6,
                )
                + F.lit(0.0)
            ).alias(f"corr_{a}_{b_}")
        )
        pair_cols.append(
            (F.round((sxy - sa * sb / n) / (n - 1), 6) + F.lit(0.0)).alias(
                f"cov_{a}_{b_}"
            )
        )
        stack_args.append(f"'{a}', '{b_}', corr_{a}_{b_}, cov_{a}_{b_}")
    vals = s.select("n", *pair_cols)
    return (
        vals.selectExpr(
            "n",
            f"stack({len(_CORR_PAIRS)}, {', '.join(stack_args)}) AS "
            "(col_a, col_b, corr_r, cov_s)",
        )
        .select("col_a", "col_b", "n", "corr_r", "cov_s")
        .orderBy("col_a", "col_b")
    )


# --------------------------------------------------------------------------
# Market basket / graph
# --------------------------------------------------------------------------

_SQL_COPURCHASE_EDGES = """
    d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
"""


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Co-purchase edge list: part pairs appearing in the same order.

    Scale shape: the self-join key is l_orderkey, so the pair blow-up is
    bounded per order by (items-per-order choose 2) — a constant for
    TPC-H-like data (<=7 lines) — never a cartesian across orders. The
    pair aggregation is partial-agg friendly.
    """
    d = li.select("l_orderkey", "l_partkey").distinct()
    b = d.withColumnRenamed("l_partkey", "p2")
    return (
        d.withColumnRenamed("l_partkey", "p1")
        .join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "basket_pairs",
    f"""
    WITH {_SQL_COPURCHASE_EDGES}
    SELECT p1, p2, n_orders FROM e
    ORDER BY n_orders DESC, p1, p2 LIMIT 20
    """,
    doc="Top-20 co-purchased part pairs (market basket). Blocked self-join "
    "on l_orderkey; top-k is TakeOrderedAndProject (no global sort "
    "materialization).",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _copurchase_edges(li).orderBy(
        F.desc("n_orders"), "p1", "p2"
    ).limit(20)


@register(
    "triangle_count",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_edges
    FROM g e1
    JOIN g e2 ON e1.v = e2.u
    JOIN g e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    doc="Triangle count on the repeat-co-purchase graph (edges with >=2 "
    "shared orders). Standard distributed wedge-closing join: edges are "
    "oriented (u<v) so each triangle is counted exactly once; the edge "
    "list is computed once and reused (self-join exchange reuse). At "
    "real scale the refinement is degree-based orientation (point edges "
    "from low- to high-degree endpoints) which bounds wedge fan-out by "
    "sqrt(|E|); noted, not needed at test SF.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        pin(_copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v")))
    )
    e1 = g.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = g.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = g.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(g.agg(F.count(F.lit(1)).alias("n_edges")))
    )


_PAGERANK_ITERS = 10
_PAGERANK_DAMPING = 0.85


def _pagerank_sql(iters: int = _PAGERANK_ITERS) -> str:
    """Exact PageRank oracle: the power iteration UNROLLED into chained
    CTEs (r1..rN), one join+groupBy per superstep — no recursion needed,
    and DuckDB evaluates it directly on the 3k-edge test graph. The
    damping constant is written ``(1.0 - 0.85)`` to match the Spark
    expression bit-for-bit (``0.15`` as a literal is a different double).
    """
    sql = f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (
      SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM e WHERE n_orders >= 2
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM g GROUP BY u),
    nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT u AS v, 1.0 / n AS r FROM deg CROSS JOIN nv)"""
    for t in range(1, iters + 1):
        sql += f""",
    r{t} AS (
      SELECT g.v AS v,
             (1.0 - {_PAGERANK_DAMPING}) / MAX(nv.n)
               + {_PAGERANK_DAMPING} * SUM(r{t - 1}.r / deg.deg) AS r
      FROM g
      JOIN r{t - 1} ON r{t - 1}.v = g.u
      JOIN deg ON deg.u = g.u
      CROSS JOIN nv
      GROUP BY g.v
    )"""
    sql += f"""
    SELECT v AS p_partkey, ROUND(r, 8) + 0.0 AS rank_score
    FROM r{iters}
    ORDER BY ROUND(r, 8) DESC, v LIMIT 20
    """
    return sql


@register(
    "pagerank_copurchase",
    _pagerank_sql(),
    doc="Top-20 parts by PageRank on the repeat-co-purchase graph, 10 "
    "supersteps, damping 0.85 — the iterative-algorithm family, fully "
    "hash-verified: the oracle unrolls the power iteration into chained "
    "CTEs instead of declaring it non-SQL-expressible. Spark side is the "
    "Pregel-style DataFrame loop in operators/graph.py (one shuffle per "
    "superstep, persisted edge+degree frames, localCheckpoint lineage "
    "truncation). Ordering uses the 8dp-ROUNDED score so 1e-15 fold-order "
    "noise cannot reorder ties.",
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
    )
    ranks = pagerank(
        edges, iters=_PAGERANK_ITERS, damping=_PAGERANK_DAMPING
    )
    r8 = F.round(F.col("r"), 8) + F.lit(0.0)
    return (
        ranks.select(F.col("v").alias("p_partkey"), r8.alias("rank_score"))
        .orderBy(F.desc("rank_score"), "p_partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Data profiling
# --------------------------------------------------------------------------

# (column, non-null count sql, distinct sql, min repr sql, max repr sql)
_PROFILE_COLS = [
    ("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)",
     "CAST(MAX(o_orderkey) AS VARCHAR)"),
    ("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)",
     "CAST(MAX(o_custkey) AS VARCHAR)"),
    ("o_orderstatus", "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
    ("o_totalprice",
     "CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
     "CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"),
    ("o_orderdate",
     "strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S')",
     "strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
    ("o_orderpriority", "MIN(o_orderpriority)", "MAX(o_orderpriority)"),
]

_SQL_PROFILE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT({c}) AS BIGINT) AS n_non_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {mn} AS min_value, {mx} AS max_value
    FROM orders
    """
    for c, mn, mx in _PROFILE_COLS
)


@register(
    "column_profile",
    f"SELECT * FROM ({_SQL_PROFILE}) ORDER BY column_name",
    doc="Per-column profile of orders (non-null / distinct / min / max as "
    "canonical strings) — the reference's DQ checks generalized to every "
    "column. Spark computes ALL columns' aggregates in ONE scan (multi-"
    "distinct becomes a single Expand + partial agg) and unpivots with "
    "stack(); the oracle's UNION ALL re-scans per column, which is fine "
    "for DuckDB at oracle SF but would be 6 scans of a 100 TB table.",
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # min/max on the RAW typed column (string-formatting first would make
    # the extremes lexicographic); the canonical string repr is applied to
    # the already-reduced scalar afterwards.
    spark_repr = {
        "o_totalprice": lambda c: F.col(c).cast("decimal(18,2)").cast("string"),
        "o_orderdate": lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss"),
    }
    aggs, fmt, stack_args = [], [], []
    for i, (c, _, _) in enumerate(_PROFILE_COLS):
        rep = spark_repr.get(c, lambda col: F.col(col).cast("string"))
        aggs += [
            F.count(c).alias(f"cnt{i}"),
            F.count_distinct(F.col(c)).alias(f"dst{i}"),
            F.min(c).alias(f"rawmn{i}"),
            F.max(c).alias(f"rawmx{i}"),
        ]
        fmt += [
            F.col(f"cnt{i}"),
            F.col(f"dst{i}"),
            rep(f"rawmn{i}").alias(f"mn{i}"),
            rep(f"rawmx{i}").alias(f"mx{i}"),
        ]
        stack_args.append(f"'{c}', cnt{i}, dst{i}, mn{i}, mx{i}")
    one = o.agg(*aggs).select(*fmt)
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) AS "
        "(column_name, n_non_null, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


_DOC_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]

_SQL_DOC_PROFILE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT({c}) AS BIGINT) AS n_non_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM documents
    """
    for c in _DOC_PROFILE_COLS
)


@register(
    "document_profile",
    f"SELECT * FROM ({_SQL_DOC_PROFILE}) ORDER BY column_name",
    doc="column_profile's machinery applied to the corpus table (the "
    "curation-side intake report): every column's stats in ONE scan via "
    "a multi-distinct aggregate + stack() unpivot.",
)
def q_document_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aggs, fmt, stack_args = [], [], []
    for i, c in enumerate(_DOC_PROFILE_COLS):
        aggs += [
            F.count(c).alias(f"cnt{i}"),
            F.count_distinct(F.col(c)).alias(f"dst{i}"),
            F.min(c).alias(f"rawmn{i}"),
            F.max(c).alias(f"rawmx{i}"),
        ]
        fmt += [
            F.col(f"cnt{i}"),
            F.col(f"dst{i}"),
            F.col(f"rawmn{i}").cast("string").alias(f"mn{i}"),
            F.col(f"rawmx{i}").cast("string").alias(f"mx{i}"),
        ]
        stack_args.append(f"'{c}', cnt{i}, dst{i}, mn{i}, mx{i}")
    one = d.agg(*aggs).select(*fmt)
    return one.selectExpr(
        f"stack({len(_DOC_PROFILE_COLS)}, {', '.join(stack_args)}) AS "
        "(column_name, n_non_null, n_distinct, min_value, max_value)"
    ).orderBy("column_name")


# --------------------------------------------------------------------------
# Information theory
# --------------------------------------------------------------------------


@register(
    "event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    w AS (
      SELECT user_id, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS k
      FROM c
    )
    SELECT user_id, MAX(tot) AS n_events, MAX(k) AS n_types,
           ROUND(-SUM((cnt * 1.0 / tot) * LOG2(cnt * 1.0 / tot)), 6) + 0.0
             AS entropy_bits
    FROM w GROUP BY user_id ORDER BY user_id
    """,
    doc="Shannon entropy of each user's event-type distribution. One "
    "shuffle on (user_id, event_type), then a user_id window over the "
    "already-reduced counts (<=|types| rows per user — tiny partitions); "
    "the final sum folds <=|types| doubles, so round(6) is safe.",
)
def q_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id")
    ww = c.select(
        "user_id",
        "cnt",
        F.sum("cnt").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p = F.col("cnt") * 1.0 / F.col("tot")
    return (
        ww.groupBy("user_id")
        .agg(
            F.max("tot").alias("n_events"),
            F.max("k").alias("n_types"),
            (F.round(-F.sum(p * F.log2(p)), 6) + F.lit(0.0)).alias(
                "entropy_bits"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "mutual_info_type_hour",
    """
    WITH j AS (
      SELECT event_type AS t, CAST(EXTRACT('hour' FROM ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, EXTRACT('hour' FROM ts)
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
    pt AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM j GROUP BY t),
    ph AS (SELECT h, CAST(SUM(c) AS BIGINT) AS ch FROM j GROUP BY h)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((c * 1.0 / n)
                     * LOG2((c * 1.0 * n) / (ct * 1.0 * ch))), 6) + 0.0
             AS mi_bits
    FROM j JOIN pt USING (t) JOIN ph USING (h) CROSS JOIN tot
    """,
    doc="Mutual information between event type and hour-of-day (is "
    "activity type time-dependent?). The contingency table is one "
    "partial-agg groupBy of the fact table; everything after operates on "
    "<= |types| x 24 rows, with marginals joined broadcast-style.",
)
def q_mutual_info_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    j = (
        e.select("event_type", F.hour("ts").cast("long").alias("h"))
        .groupBy(F.col("event_type").alias("t"), "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = j.agg(F.sum("c").alias("n"))
    pt = j.groupBy("t").agg(F.sum("c").alias("ct"))
    ph = j.groupBy("h").agg(F.sum("c").alias("ch"))
    full = (
        j.join(F.broadcast(pt), "t")
        .join(F.broadcast(ph), "h")
        .crossJoin(F.broadcast(tot))
    )
    c, n, ct, ch = F.col("c"), F.col("n"), F.col("ct"), F.col("ch")
    return full.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            F.round(
                F.sum((c * 1.0 / n) * F.log2((c * 1.0 * n) / (ct * 1.0 * ch))),
                6,
            )
            + F.lit(0.0)
        ).alias("mi_bits"),
    )


# --------------------------------------------------------------------------
# Distribution shape
# --------------------------------------------------------------------------


@register(
    "outlier_zscore",
    """
    WITH s AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 6) AS value_r,
           ROUND((e.value - s.mu) / s.sd, 4) + 0.0 AS z
    FROM events e JOIN s USING (event_type)
    WHERE ABS(e.value - s.mu) > 3 * s.sd
    ORDER BY e.event_id
    """,
    doc="3-sigma outliers per event type. Two scans: a tiny per-type "
    "stats frame (|types| rows) broadcast back onto the fact table — "
    "never a window over giant type partitions. z rounded to 4dp so the "
    "engines' 1e-13 fold-order difference in mu/sd cannot flip the hash.",
)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        e.join(F.broadcast(s), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value_r"),
            (
                F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
                + F.lit(0.0)
            ).alias("z"),
        )
        .orderBy("event_id")
    )


@register(
    "rolling_stats",
    """
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER w, 6) + 0.0 AS roll_avg,
           ROUND(STDDEV_SAMP(value) OVER w, 6) + 0.0 AS roll_sd
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="Per-user rolling mean/stddev over the trailing 10 events — the "
    "standard monitoring smoother. One shuffle on user_id; frames are "
    "ROWS-bounded so state per row is O(10). First row's sample stddev "
    "is NULL in both engines (n<2).",
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        (F.round(F.avg("value").over(w), 6) + F.lit(0.0)).alias("roll_avg"),
        (F.round(F.stddev_samp("value").over(w), 6) + F.lit(0.0)).alias(
            "roll_sd"
        ),
    ).orderBy("user_id", "event_id")


@register(
    "gini_revenue",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY o_custkey
    ),
    rk AS (
      SELECT rev,
             CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * rev)
                   / (CAST(COUNT(*) AS DOUBLE) * SUM(rev))
                 - (CAST(COUNT(*) AS DOUBLE) + 1.0)
                   / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS gini
    FROM rk
    """,
    doc="Gini coefficient of customer revenue concentration. The Spark "
    "path ranks with operators/rank.py global_row_number (range-"
    "partitioned rank: one range shuffle + per-partition window + "
    "broadcast offsets) — NOT the oracle's single-partition global "
    "window, which would funnel every customer through one task at "
    "scale. Revenue is an exact decimal sum; the rank-weighted sum's "
    "1e-13 fold variance is absorbed by round(6).",
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    rk = global_row_number(r, ["rev", "o_custkey"], out_col="i")
    nd = F.count(F.lit(1)).cast("double")
    return rk.agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.round(
                2.0 * F.sum(F.col("i") * F.col("rev")) / (nd * F.sum("rev"))
                - (nd + 1.0) / nd,
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


_LPA_ITERS = 5


def _lpa_sql(iters: int = _LPA_ITERS) -> str:
    """Unrolled synchronous-LPA oracle: per superstep, a neighbor-label
    histogram + per-vertex argmax (ties -> smallest label), expressed with
    a window in SQL and a min-over-(-cnt,label) struct in Spark — the two
    formulations pick the identical label because the update rule is pure
    integer arithmetic."""
    sql = f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (
      SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM e WHERE n_orders >= 2
    ),
    l0 AS (SELECT DISTINCT u AS v, u AS label FROM g)"""
    for t in range(1, iters + 1):
        sql += f""",
    h{t} AS (
      SELECT g.v AS v, l{t - 1}.label, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g JOIN l{t - 1} ON l{t - 1}.v = g.u
      GROUP BY g.v, l{t - 1}.label
    ),
    l{t} AS (
      SELECT v, label FROM (
        SELECT v, label,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, label) AS rn
        FROM h{t}
      ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT v AS p_partkey, label AS community
    FROM l{iters} ORDER BY v
    """
    return sql


@register(
    "lpa_communities",
    _lpa_sql(),
    doc="Community detection by synchronous label propagation (5 "
    "supersteps, ties to smallest label) on the repeat-co-purchase "
    "graph — the second iterative-algorithm entry, and a FULLY "
    "integer-exact one: no rounding anywhere, the oracle unrolls the "
    "supersteps into chained CTEs. Spark picks each vertex's label with "
    "a partial-agg min over (-count, label) instead of a per-vertex "
    "window.",
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
    )
    return (
        label_propagation(edges, iters=_LPA_ITERS)
        .select(F.col("v").alias("p_partkey"), F.col("label").alias("community"))
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# Warehouse utilities: calendar dimension, regex scalar surface
# --------------------------------------------------------------------------


@register(
    "calendar_dim",
    """
    WITH b AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ),
    days AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL '1 day')) AS DATE)
               AS day
      FROM b
    )
    SELECT day,
           CAST(year(day) AS BIGINT) AS y,
           CAST(month(day) AS BIGINT) AS m,
           CAST(quarter(day) AS BIGINT) AS q,
           CAST(weekofyear(day) AS BIGINT) AS week_iso,
           CAST(isodow(day) AS BIGINT) AS dow_iso,
           isodow(day) >= 6 AS is_weekend,
           CAST(date_trunc('month', day) AS DATE) AS month_start,
           CAST(day(last_day(day)) AS BIGINT) AS days_in_month
    FROM days ORDER BY day
    """,
    doc="Calendar dimension spanning the fact table's date range — the "
    "standard star-schema date dim the reference hardcodes in its DDL, "
    "generated declaratively: a 2-value aggregate bound frame, "
    "sequence() + explode for the day spine (no driver-side loop), pure "
    "codegen'd date attributes. ISO day-of-week (Mon=1) is computed as "
    "weekday()+1 on the Spark side to match DuckDB's isodow exactly.",
)
def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = b.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    dow_iso = (F.expr("weekday(day)") + F.lit(1)).cast("long")
    return days.select(
        "day",
        F.year("day").cast("long").alias("y"),
        F.month("day").cast("long").alias("m"),
        F.quarter("day").cast("long").alias("q"),
        F.weekofyear("day").cast("long").alias("week_iso"),
        dow_iso.alias("dow_iso"),
        (dow_iso >= 6).alias("is_weekend"),
        F.trunc("day", "month").alias("month_start"),
        F.dayofmonth(F.last_day("day")).cast("long").alias("days_in_month"),
    ).orderBy("day")


@register(
    "regex_surface",
    """
    SELECT doc_id,
           regexp_extract(text, '([a-z]{7,})', 1) AS first_long_word,
           CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT)
             AS n_vowels,
           regexp_replace(substr(text, 1, 40), '[aeiou]', '', 'g')
             AS devoweled_prefix
    FROM documents ORDER BY doc_id
    """,
    doc="Regex scalar surface (extract / count / global replace) — the "
    "text-wrangling functions the reference's plpgsql layer lacks but "
    "any curation pipeline needs. All three are JVM-side codegen'd "
    "expressions (no Python); patterns are POSIX-class only, the "
    "portable subset of Java regex vs RE2.",
)
def q_regex_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]{7,})", 1).alias("first_long_word"),
        F.regexp_count("text", F.lit("[aeiou]"))
        .cast("long")
        .alias("n_vowels"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "").alias(
            "devoweled_prefix"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Count-min sketch (mergeable heavy-hitter estimation)
# --------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 1024


def _cm_spark_bucket() -> F.Column:
    """Bucket for (row ``i``, ``term``): md5-prefix int mod width. Same
    engine-portable scheme as operators/dedup.py's BASE_HASH_EXPR."""
    return F.expr(
        "cast(conv(substr(md5(concat(cast(i as string), ':', term)), 1, 11),"
        f" 16, 10) as bigint) % {_CM_WIDTH}"
    )


def _cm_duck_bucket(sref: str) -> str:
    # positional md5-prefix parse (DuckDB's md5_number_* are little-endian)
    return (
        "CAST(list_sum(list_transform(range(1, 12), k -> "
        f"(strpos('0123456789abcdef', substr(md5({sref}), k, 1)) - 1) "
        "* CAST(power(16, 11 - k) AS BIGINT))) AS BIGINT) "
        f"% {_CM_WIDTH}"
    )


@register(
    "countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks WHERE term <> '' GROUP BY term
    ),
    rows_ AS (SELECT unnest(range(0, {_CM_DEPTH})) AS i),
    cells AS (
      SELECT i, bucket, CAST(SUM(n) AS BIGINT) AS total FROM (
        SELECT tf.n, rows_.i,
               {_cm_duck_bucket("CAST(rows_.i AS VARCHAR) || ':' || tf.term")}
                 AS bucket
        FROM tf CROSS JOIN rows_
      ) GROUP BY i, bucket
    ),
    top AS (SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 20),
    probes AS (
      SELECT top.term, top.n, rows_.i,
             {_cm_duck_bucket("CAST(rows_.i AS VARCHAR) || ':' || top.term")}
               AS bucket
      FROM top CROSS JOIN rows_
    )
    SELECT p.term, p.n AS exact_n, MIN(c.total) AS est_n,
           MIN(c.total) - p.n AS overestimate
    FROM probes p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.term, p.n
    ORDER BY exact_n DESC, term
    """,
    doc=f"Count-min sketch (d={_CM_DEPTH}, w={_CM_WIDTH}) over document "
    "terms, probed at the exact top-20 — emits exact vs estimated counts "
    "and the (provably nonnegative) overestimate. The sketch is the "
    "mergeable-summary family's third member (bitmap: exact, HLL: "
    "distinct, CM: frequency): cells are SUMs, so partial sketches "
    "OR-merge by addition across partitions/days with no rescan. "
    "Spark side sketches the (term,count) REDUCTION, not the raw token "
    "stream — identical cells, one groupBy less over the fact data. "
    "Hash rows use the engine-portable md5-prefix scheme.",
)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    # consumed by both the sketch build and the exact-top-20 probe side
    tf = pin(toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")))
    # depth as an exploded dimension, NOT a 4-way union of selects — union
    # branches re-run the token aggregation per branch (the corr_matrix
    # lesson: no exchange reuse across union arms)
    depth = F.explode(
        F.array(*[F.lit(i) for i in range(_CM_DEPTH)])
    ).alias("i")
    cells = (
        tf.select("term", "n", depth)
        .withColumn("bucket", _cm_spark_bucket())
        .groupBy("i", "bucket")
        .agg(F.sum("n").alias("total"))
    )
    top = tf.orderBy(F.desc("n"), "term").limit(20)
    probes = (
        top.select("term", "n", depth)
        .withColumn("bucket", _cm_spark_bucket())
    )
    return (
        F.broadcast(probes)
        .join(cells, ["i", "bucket"])
        .groupBy("term", F.col("n").alias("exact_n"))
        .agg(F.min("total").alias("est_n"))
        .select(
            "term",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "term")
    )


@register(
    "funnel_strict_sequence",
    """
    WITH a AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    b AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN a USING (user_id)
      WHERE e.event_type = 'view' AND e.ts >= a.t1
      GROUP BY e.user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN b USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= b.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_then_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_then_purchase
    """,
    doc="Strictly-ordered funnel: click, then a view AT OR AFTER the "
    "first click, then a purchase at or after that view — the "
    "sequence-constrained variant of funnel_counts (which only requires "
    "stage presence). Each stage is one filtered scan joined to the "
    "previous stage's per-user earliest-time frame on user_id; stage "
    "frames scale with |users|, so the joins stay keyed shuffles "
    "(partial-agg min both sides), not forced broadcasts.",
)
def q_funnel_strict_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    b = (
        e.filter(F.col("event_type") == "view")
        .join(a, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    c = (
        e.filter(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        a.agg(F.count(F.lit(1)).alias("n_click"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).alias("n_then_view"))))
        .crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("n_then_purchase")))
        )
    )


@register(
    "mad_value",
    """
    WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events),
    dev AS (SELECT ABS(value - med.m) AS d FROM events CROSS JOIN med)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(med.m), 6) + 0.0 AS median_value,
           ROUND(quantile_cont(d, 0.5), 6) + 0.0 AS mad
    FROM dev CROSS JOIN med
    """,
    doc="Median absolute deviation of event values — the robust-statistics "
    "twin of outlier_zscore (MAD survives the very outliers stddev "
    "absorbs). Two passes: exact interpolated median (broadcast 1-row "
    "frame), then the median of absolute deviations. Spark's percentile "
    "and DuckDB's quantile_cont agree to 1 ulp on interpolation; round 6 "
    "absorbs it.",
)
def q_mad_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    med = e.agg(F.percentile("value", F.lit(0.5)).alias("m"))
    dev = e.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("value") - F.col("m")).alias("d"), "m"
    )
    return dev.agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.max("m"), 6) + F.lit(0.0)).alias("median_value"),
        (F.round(F.percentile("d", F.lit(0.5)), 6) + F.lit(0.0)).alias(
            "mad"
        ),
    )


@register(
    "bag_set_ops",
    """
    WITH f AS (
      SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ),
    o AS (
      SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'O'
    ),
    ea AS (SELECT * FROM f EXCEPT ALL SELECT * FROM o),
    ia AS (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
    SELECT * FROM (
      SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct
      FROM ea
      UNION ALL
      SELECT 'intersect_all', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
      FROM ia
    ) ORDER BY op
    """,
    doc="Multiset EXCEPT ALL / INTERSECT ALL — the bag-semantics set ops "
    "the DISTINCT-based family (§2.6) doesn't cover, over part "
    "references in finished vs open orders. Both engines implement bag "
    "semantics identically (occurrence-count arithmetic). The two "
    "input bags are persisted: they feed both ops, and plan branches "
    "do not share subplan results otherwise (SCALE.md §11).",
)
def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    j = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    f = (
        pin(j.filter(F.col("o_orderstatus") == "F").select("l_partkey"))
    )
    o = (
        pin(j.filter(F.col("o_orderstatus") == "O").select("l_partkey"))
    )

    def summarize(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("l_partkey")).alias("n_distinct"),
        ).select(F.lit(label).alias("op"), "n_rows", "n_distinct")

    return (
        summarize(f.exceptAll(o), "except_all")
        .unionAll(summarize(f.intersectAll(o), "intersect_all"))
        .orderBy("op")
    )


@register(
    "outlier_robust_z",
    """
    WITH s AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_id, e.event_type, e.value, s.med,
             ABS(e.value - s.med) AS dev
      FROM events e JOIN s USING (event_type)
    ),
    m AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           ROUND(d.value, 6) AS value_r,
           ROUND(0.6745 * (d.value - d.med) / m.mad, 4) + 0.0 AS modified_z
    FROM d JOIN m USING (event_type)
    WHERE ABS(0.6745 * (d.value - d.med)) > 3.5 * m.mad
    ORDER BY d.event_id
    """,
    doc="Robust outliers by modified z-score (Iglewicz-Hoaglin: 0.6745 * "
    "(x - median)/MAD > 3.5) per event type — the MAD-based twin of "
    "outlier_zscore that contamination cannot mask. Two grouped "
    "exact-percentile passes; both tiny per-type stats frames broadcast "
    "back onto the fact scan. The threshold predicate multiplies "
    "instead of dividing so a zero MAD cannot produce NULL/inf rows.",
)
def q_outlier_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = e.join(F.broadcast(s), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    m = d.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    out = d.join(F.broadcast(m), "event_type")
    score = 0.6745 * (F.col("value") - F.col("med"))
    return (
        out.filter(F.abs(score) > 3.5 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value_r"),
            (F.round(score / F.col("mad"), 4) + F.lit(0.0)).alias(
                "modified_z"
            ),
        )
        .orderBy("event_id")
    )


@register(
    "benford_deviation",
    """
    WITH d AS (
      SELECT CAST(regexp_extract(
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
               '^([1-9])', 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           ROUND(n * 1.0 / total, 6) + 0.0 AS share,
           ROUND(log10(1 + 1.0 / digit), 6) + 0.0 AS benford_expected,
           ROUND(ABS(n * 1.0 / total - log10(1 + 1.0 / digit)), 6) + 0.0
             AS abs_deviation
    FROM c CROSS JOIN t ORDER BY digit
    """,
    doc="Benford's-law screen on order totals: observed first-significant-"
    "digit shares vs log10(1+1/d) — the classic anomaly/fraud DQ check, "
    "extending the reference's validity family. The leading digit comes "
    "from the DECIMAL's string form (regexp on '^[1-9]'), never from "
    "floor(log10(x)) float math, so digit assignment is exact in both "
    "engines. One scan, 9-row result, total rides as a broadcast scalar.",
)
def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.regexp_extract(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "^([1-9])",
            1,
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    share = F.col("n") * 1.0 / F.col("total")
    expected = F.log10(1 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            (F.round(share, 6) + F.lit(0.0)).alias("share"),
            (F.round(expected, 6) + F.lit(0.0)).alias("benford_expected"),
            (F.round(F.abs(share - expected), 6) + F.lit(0.0)).alias(
                "abs_deviation"
            ),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Attribution
# --------------------------------------------------------------------------

_ATTR_GAP_US = 7 * 86_400 * 1_000_000  # 7-day look-back


@register(
    "attribution_first_touch",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts
      FROM p JOIN c ON c.user_id = p.user_id
       AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
       AND epoch_us(p.purchase_ts) - epoch_us(c.click_ts) <= {_ATTR_GAP_US}
    )
    SELECT purchase_id, user_id, purchase_ts,
           click_id AS first_click_id, click_ts AS first_click_ts,
           epoch_us(purchase_ts) - epoch_us(click_ts) AS gap_us
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
                                       ORDER BY click_ts, click_id) AS rn
          FROM j)
    WHERE rn = 1 ORDER BY purchase_id
    """,
    doc="First-touch attribution: each purchase credited to the EARLIEST "
    "same-user click within the 7-day look-back (the as-of join's "
    "backward-window dual — as-of gives last-touch). Bucketized on the "
    "gap width so the candidate join is an equi-join on (user, bucket) "
    "probing two buckets, never an inequality nested loop; the winner "
    "per purchase is min(struct(ts,id)) — a partial-agg min, not a "
    "window over candidates.",
)
def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        us.alias("us_p"),
        F.explode(
            F.array(
                F.floor(us / _ATTR_GAP_US) - 1, F.floor(us / _ATTR_GAP_US)
            )
        ).alias("__cb"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        us.alias("us_c"),
        F.floor(us / _ATTR_GAP_US).alias("__cb"),
    )
    j = p.join(
        c,
        (p["user_id"] == c["c_user"]) & (p["__cb"] == c["__cb"]),
    ).filter(
        (F.col("us_c") <= F.col("us_p"))
        & (F.col("us_p") - F.col("us_c") <= _ATTR_GAP_US)
    )
    first = F.min(F.struct("click_ts", "click_id")).alias("first")
    return (
        j.groupBy("purchase_id", "user_id", "purchase_ts", "us_p")
        .agg(first)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            F.col("first.click_id").alias("first_click_id"),
            F.col("first.click_ts").alias("first_click_ts"),
            (F.col("us_p") - F.unix_micros("first.click_ts")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# Customer analytics: RFM segmentation, Pareto/ABC
# --------------------------------------------------------------------------


@register(
    "rfm_segments",
    """
    WITH m AS (
      SELECT o_custkey,
             CAST(DATEDIFF('day', MAX(CAST(o_orderdate AS DATE)),
                           DATE '1998-12-31') AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS qr,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS qf,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
      FROM m
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           1 + CAST(recency_days > qr[1] AS INT)
             + CAST(recency_days > qr[2] AS INT)
             + CAST(recency_days > qr[3] AS INT) AS r_score,
           1 + CAST(frequency > qf[1] AS INT)
             + CAST(frequency > qf[2] AS INT)
             + CAST(frequency > qf[3] AS INT) AS f_score,
           1 + CAST(monetary > qm[1] AS INT)
             + CAST(monetary > qm[2] AS INT)
             + CAST(monetary > qm[3] AS INT) AS m_score
    FROM m CROSS JOIN q
    ORDER BY o_custkey
    """,
    doc="RFM segmentation: per-customer recency/frequency/monetary plus "
    "quartile scores. Scale shape: one fact groupBy, then the three "
    "quartile thresholds ride as a broadcast 1-row frame — bucketing by "
    "threshold comparison, NOT a global ntile window (which would funnel "
    "all customers through one task). Quartile positions (n-1)*q have "
    "exactly-representable fractional parts, and metric gaps dwarf the "
    "1-ulp interpolation-formula difference between engines, so the "
    "comparisons are deterministic. Recency scores low=recent=1 "
    "(mechanical bucketing; interpretation inverts it).",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.max(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    q = m.agg(
        F.percentile("recency_days", probs).alias("qr"),
        F.percentile("frequency", probs).alias("qf"),
        F.percentile("monetary", probs).alias("qm"),
    )

    def score(col: str, thresholds: str):
        return (
            F.lit(1)
            + (F.col(col) > F.element_at(thresholds, 1)).cast("int")
            + (F.col(col) > F.element_at(thresholds, 2)).cast("int")
            + (F.col(col) > F.element_at(thresholds, 3)).cast("int")
        )

    return (
        m.crossJoin(F.broadcast(q))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            score("recency_days", "qr").alias("r_score"),
            score("frequency", "qf").alias("f_score"),
            score("monetary", "qm").alias("m_score"),
        )
        .orderBy("o_custkey")
    )


@register(
    "abc_analysis",
    """
    WITH r AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT CAST(SUM(rev) AS DECIMAL(28,2)) AS total FROM r),
    c AS (
      SELECT o_custkey, rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                                 ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(28,2)) AS cum_rev
      FROM r
    )
    SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
             AS cum_share,
           CASE WHEN cum_rev * 5 <= total * 4 THEN 'A'
                WHEN cum_rev * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN t
    ORDER BY o_custkey
    """,
    doc="Pareto/ABC classification of customers by cumulative revenue "
    "share (A: first 80%, B: to 95%, C: tail). The Spark path computes "
    "the running sum with operators/rank.py global_running_sum (range "
    "partition on (-rev, custkey), per-partition fold, broadcast "
    "offsets) — not the oracle's single-partition global window. Class "
    "boundaries compare EXACT decimals (cum*5 <= total*4), so no float "
    "boundary can misclassify; only the reported cum_share is a rounded "
    "double.",
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    r2 = r.withColumn("neg_rev", -F.col("rev"))
    c = global_running_sum(
        r2, ["neg_rev", "o_custkey"], "rev", out_col="cum_rev_raw"
    )
    t = r.agg(F.sum("rev").cast("decimal(28,2)").alias("total"))
    cum = F.col("cum_rev_raw").cast("decimal(28,2)")
    five = F.lit(5).cast("decimal(2,0)")
    four = F.lit(4).cast("decimal(2,0)")
    twenty = F.lit(20).cast("decimal(2,0)")
    nineteen = F.lit(19).cast("decimal(2,0)")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "o_custkey",
            F.col("rev").cast("double").alias("revenue"),
            (
                F.round(
                    cum.cast("double") / F.col("total").cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("cum_share"),
            F.when(cum * five <= F.col("total") * four, "A")
            .when(cum * twenty <= F.col("total") * nineteen, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Fuzzy string matching
# --------------------------------------------------------------------------


@register(
    "fuzzy_name_match",
    """
    WITH p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS tok
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS p1, b.p_partkey AS p2, b.p_name AS name2,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM p a JOIN p b
        ON a.tok = b.tok AND a.p_partkey <> b.p_partkey
    )
    SELECT p1, p2 AS nearest_partkey, nearest_name, dist FROM (
      SELECT p1, p2, name2 AS nearest_name, dist,
             ROW_NUMBER() OVER (PARTITION BY p1
                                ORDER BY dist, name2, p2) AS rk
      FROM pairs
    ) WHERE rk = 1 ORDER BY p1
    """,
    doc="Nearest differently-keyed part name by edit distance, blocked on "
    "the shared first token — the fuzzy-dedup shape for entity "
    "resolution. Blocking turns all-pairs O(n^2) levenshtein into "
    "per-block equi-join work; at real scale the refinement is capping "
    "block size (salt oversized blocks / length banding), same policy as "
    "the MinHash-LSH family. Tie-break is (dist, name, key) so top-1 is "
    "deterministic.",
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle states the semantics as a brute-force blocked pair join;
    # executing THAT shape is quadratic in part count (sf0.1: ~80M
    # levenshtein pairs + an 80M-row window -> ~66s measured). The name
    # domain is tiny and SF-independent (a bounded vocabulary), so the
    # scale-correct plan collapses to NAME granularity first:
    #   - per (token-block, name): count, smallest key k1, second key k2
    #   - quadratic levenshtein only on DISTINCT name pairs (|D|^2, not n^2)
    #   - map back to parts with broadcast joins.
    # Under the tie order (dist, name, key) a duplicated name always wins
    # (dist 0 beats any other name's dist >= 1), so:
    #   dup-name part    -> nearest = other key of its own name group
    #   unique-name part -> nearest = block's closest other name's k1.
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.split("p_name", " ").getItem(0).alias("tok")
    )
    wname = Window.partitionBy("tok", "p_name").orderBy("p_partkey")
    ranked = p.withColumn("rk", F.row_number().over(wname))
    names = (
        ranked.groupBy("tok", "p_name")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("p_partkey").alias("k1"),
            F.min(F.when(F.col("rk") == 2, F.col("p_partkey"))).alias("k2"),
        )
    )
    a = names.select("tok", F.col("p_name").alias("name1"))
    b = names.select(
        "tok", F.col("p_name").alias("name2"), F.col("k1").alias("k1_2")
    )
    name_pairs = (
        a.join(b, "tok")
        .filter(F.col("name1") != F.col("name2"))
        .select(
            "tok",
            "name1",
            "name2",
            "k1_2",
            F.levenshtein("name1", "name2").cast("long").alias("dist"),
        )
    )
    wnear = Window.partitionBy("tok", "name1").orderBy(
        "dist", "name2", "k1_2"
    )
    nearest_other = (
        name_pairs.withColumn("rn", F.row_number().over(wnear))
        .filter(F.col("rn") == 1)
        .select(
            "tok",
            F.col("name1").alias("p_name"),
            F.col("name2").alias("o_name"),
            F.col("k1_2").alias("o_key"),
            F.col("dist").alias("o_dist"),
        )
    )
    enriched = p.join(names, ["tok", "p_name"]).join(
        nearest_other, ["tok", "p_name"], "left"
    )
    dup = F.col("n_keys") > 1
    same_name_buddy = F.when(
        F.col("p_partkey") == F.col("k1"), F.col("k2")
    ).otherwise(F.col("k1"))
    return (
        enriched.filter(dup | F.col("o_key").isNotNull())
        .select(
            F.col("p_partkey").alias("p1"),
            F.when(dup, same_name_buddy)
            .otherwise(F.col("o_key"))
            .alias("nearest_partkey"),
            F.when(dup, F.col("p_name"))
            .otherwise(F.col("o_name"))
            .alias("nearest_name"),
            F.when(dup, F.lit(0).cast("long"))
            .otherwise(F.col("o_dist"))
            .alias("dist"),
        )
        .orderBy("p1")
    )


# --------------------------------------------------------------------------
# BFS shortest-path hop distances (iterative-algorithm family, member 3)
# --------------------------------------------------------------------------

_BFS_MAX_HOPS = 6


def _bfs_sql(max_hops: int = _BFS_MAX_HOPS) -> str:
    """BFS oracle: the frontier expansion UNROLLED into chained CTEs
    (d0..dN), one join + anti-membership check per level — the same
    no-recursion construction as the PageRank and label-propagation
    oracles, and integer-exact (no floats anywhere). Each level reads the
    one before it three times, so the levels and ``g`` are MATERIALIZED:
    inlined, DuckDB re-expands d0 3^N times (sf0.001: 325 s -> 0.1 s)."""
    sql = f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS MATERIALIZED (
      SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM e WHERE n_orders >= 2
    ),
    d0 AS MATERIALIZED (SELECT MIN(u) AS v, 0 AS hops FROM g)"""
    for t in range(1, max_hops + 1):
        sql += f""",
    d{t} AS MATERIALIZED (
      SELECT v, hops FROM d{t - 1}
      UNION ALL
      SELECT DISTINCT g.v, {t} AS hops
      FROM g JOIN d{t - 1} f ON f.v = g.u AND f.hops = {t - 1}
      WHERE g.v NOT IN (SELECT v FROM d{t - 1})
    )"""
    sql += f"""
    SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_vertices,
           MIN(v) AS min_part, MAX(v) AS max_part
    FROM d{max_hops}
    GROUP BY hops ORDER BY hops
    """
    return sql


@register(
    "bfs_hops",
    _bfs_sql(),
    doc="BFS hop-distance histogram from the smallest vertex of the "
    "repeat-co-purchase graph, 6 levels — third member of the iterative-"
    "algorithm family (PageRank, label propagation, BFS), hash-verified "
    "via an unrolled-CTE oracle. Spark side is frontier expansion in "
    "operators/graph.py::bfs_hops: one join+distinct per level against "
    "the persisted symmetrized edge list, anti-join against the reached "
    "set, localCheckpoint per level. Integer-exact, so no rounding "
    "discipline is needed at all.",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.graph import bfs_hops, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
    )
    # deterministic seed: the smallest vertex id in the (symmetrized)
    # graph — one scalar to the driver, same discipline as pagerank's N
    src_id = (
        symmetrize(edges).agg(F.min("u").alias("m")).collect()[0]["m"]
    )
    dist = bfs_hops(edges, F.col("v") == F.lit(src_id), max_hops=_BFS_MAX_HOPS)
    return (
        dist.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("v").alias("min_part"),
            F.max("v").alias("max_part"),
        )
        .orderBy("hops")
    )


# --------------------------------------------------------------------------
# Hypothesis testing: chi-square independence + Welch two-sample t
# --------------------------------------------------------------------------


@register(
    "chi_square_independence",
    """
    WITH cells AS (
      SELECT o_orderstatus AS st, o_orderpriority AS pr,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT st, CAST(SUM(obs) AS BIGINT) AS row_n FROM cells GROUP BY st),
    ct AS (SELECT pr, CAST(SUM(obs) AS BIGINT) AS col_n FROM cells GROUP BY pr),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT rt.st, ct.pr, rt.row_n, ct.col_n,
             COALESCE(cells.obs, 0) AS obs
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.st = rt.st AND cells.pr = ct.pr
    ),
    terms AS (
      SELECT (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
              / (SELECT CAST(n AS DOUBLE) FROM tot)) AS exp_cnt, obs
      FROM grid
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST((COUNT(DISTINCT st) - 1) AS BIGINT) FROM rt)
             * (SELECT CAST((COUNT(DISTINCT pr) - 1) AS BIGINT) FROM ct)
             AS dof,
           ROUND(SUM((obs - exp_cnt) * (obs - exp_cnt) / exp_cnt), 6) + 0.0
             AS chi2
    FROM terms
    """,
    doc="Chi-square test of independence between order status and "
    "priority. The contingency table is built from integer cell counts "
    "(partial-agg groupBy on a 100 TB fact = one exchange of <20 rows "
    "per mapper); marginals and the expected-count grid are kilobyte "
    "frames composed with broadcast joins, including zero-observed cells "
    "via the marginal cross join. Floats appear only in the final "
    "closed-form terms over exact integers, rounded at emit.",
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = (
        pin(o.groupBy(
            F.col("o_orderstatus").alias("st"),
            F.col("o_orderpriority").alias("pr"),
        )
        .agg(F.count(F.lit(1)).alias("obs")))
    )
    rt = cells.groupBy("st").agg(F.sum("obs").alias("row_n"))
    ct = cells.groupBy("pr").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(F.sum("obs").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(cells), ["st", "pr"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    exp_cnt = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    terms = grid.select(
        "n", "obs", exp_cnt.alias("exp_cnt"),
    )
    dof = (
        rt.agg((F.countDistinct("st") - 1).alias("r1"))
        .crossJoin(ct.agg((F.countDistinct("pr") - 1).alias("c1")))
        .select((F.col("r1") * F.col("c1")).alias("dof"))
    )
    chi = terms.groupBy("n").agg(
        (
            F.round(
                F.sum(
                    (F.col("obs") - F.col("exp_cnt"))
                    * (F.col("obs") - F.col("exp_cnt"))
                    / F.col("exp_cnt")
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("chi2")
    )
    return chi.crossJoin(F.broadcast(dof)).select("n", "dof", "chi2")


@register(
    "welch_t_test",
    """
    WITH b AS (
      SELECT o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(12,2)) AS d
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    s AS (
      SELECT
        CAST(SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN st = 'F' THEN d END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN st = 'F' THEN d * d END) AS DOUBLE) AS q1,
        CAST(SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN st = 'O' THEN d END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN st = 'O' THEN d * d END) AS DOUBLE) AS q2
      FROM b
    ),
    m AS (
      SELECT n1, n2,
             s1 / n1 AS m1, s2 / n2 AS m2,
             (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
             (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2
      FROM s
    )
    SELECT n1, n2,
           ROUND(m1, 4) + 0.0 AS mean_f,
           ROUND(m2, 4) + 0.0 AS mean_o,
           ROUND((m1 - m2) / SQRT(se1 + se2), 6) + 0.0 AS t_stat,
           ROUND((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4) + 0.0
             AS df_welch
    FROM m
    """,
    doc="Welch two-sample t-test (unequal variances) comparing total "
    "price between finished and open orders — ONE scan with conditional "
    "exact decimal moment sums (the corr_matrix discipline), then the "
    "closed-form t statistic and Welch-Satterthwaite degrees of freedom "
    "on the 1-row frame. Every float derives from exact sums through an "
    "expression mirrored verbatim in the oracle, so the hash cannot "
    "drift with partitioning or fold order.",
)
def q_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(12,2)")
    st = F.col("o_orderstatus")
    b = o.filter(st.isin("F", "O")).select(st.alias("st"), d.alias("d"))
    is_f = F.col("st") == "F"
    is_o = F.col("st") == "O"
    s = b.agg(
        F.sum(F.when(is_f, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is_f, F.col("d"))).cast("double").alias("s1"),
        F.sum(F.when(is_f, F.col("d") * F.col("d"))).cast("double").alias("q1"),
        F.sum(F.when(is_o, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(is_o, F.col("d"))).cast("double").alias("s2"),
        F.sum(F.when(is_o, F.col("d") * F.col("d"))).cast("double").alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m = s.select(
        n1,
        n2,
        (F.col("s1") / n1).alias("m1"),
        (F.col("s2") / n2).alias("m2"),
        ((F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1) / n1).alias("se1"),
        ((F.col("q2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1) / n2).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    return m.select(
        "n1",
        "n2",
        (F.round(F.col("m1"), 4) + F.lit(0.0)).alias("mean_f"),
        (F.round(F.col("m2"), 4) + F.lit(0.0)).alias("mean_o"),
        (F.round((F.col("m1") - F.col("m2")) / F.sqrt(se), 6) + F.lit(0.0)).alias(
            "t_stat"
        ),
        (
            F.round(
                se * se
                / (
                    F.col("se1") * F.col("se1") / (n1 - 1)
                    + F.col("se2") * F.col("se2") / (n2 - 1)
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("df_welch"),
    )


# --------------------------------------------------------------------------
# Rank transforms / weighted quantiles / seasonal anomalies
# --------------------------------------------------------------------------


@register(
    "quantile_normalize",
    """
    SELECT o_orderkey, o_totalprice,
           ROUND(CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) + 0.0
             AS quantile
    FROM (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    """,
    doc="Quantile normalization (rank transform to [0,1]) of order totals "
    "— the distribution-free feature scaling step. The oracle's "
    "ROW_NUMBER()/COUNT() OVER () is the single-partition formulation "
    "Spark must NOT run at 100 TB; the engine side uses "
    "operators/rank.py::global_row_number (range shuffle + map-side "
    "offsets, no global window) plus a broadcast count. The quantile is "
    "an exact-integer ratio, so both engines divide identical numbers.",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rk = global_row_number(o, ["o_totalprice", "o_orderkey"], out_col="rn")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    return rk.crossJoin(F.broadcast(n)).select(
        "o_orderkey",
        "o_totalprice",
        (
            F.round(
                (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("quantile"),
    )


_SEASONAL_Z = 1.5


@register(
    "seasonal_anomaly",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    dw AS (
      SELECT day, cnt,
             ((CAST(day - DATE '2024-01-01' AS INT) % 7) + 7) % 7 AS dow
      FROM d
    ),
    base AS (
      SELECT dow,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(cnt) AS DOUBLE) AS s,
             CAST(SUM(cnt * cnt) AS DOUBLE) AS q
      FROM dw GROUP BY dow
    )
    SELECT dw.day, dw.dow, dw.cnt,
           ROUND((dw.cnt - s / k)
                 / SQRT((q - s * s / k) / (k - 1)), 6) + 0.0 AS z
    FROM dw JOIN base USING (dow)
    WHERE k > 1
      AND (q - s * s / k) > 0
      AND ABS((dw.cnt - s / k) / SQRT((q - s * s / k) / (k - 1)))
            > {_SEASONAL_Z}
    """,
    doc="Seasonal anomaly screen: each day's event count z-scored against "
    "its own DAY-OF-WEEK baseline, so weekly periodicity is not flagged "
    "as anomalous (the plain z-score screen would flag every weekend). "
    "Day-of-week comes from pure epoch-day arithmetic (pmod of a "
    "datediff), identical cross-engine; baselines are exact integer "
    "moment sums per dow (7 rows, broadcast back onto days). The z "
    "expression is mirrored verbatim including the guard predicates.",
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dw = d.withColumn(
        "dow",
        F.pmod(F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")), 7),
    )
    base = dw.groupBy("dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("cnt").cast("double").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("q"),
    )
    j = dw.join(F.broadcast(base), "dow")
    mean = F.col("s") / F.col("k")
    var = (F.col("q") - F.col("s") * F.col("s") / F.col("k")) / (F.col("k") - 1)
    z = (F.col("cnt") - mean) / F.sqrt(var)
    return (
        j.filter((F.col("k") > 1) & (var > 0) & (F.abs(z) > _SEASONAL_Z))
        .select(
            "day",
            "dow",
            "cnt",
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
    )


@register(
    "weighted_median",
    """
    WITH b AS (
      SELECT l_extendedprice AS p,
             CAST(l_quantity AS DECIMAL(12,2)) AS w,
             l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem
    ),
    t AS (SELECT SUM(w) AS tw FROM b),
    r AS (
      SELECT p, SUM(w) OVER (ORDER BY p, ok, ln) AS run FROM b
    )
    SELECT CAST(t.tw AS DOUBLE) AS total_weight,
           MIN(r.p) AS weighted_median
    FROM r CROSS JOIN t
    WHERE 2 * r.run >= t.tw
    GROUP BY t.tw
    """,
    doc="Quantity-weighted median price: smallest price whose running "
    "weight reaches half the total. The oracle's global running SUM "
    "window is single-partition; the engine side uses "
    "operators/rank.py::global_running_sum (range partition + broadcast "
    "per-partition offsets). Weights are exact decimals, so the "
    "half-total comparison (2*run >= total, multiply-not-divide) is "
    "bit-exact in both engines.",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p"),
        F.col("l_quantity").cast("decimal(12,2)").alias("w"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    r = global_running_sum(li, ["p", "ok", "ln"], "w", out_col="run")
    t = li.agg(F.sum("w").alias("tw"))
    return (
        r.crossJoin(F.broadcast(t))
        .filter(F.col("run") * 2 >= F.col("tw"))
        .groupBy("tw")
        .agg(F.min("p").alias("weighted_median"))
        .select(
            F.col("tw").cast("double").alias("total_weight"),
            "weighted_median",
        )
    )


# --------------------------------------------------------------------------
# Entity resolution / forecasting / equi-depth histograms
# --------------------------------------------------------------------------


@register(
    "entity_resolution",
    """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS tok
      FROM part
    ),
    n AS (SELECT DISTINCT p_name, tok FROM p),
    e0 AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM n a JOIN n b
        ON a.tok = b.tok AND a.p_name < b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    edges AS (
      SELECT na AS s, nb AS d FROM e0
      UNION
      SELECT nb, na FROM e0
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    lbl AS (SELECT s AS name, LEAST(MIN(d), s) AS root FROM reach GROUP BY s),
    resolved AS (
      SELECT p.p_partkey, COALESCE(lbl.root, p.p_name) AS root
      FROM p LEFT JOIN lbl ON lbl.name = p.p_name
    )
    SELECT root AS entity_root,
           MIN(p_partkey) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM resolved GROUP BY root
    """,
    doc="End-to-end entity resolution over part names: block on the first "
    "token, link names within edit distance 2, close the link graph into "
    "entities (iterative min-label connected components), and emit one "
    "canonical record per entity (min member key). Linking runs on the "
    "DISTINCT NAME domain — bounded vocabulary, SF-independent — and "
    "parts map in by broadcast-scale joins, the same value-domain rule "
    "that made fuzzy_name_match 67x faster (SCALE.md §10). Oracle is a "
    "recursive-CTE transitive closure, so the component labels are "
    "ground truth, not an approximation.",
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.dedup import connected_components

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ")[0].alias("tok"),
    )
    names = pin(p.select("p_name", "tok").distinct())
    a = names.select(F.col("p_name").alias("id_a"), "tok")
    b = names.select(F.col("p_name").alias("id_b"), "tok")
    pairs = a.join(b, "tok").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.levenshtein("id_a", "id_b") <= 2)
    )
    cc = connected_components(pairs)
    resolved = p.join(
        cc, p["p_name"] == cc["doc_id"], "left"
    ).select(
        "p_partkey",
        F.coalesce("cluster_id", "p_name").alias("root"),
    )
    return resolved.groupBy(F.col("root").alias("entity_root")).agg(
        F.min("p_partkey").alias("entity_id"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@register(
    "forecast_backtest",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT a.event_type, a.day, a.cnt AS actual, b.cnt AS forecast
      FROM d a JOIN d b
        ON b.event_type = a.event_type
       AND b.day = a.day - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ABS(actual - forecast)) AS DOUBLE) / COUNT(*), 6)
             AS mae,
           ROUND(CAST(SUM(ABS(actual - forecast)) AS DOUBLE)
                 / SUM(actual), 6) AS wape
    FROM j GROUP BY event_type
    """,
    doc="Seasonal-naive forecast backtest: forecast(day) = actual(day-7) "
    "per event type; scored with MAE and weighted absolute percentage "
    "error over every day with a week-old observation. The error sums "
    "are exact integers (counts), so the two final ratios are the only "
    "floats — deterministic division of identical numbers. The shape "
    "is one partial-agg reduction plus a self-join on (type, day) keys "
    "— kilobyte frames at any fact scale; the standard baseline every "
    "forecasting pipeline must beat (and the daily-count reduction is "
    "what a real model trains on).",
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = pin(e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt")))
    a, b = d.alias("a"), d.alias("b")
    j = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.cnt").alias("actual"),
        F.col("b.cnt").alias("forecast"),
    )
    err = F.sum(F.abs(F.col("actual") - F.col("forecast")))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(err.cast("double") / F.count(F.lit(1)), 6).alias("mae"),
        F.round(err.cast("double") / F.sum("actual"), 6).alias("wape"),
    )


_EQUIDEPTH_BINS = 10


@register(
    "equidepth_histogram",
    f"""
    WITH r AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(((rn - 1) * {_EQUIDEPTH_BINS}) // n AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM r GROUP BY 1
    """,
    doc="Equi-depth (equal-count) histogram of order totals: bin = "
    "floor(rank*B/n) over the distributed rank, so every bin holds "
    "n/B rows regardless of skew — the histogram query optimizers keep "
    "in statistics, and the right binning for long-tailed measures "
    "where equi-width bins collapse into one bucket. No global window: "
    "rank comes from operators/rank.py; bin arithmetic is exact "
    "integer, bounds are exact MIN/MAX per bin.",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rk = global_row_number(o, ["o_totalprice", "o_orderkey"], out_col="rn")
    n = o.agg(F.count(F.lit(1)).alias("n"))
    binned = rk.crossJoin(F.broadcast(n)).select(
        "o_totalprice",
        F.floor(
            ((F.col("rn") - 1) * _EQUIDEPTH_BINS) / F.col("n")
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "dq_expectations",
    """
    SELECT expectation, n_violations FROM (
      SELECT 'not_null:o_custkey' AS expectation,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations FROM orders
      UNION ALL
      SELECT 'range:o_totalprice>0',
             CAST(SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'in_set:o_orderstatus',
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             OR o_orderstatus IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'regex:o_orderpriority',
             CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                             OR o_orderpriority IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'unique:o_orderkey',
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
    )
    """,
    doc="Config-driven data-quality expectations suite "
    "(dq.py::run_expectations): not-null, range, set-membership, regex, "
    "and uniqueness checks over orders, ALL evaluated in one scan — "
    "row-wise checks as conditional sums in a single grouping-less "
    "partial aggregate, uniqueness as count-minus-distinct on the same "
    "pass. The generalization of the reference's fixed fn_dq_checks "
    "surface into a declarative check list: adding an expectation adds "
    "an expression, never a pass over the fact table.",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.dq import run_expectations

    o = load_table(spark, sf_dir, "orders")
    exps = [
        ("not_null:o_custkey", F.col("o_custkey").isNull()),
        (
            "range:o_totalprice>0",
            ~(F.col("o_totalprice") > 0) | F.col("o_totalprice").isNull(),
        ),
        (
            "in_set:o_orderstatus",
            ~F.col("o_orderstatus").isin("O", "F", "P")
            | F.col("o_orderstatus").isNull(),
        ),
        (
            "regex:o_orderpriority",
            ~F.col("o_orderpriority").rlike("^[1-5]-")
            | F.col("o_orderpriority").isNull(),
        ),
    ]
    return run_expectations(o, exps, unique_cols=("o_orderkey",))


# --------------------------------------------------------------------------
# ML feature preparation: target encoding, feature hashing, drift
# --------------------------------------------------------------------------


@register(
    "target_encoding",
    """
    WITH g AS (
      SELECT o_orderpriority AS pr,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS gm FROM g
    )
    SELECT o_orderkey,
           ROUND(CASE WHEN g.n > 1 THEN
                   CAST(g.s - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                     / (g.n - 1)
                 ELSE (SELECT gm FROM tot) END, 6) + 0.0 AS target_enc
    FROM orders JOIN g ON g.pr = o_orderpriority
    """,
    doc="Leave-one-out target encoding of order priority by mean total "
    "price — the category encoder that avoids leaking each row's own "
    "label: enc = (group_sum - own) / (group_n - 1), singleton groups "
    "falling back to the global mean. Group sums are exact decimals "
    "(fold-order-free) broadcast back onto the fact scan; the per-row "
    "subtraction stays in decimal until the final division. One scan "
    "plus a kilobyte broadcast at any scale.",
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    # g feeds two branches (the broadcast join and the global-mean fold);
    # without persist the second branch re-runs the fact aggregation
    # (plan-branch reuse rule, SCALE.md §11)
    g = (
        pin(o.groupBy(F.col("o_orderpriority").alias("pr"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec).alias("s")))
    )
    tot = g.agg(
        (F.sum("s").cast("double") / F.sum("n")).alias("gm")
    )
    j = o.join(
        F.broadcast(g), g["pr"] == o["o_orderpriority"]
    ).crossJoin(F.broadcast(tot))
    enc = F.when(
        F.col("n") > 1,
        (F.col("s") - dec).cast("double") / (F.col("n") - 1),
    ).otherwise(F.col("gm"))
    return j.select(
        "o_orderkey", (F.round(enc, 6) + F.lit(0.0)).alias("target_enc")
    )


_PSI_BINS = 10
_PSI_CUTOFF = "1998-01-01"


@register(
    "drift_psi",
    f"""
    WITH s AS (
      SELECT o_totalprice AS x,
             o_orderdate < TIMESTAMP '{_PSI_CUTOFF} 00:00:00' AS is_a
      FROM orders
    ),
    mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM s),
    b AS (
      SELECT LEAST(CAST(FLOOR((x - mn) * 10.0 / (mx - mn)) AS INT),
                   {_PSI_BINS - 1}) AS bin,
             is_a
      FROM s CROSS JOIN mm
    ),
    c AS (
      SELECT bin,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM b GROUP BY bin
    ),
    t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c)
    SELECT bin, ca, cb,
           ROUND(((ca + 0.5) / (na + {_PSI_BINS * 0.5})
                  - (cb + 0.5) / (nb + {_PSI_BINS * 0.5}))
                 * ln(((ca + 0.5) / (na + {_PSI_BINS * 0.5}))
                      / ((cb + 0.5) / (nb + {_PSI_BINS * 0.5}))), 6) + 0.0
             AS psi_contrib
    FROM c CROSS JOIN t
    """,
    doc="Population-stability-index drift screen: order-value distribution "
    "before vs after a cutoff date, 10 equi-width bins over the pooled "
    "range, Laplace-smoothed (+0.5) bin shares, per-bin PSI "
    "contribution. Everything up to the final closed form is integer "
    "counts; the bin formula is the identical float expression in both "
    "engines. Shape: one scan + a 2-value broadcast (min/max) + a "
    "10-row reduce — the always-on monitor between a training snapshot "
    "and serving data.",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderdate") < F.lit(_PSI_CUTOFF).cast("timestamp")).alias(
            "is_a"
        ),
    )
    mm = s.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    binned = s.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                (F.col("x") - F.col("mn")) * 10.0 / (F.col("mx") - F.col("mn"))
            ).cast("int"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
        "is_a",
    )
    c = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("cb"),
    )
    t = c.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    sm = _PSI_BINS * 0.5
    pa = (F.col("ca") + 0.5) / (F.col("na") + sm)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + sm)
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        "ca",
        "cb",
        (F.round((pa - pb) * F.log(pa / pb), 6) + F.lit(0.0)).alias(
            "psi_contrib"
        ),
    )


_FEATHASH_DIM = 64

_SQL_MD5_32_STATS = """
    CAST(list_sum(list_transform(range(1, 9),
        k -> (strpos('0123456789abcdef', substr(md5({key}), CAST(k AS INT), 1)) - 1)
             * CAST(power(16, 8 - k) AS BIGINT))) AS BIGINT)
"""


@register(
    "feature_hashing",
    f"""
    SELECT o_orderkey, feature, idx FROM (
      SELECT o_orderkey, 'status' AS feature,
             CAST({_SQL_MD5_32_STATS.format(key="concat('status:', o_orderstatus)")}
                  % {_FEATHASH_DIM} AS INT) AS idx
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'priority',
             CAST({_SQL_MD5_32_STATS.format(key="concat('priority:', o_orderpriority)")}
                  % {_FEATHASH_DIM} AS INT)
      FROM orders
    )
    """,
    doc="Hashing-trick categorical encoding: each (column, value) maps to "
    "a bucket in a fixed 64-dim feature space via the portable "
    "md5-prefix integer (the repo's cross-engine hash convention), "
    "emitted in sparse long form (row, feature, index). No vocabulary "
    "pass, no fit state — every executor encodes rows independently, "
    "which is the property that lets the encoder run inside the scan "
    "stage on unbounded category domains at 100 TB.",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def bucket(prefix: str, col: str) -> F.Column:
        h = F.expr(
            f"cast(conv(substr(md5(concat('{prefix}:', {col})), 1, 8), 16, 10) "
            "as bigint)"
        )
        return (h % _FEATHASH_DIM).cast("int")

    return o.select(
        "o_orderkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("status").alias("feature"),
                    bucket("status", "o_orderstatus").alias("idx"),
                ),
                F.struct(
                    F.lit("priority").alias("feature"),
                    bucket("priority", "o_orderpriority").alias("idx"),
                ),
            )
        ).alias("f"),
    ).select(
        "o_orderkey",
        F.col("f.feature").alias("feature"),
        F.col("f.idx").alias("idx"),
    )


@register(
    "graph_clustering_coeff",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g0 AS (SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2),
    g AS (
      SELECT u, v FROM g0 UNION ALL SELECT v, u FROM g0
    ),
    deg AS (SELECT u AS v, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY u),
    tri AS (
      SELECT w.v, CAST(COUNT(*) AS BIGINT) AS tri
      FROM (SELECT a.u AS v, a.v AS x, b.v AS y
            FROM g a JOIN g b ON a.u = b.u AND a.v < b.v) w
      JOIN g0 ON g0.u = w.x AND g0.v = w.y
      GROUP BY w.v
    )
    SELECT deg.v AS p_partkey, deg.deg,
           COALESCE(tri.tri, 0) AS n_triangles,
           ROUND(2.0 * COALESCE(tri.tri, 0) / (deg.deg * (deg.deg - 1)), 6)
             + 0.0 AS clustering_coeff
    FROM deg LEFT JOIN tri ON tri.v = deg.v
    WHERE deg.deg >= 2
    """,
    doc="Local clustering coefficient per vertex of the repeat-co-purchase "
    "graph: closed wedges at v over possible wedges, cc = 2*tri/(d*(d-1)). "
    "Wedge generation is the neighbor self-join (bounded by per-vertex "
    "degree, the triangle_count shape), closure check is an equi-join "
    "against the oriented edge list, and the persisted edge frame feeds "
    "all branches — integer-exact until the one final ratio. The "
    "standard 100 TB refinement is degree-ordered wedge orientation to "
    "bound hub fan-out; noted, not needed at test SF.",
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g0 = (
        pin(_copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v")))
    )
    g = g0.unionAll(g0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = g.groupBy(F.col("u").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    a = g.select(F.col("u").alias("c"), F.col("v").alias("x"))
    b = g.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges = a.join(b, "c").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        g0, (g0["u"] == wedges["x"]) & (g0["v"] == wedges["y"])
    )
    tri = closed.groupBy(F.col("c").alias("v")).agg(
        F.count(F.lit(1)).alias("tri")
    )
    out = deg.join(tri, "v", "left").filter(F.col("deg") >= 2)
    cc = 2.0 * F.coalesce(F.col("tri"), F.lit(0)) / (
        F.col("deg") * (F.col("deg") - 1)
    )
    return out.select(
        F.col("v").alias("p_partkey"),
        "deg",
        F.coalesce(F.col("tri"), F.lit(0)).alias("n_triangles"),
        (F.round(cc, 6) + F.lit(0.0)).alias("clustering_coeff"),
    )


# --------------------------------------------------------------------------
# Data repair: group-median imputation, time-weighted interpolation
# --------------------------------------------------------------------------

# Deterministic null injection (testdata has no missing values): every
# 17th event loses its measure, identically in both engines.
_IMPUTE_NULL = "event_id % 17 = 0"


@register(
    "impute_group_median",
    f"""
    WITH holes AS (
      SELECT event_id, event_type,
             CASE WHEN {_IMPUTE_NULL} THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS m
      FROM holes GROUP BY event_type
    )
    SELECT h.event_id,
           ROUND(COALESCE(h.v, med.m), 6) + 0.0 AS value_imputed,
           h.v IS NULL AS was_imputed
    FROM holes h JOIN med USING (event_type)
    """,
    doc="Group-median imputation: missing measures (every 17th event, "
    "injected deterministically since testdata is complete) filled with "
    "their event type's exact interpolated median. The per-group median "
    "frame is a handful of rows broadcast onto the fact scan; rows keep "
    "a was_imputed flag so downstream consumers can weight or exclude "
    "repairs. Median-not-mean is the robust default for skewed "
    "telemetry measures.",
)
def q_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    holes = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    med = holes.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("m")
    )
    return holes.join(F.broadcast(med), "event_type").select(
        "event_id",
        (F.round(F.coalesce(F.col("v"), F.col("m")), 6) + F.lit(0.0)).alias(
            "value_imputed"
        ),
        F.col("v").isNull().alias("was_imputed"),
    )


@register(
    "interpolate_linear",
    f"""
    WITH holes AS (
      SELECT event_id, user_id, ts,
             CASE WHEN {_IMPUTE_NULL} THEN NULL ELSE value END AS v
      FROM events
    ),
    nb AS (
      SELECT event_id, user_id, ts, v,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS t_prev,
             LAST_VALUE(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS v_prev,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS t_next,
             FIRST_VALUE(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS v_next
      FROM holes
    )
    SELECT event_id,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN v_prev IS NOT NULL AND v_next IS NOT NULL
                  AND epoch(t_next) > epoch(t_prev) THEN
               v_prev + (v_next - v_prev)
                 * (epoch(ts) - epoch(t_prev))
                 / (epoch(t_next) - epoch(t_prev))
             ELSE COALESCE(v_prev, v_next)
           END, 6) + 0.0 AS value_filled,
           v IS NULL AS was_filled
    FROM nb
    """,
    doc="Time-weighted linear interpolation of missing measures inside "
    "each user's series: v_prev + (v_next - v_prev) * dt_ratio between "
    "the nearest non-null neighbors (IGNORE NULLS window frames), "
    "falling back to forward/backward fill at series edges. One shuffle "
    "on the series key; per-user frames are bounded. The interpolation "
    "expression is the identical double formula in both engines over "
    "epoch seconds, rounded at emit.",
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    holes = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    order = [F.col("ts"), F.col("event_id")]
    prev = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nxt = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, W.unboundedFollowing)
    )
    vts = F.when(F.col("v").isNotNull(), F.col("ts"))
    nb = holes.select(
        "event_id",
        "ts",
        "v",
        F.last(vts, ignorenulls=True).over(prev).alias("t_prev"),
        F.last("v", ignorenulls=True).over(prev).alias("v_prev"),
        F.first(vts, ignorenulls=True).over(nxt).alias("t_next"),
        F.first("v", ignorenulls=True).over(nxt).alias("v_next"),
    )
    # cast-to-double keeps fractional seconds (unix_timestamp truncates),
    # matching DuckDB's epoch()
    ep = lambda c: F.col(c).cast("double")  # noqa: E731
    interp = F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * (
        ep("ts") - ep("t_prev")
    ) / (ep("t_next") - ep("t_prev"))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("v_prev").isNotNull()
            & F.col("v_next").isNotNull()
            & (ep("t_next") > ep("t_prev")),
            interp,
        )
        .otherwise(F.coalesce("v_prev", "v_next"))
    )
    return nb.select(
        "event_id",
        (F.round(filled, 6) + F.lit(0.0)).alias("value_filled"),
        F.col("v").isNull().alias("was_filled"),
    )


# --------------------------------------------------------------------------
# Robust aggregation: winsorized/trimmed stats, rank-sum test
# --------------------------------------------------------------------------


@register(
    "winsorized_stats",
    """
    WITH b AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x FROM orders),
    p AS (
      -- round in DOUBLE first: a direct double->decimal cast resolves
      -- .xx5 interpolation boundaries by different half-rules in the two
      -- engines; ROUND(,2) leaves no boundary for the cast to decide
      SELECT CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.05), 2)
                  AS DECIMAL(18,2)) AS p05,
             CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.95), 2)
                  AS DECIMAL(18,2)) AS p95
      FROM b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CASE WHEN x < p.p05 THEN p.p05
                               WHEN x > p.p95 THEN p.p95
                               ELSE x END) AS DOUBLE) / COUNT(*), 6) + 0.0
             AS winsorized_mean,
           ROUND(CAST(SUM(CASE WHEN x >= p.p05 AND x <= p.p95 THEN x END)
                      AS DOUBLE)
                 / SUM(CASE WHEN x >= p.p05 AND x <= p.p95 THEN 1 ELSE 0 END),
                 6) + 0.0 AS trimmed_mean,
           CAST(SUM(CASE WHEN x < p.p05 OR x > p.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped
    FROM b CROSS JOIN p
    """,
    doc="Robust location estimates: winsorized mean (outliers clipped to "
    "the exact p5/p95) and 90% trimmed mean (outliers dropped), plus the "
    "clip count. The percentile pair is a 2-value broadcast; clipped "
    "values stay DECIMAL through the sum so the aggregate is fold-order "
    "exact, with doubles only in the final division — the robust "
    "reporting pair for skewed revenue-like measures where a plain mean "
    "follows the tail.",
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    b = o.select(x.alias("x"))
    p = b.agg(
        F.round(F.percentile(F.col("x").cast("double"), F.lit(0.05)), 2)
        .cast("decimal(18,2)")
        .alias("p05"),
        F.round(F.percentile(F.col("x").cast("double"), F.lit(0.95)), 2)
        .cast("decimal(18,2)")
        .alias("p95"),
    )
    j = b.crossJoin(F.broadcast(p))
    clipped = (
        F.when(F.col("x") < F.col("p05"), F.col("p05"))
        .when(F.col("x") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("x"))
    )
    inside = (F.col("x") >= F.col("p05")) & (F.col("x") <= F.col("p95"))
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.round(F.sum(clipped).cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("winsorized_mean"),
        (
            F.round(
                F.sum(F.when(inside, F.col("x"))).cast("double")
                / F.sum(F.when(inside, 1).otherwise(0)),
                6,
            )
            + F.lit(0.0)
        ).alias("trimmed_mean"),
        F.sum(F.when(~inside, 1).otherwise(0)).alias("n_clipped"),
    )


@register(
    "mann_whitney_u",
    """
    WITH b AS (
      SELECT o_totalprice AS x, o_orderstatus = 'F' AS is_f
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    v AS (
      SELECT x,
             CAST(SUM(CASE WHEN is_f THEN 1 ELSE 0 END) AS BIGINT) AS cf,
             CAST(SUM(CASE WHEN is_f THEN 0 ELSE 1 END) AS BIGINT) AS co
      FROM b GROUP BY x
    ),
    r AS (
      SELECT x, cf, co,
             COALESCE(SUM(co) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS co_below
      FROM v
    ),
    s AS (
      SELECT CAST(SUM(cf) AS BIGINT) AS n1,
             CAST(SUM(co) AS BIGINT) AS n2,
             CAST(SUM(cf * (2 * co_below + co)) AS BIGINT) AS u2x
      FROM r
    )
    SELECT n1, n2,
           ROUND(u2x / 2.0, 1) + 0.0 AS u_stat,
           ROUND((u2x / 2.0 - n1 * n2 / 2.0)
                 / SQRT(n1 * n2 * (n1 + n2 + 1) / 12.0), 6) + 0.0
             AS z_approx
    FROM s
    """,
    doc="Mann-Whitney U rank-sum test (finished vs open orders by total "
    "price) — the distribution-free counterpart to welch_t_test. "
    "Computed WITHOUT ranking rows: U = sum over distinct values of "
    "cf*(co_below + co/2), i.e. pair counting with half-credit ties, "
    "which needs only a per-value count reduce and a prefix sum over "
    "the value domain (operators/rank.py machinery on the engine side) "
    "— exact integers doubled to avoid fractions until emit. The "
    "normal z approximation is emitted alongside (no tie correction; "
    "ties are a measure-zero artifact for continuous prices).",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    o = load_table(spark, sf_dir, "orders")
    b = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderstatus") == "F").alias("is_f"),
    )
    v = b.groupBy("x").agg(
        F.sum(F.when(F.col("is_f"), 1).otherwise(0)).alias("cf"),
        F.sum(F.when(F.col("is_f"), 0).otherwise(1)).alias("co"),
    )
    r = global_running_sum(v, ["x"], "co", out_col="co_incl")
    # running sum is inclusive; the strict-below count subtracts own co
    r = r.withColumn("co_below", F.col("co_incl") - F.col("co"))
    s = r.agg(
        F.sum("cf").alias("n1"),
        F.sum("co").alias("n2"),
        F.sum(F.col("cf") * (2 * F.col("co_below") + F.col("co"))).alias(
            "u2x"
        ),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    return s.select(
        "n1",
        "n2",
        (F.round(F.col("u2x") / 2.0, 1) + F.lit(0.0)).alias("u_stat"),
        (
            F.round(
                (F.col("u2x") / 2.0 - n1 * n2 / 2.0)
                / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0),
                6,
            )
            + F.lit(0.0)
        ).alias("z_approx"),
    )


# --------------------------------------------------------------------------
# Feature engineering: lag features; governance: k-anonymity
# --------------------------------------------------------------------------


@register(
    "lag_features",
    """
    SELECT event_id, user_id,
           ROUND(value, 6) AS v,
           ROUND(LAG(value, 1) OVER w, 6) AS v_lag1,
           ROUND(LAG(value, 2) OVER w, 6) AS v_lag2,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                 6) AS v_ma3,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Per-series lag features (lag1/lag2, 3-event trailing mean, "
    "sequence index) — the feature-engineering pass every sequential "
    "model consumes. One shuffle on the series key; per-user frames are "
    "bounded. The trailing mean averages at most 3 doubles in a fixed "
    "order (ROWS frame over a deterministic (ts, event_id) sort), so "
    "6dp rounding is stable across engines.",
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ma = w.rowsBetween(-2, 0)
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("v"),
        F.round(F.lag("value", 1).over(w), 6).alias("v_lag1"),
        F.round(F.lag("value", 2).over(w), 6).alias("v_lag2"),
        F.round(F.avg("value").over(ma), 6).alias("v_ma3"),
        F.row_number().over(w).cast("long").alias("seq_n"),
    )


_KANON_K = 5


@register(
    "k_anonymity",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS group_size
    FROM orders
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < {_KANON_K}
    """,
    doc="k-anonymity screen (k=5) over the quasi-identifier tuple "
    "(status, priority, order month): groups smaller than k are "
    "re-identification risks a privacy-preserving release must suppress "
    "or generalize. One partial-agg groupBy + HAVING — the governance "
    "twin of the DQ duplicate detector, and the pre-release check for "
    "any training-data export containing quasi-identifiers.",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_orderstatus",
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < _KANON_K)
    )


@register(
    "seasonal_decompose",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT day, cnt,
             CAST(SUM(cnt) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS d7,
             CAST(COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n7,
             ((CAST(day - DATE '2024-01-01' AS INT) % 7) + 7) % 7 AS dow
      FROM d
    ),
    full7 AS (SELECT * FROM t WHERE n7 = 7),
    eff AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(7 * cnt - d7) AS BIGINT) AS s
      FROM full7 GROUP BY dow
    )
    SELECT f.day, f.cnt,
           ROUND(f.d7 / 7.0, 6) + 0.0 AS trend,
           ROUND(e.s / (7.0 * e.k), 6) + 0.0 AS dow_effect,
           ROUND(f.cnt - f.d7 / 7.0 - e.s / (7.0 * e.k), 6) + 0.0
             AS residual
    FROM full7 f JOIN eff e USING (dow)
    """,
    doc="Classical additive decomposition of the daily event series: "
    "trend = 7-day centered moving average, day-of-week effect = mean "
    "detrended value per dow, residual = remainder — the pre-model "
    "diagnostic separating growth from weekly rhythm from noise. "
    "Integer-exact throughout: the detrended values are kept as "
    "7*cnt - sum7 (bigint) so every aggregate is fold-order-free, with "
    "doubles only in the final /7 formulas. Windows run over the DAY "
    "domain (one row per day — thousands of rows for years of data), "
    "never over raw events.",
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    t = pin(d.select(
        "day",
        "cnt",
        F.sum("cnt").over(w7).alias("d7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
        F.pmod(
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")), 7
        ).alias("dow"),
    ).filter(F.col("n7") == 7))
    eff = t.groupBy("dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(7 * F.col("cnt") - F.col("d7")).alias("s"),
    )
    j = t.join(F.broadcast(eff), "dow")
    trend = F.col("d7") / 7.0
    dow_eff = F.col("s") / (7.0 * F.col("k"))
    return j.select(
        "day",
        "cnt",
        (F.round(trend, 6) + F.lit(0.0)).alias("trend"),
        (F.round(dow_eff, 6) + F.lit(0.0)).alias("dow_effect"),
        (F.round(F.col("cnt") - trend - dow_eff, 6) + F.lit(0.0)).alias(
            "residual"
        ),
    )


@register(
    "ab_test_lift",
    """
    WITH b AS (
      SELECT event_id % 2 = 0 AS in_treatment,
             CAST(value AS DECIMAL(12,2)) AS d
      FROM events
    ),
    s AS (
      SELECT
        CAST(SUM(CASE WHEN in_treatment THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN in_treatment THEN d END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN in_treatment THEN d * d END) AS DOUBLE) AS q1,
        CAST(SUM(CASE WHEN in_treatment THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN in_treatment THEN NULL ELSE d END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN in_treatment THEN NULL ELSE d * d END) AS DOUBLE) AS q2
      FROM b
    ),
    m AS (
      SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
             SQRT((q1 - s1 * s1 / n1) / (n1 - 1) / n1
                  + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) AS se
      FROM s
    )
    SELECT n1 AS n_treatment, n2 AS n_control,
           ROUND(m1 - m2, 6) + 0.0 AS lift_abs,
           ROUND((m1 - m2) / m2 * 100.0, 4) + 0.0 AS lift_pct,
           ROUND(m1 - m2 - 1.959963984540054 * se, 6) + 0.0 AS ci_lo,
           ROUND(m1 - m2 + 1.959963984540054 * se, 6) + 0.0 AS ci_hi
    FROM m
    """,
    doc="A/B experiment readout: absolute and percent lift of the "
    "treatment mean with a 95% normal confidence interval, from ONE "
    "scan of conditional exact decimal moment sums (the welch_t_test "
    "machinery re-expressed as the decision-facing report). Assignment "
    "here is the deterministic event_id parity so both engines see "
    "identical groups; in production it is the hash_sample bucketing. "
    "The z constant is written to full double precision so the "
    "expression is bit-identical cross-engine.",
)
def q_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(12,2)")
    t = F.col("event_id") % 2 == 0
    b = e.select(t.alias("in_treatment"), d.alias("d"))
    ist = F.col("in_treatment")
    s = b.agg(
        F.sum(F.when(ist, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(ist, F.col("d"))).cast("double").alias("s1"),
        F.sum(F.when(ist, F.col("d") * F.col("d"))).cast("double").alias("q1"),
        F.sum(F.when(ist, 0).otherwise(1)).alias("n2"),
        F.sum(F.when(~ist, F.col("d"))).cast("double").alias("s2"),
        F.sum(F.when(~ist, F.col("d") * F.col("d"))).cast("double").alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m = s.select(
        n1,
        n2,
        (F.col("s1") / n1).alias("m1"),
        (F.col("s2") / n2).alias("m2"),
        F.sqrt(
            (F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1) / n1
            + (F.col("q2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1) / n2
        ).alias("se"),
    )
    z = 1.959963984540054
    diff = F.col("m1") - F.col("m2")
    return m.select(
        F.col("n1").alias("n_treatment"),
        F.col("n2").alias("n_control"),
        (F.round(diff, 6) + F.lit(0.0)).alias("lift_abs"),
        (F.round(diff / F.col("m2") * 100.0, 4) + F.lit(0.0)).alias("lift_pct"),
        (F.round(diff - z * F.col("se"), 6) + F.lit(0.0)).alias("ci_lo"),
        (F.round(diff + z * F.col("se"), 6) + F.lit(0.0)).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Forecast smoothing + survival analysis
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


@register(
    "ewma_level",
    f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list_transform(list(cnt ORDER BY day), x -> CAST(x AS DOUBLE))
               AS v
      FROM d GROUP BY event_type
    )
    SELECT event_type,
           CAST(len(v) AS BIGINT) AS n_days,
           v[len(v)] AS last_cnt,
           ROUND(list_reduce(v,
             (acc, x) -> {_EWMA_ALPHA} * x + {1 - _EWMA_ALPHA} * acc), 6)
             + 0.0 AS ewma_level
    FROM s
    """,
    doc="Exponentially-weighted level per event type (alpha=0.3) — the "
    "one-step-ahead smoothing forecast. The recursion l_t = a*c_t + "
    "(1-a)*l_(t-1) is a SEQUENTIAL LEFT FOLD, which both engines "
    "express directly (Spark aggregate() over the day-sorted array, "
    "DuckDB list_reduce) — identical fold order means identical doubles "
    "with no rounding exposure before emit. The fold runs over the "
    "per-type DAY-COUNT array (one element per day — bounded domain), "
    "never raw events; the reduction to days is the usual partial-agg "
    "groupBy.",
)
def q_ewma_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    s = d.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))),
            lambda x: x["cnt"].cast("double"),
        ).alias("v")
    )
    a = _EWMA_ALPHA
    lvl = F.aggregate(
        F.expr("slice(v, 2, size(v) - 1)"),
        F.element_at(F.col("v"), 1),
        lambda acc, x: F.lit(a) * x + F.lit(1 - a) * acc,
    )
    return s.select(
        "event_type",
        F.size("v").cast("long").alias("n_days"),
        F.element_at(F.col("v"), F.size("v")).alias("last_cnt"),
        (F.round(lvl, 6) + F.lit(0.0)).alias("ewma_level"),
    )


@register(
    "survival_km",
    """
    WITH t0 AS (
      SELECT user_id, MIN(ts) AS click_ts FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    ev AS (
      SELECT t0.user_id, t0.click_ts, MIN(e.ts) AS purchase_ts
      FROM t0 LEFT JOIN events e
        ON e.user_id = t0.user_id AND e.event_type = 'purchase'
       AND e.ts >= t0.click_ts
      GROUP BY t0.user_id, t0.click_ts
    ),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS end_day FROM events),
    dur AS (
      SELECT user_id,
             CASE WHEN purchase_ts IS NOT NULL THEN
               CAST(CAST(purchase_ts AS DATE) - CAST(click_ts AS DATE) AS INT)
             ELSE
               CAST(end_day - CAST(click_ts AS DATE) AS INT)
             END AS d,
             purchase_ts IS NOT NULL AS is_event
      FROM ev CROSS JOIN horizon
    ),
    byd AS (
      SELECT d,
             CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_leaving
      FROM dur GROUP BY d
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dur),
    r AS (
      SELECT d, n_events,
             tot.n - COALESCE(SUM(n_leaving) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM byd CROSS JOIN tot
    )
    SELECT d AS day_since_click, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_events,
           ROUND(CASE WHEN MAX(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0
                                END) OVER w = 1 THEN 0.0
                 ELSE EXP(SUM(LN(CASE WHEN n_events < n_at_risk THEN
                                   1.0 - CAST(n_events AS DOUBLE) / n_at_risk
                                 ELSE 1.0 END)) OVER w)
                 END, 6) + 0.0 AS survival
    FROM r
    WHERE n_events > 0
    WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Kaplan-Meier survival curve for time from first click to first "
    "purchase, users without a purchase right-censored at the "
    "observation horizon. S(t) = prod(1 - d_i/n_i) computed as "
    "exp(running sum of ln terms): the cumulative product becomes a "
    "sequential windowed sum over the DURATION-DAY domain (one row per "
    "distinct day — bounded), in identical order in both engines, so "
    "the doubles agree bit-for-bit before the 6dp emit. Per-user "
    "reductions (first click, first qualifying purchase) are "
    "partial-agg groupBys; the censoring horizon is a 1-value "
    "broadcast.",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    t0 = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    ev = (
        t0.join(
            p,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pts") >= F.col("click_ts")),
            "left",
        )
        .groupBy("user_id", "click_ts")
        .agg(F.min("pts").alias("purchase_ts"))
    )
    horizon = e.agg(F.max(F.to_date("ts")).alias("end_day"))
    dur = ev.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("purchase_ts").isNotNull(),
            F.datediff(F.to_date("purchase_ts"), F.to_date("click_ts")),
        )
        .otherwise(F.datediff(F.col("end_day"), F.to_date("click_ts")))
        .cast("int")
        .alias("d"),
        F.col("purchase_ts").isNotNull().alias("is_event"),
    )
    byd = dur.groupBy("d").agg(
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("n_events"),
        F.count(F.lit(1)).alias("n_leaving"),
    )
    tot = dur.agg(F.count(F.lit(1)).alias("n"))
    wprev = W.orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    r = byd.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk",
        F.col("n") - F.coalesce(F.sum("n_leaving").over(wprev), F.lit(0)),
    )
    wrun = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    # a duration where everyone still at risk converts has factor 0 —
    # ln would blow up; flag it and pin survival to exactly 0.0 from
    # that point on (the guarded terms contribute ln(1)=0)
    factor_ok = F.col("n_events") < F.col("n_at_risk")
    zero_seen = (
        F.max(F.when(~factor_ok, 1).otherwise(0)).over(wrun) == 1
    )
    surv = F.when(zero_seen, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.log(
                    F.when(
                        factor_ok,
                        1.0
                        - F.col("n_events").cast("double")
                        / F.col("n_at_risk"),
                    ).otherwise(F.lit(1.0))
                )
            ).over(wrun)
        )
    )
    return (
        r.withColumn("survival", F.round(surv, 6) + F.lit(0.0))
        .filter(F.col("n_events") > 0)
        .select(
            F.col("d").alias("day_since_click"),
            "n_at_risk",
            "n_events",
            "survival",
        )
    )


@register(
    "cohort_ltv",
    """
    WITH first_o AS (
      SELECT o_custkey,
             MIN(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
               AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort_month,
             CAST((EXTRACT(YEAR FROM o.o_orderdate)
                   - EXTRACT(YEAR FROM f.cohort_month)) * 12
                  + (EXTRACT(MONTH FROM o.o_orderdate)
                     - EXTRACT(MONTH FROM f.cohort_month)) AS INT)
               AS month_offset,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    sz AS (
      SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS cohort_n
      FROM first_o GROUP BY cohort_month
    )
    SELECT r.cohort_month, r.month_offset, sz.cohort_n,
           CAST(SUM(r.revenue) OVER (PARTITION BY r.cohort_month
             ORDER BY r.month_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             + 0.0 AS cum_revenue,
           ROUND(CAST(SUM(r.revenue) OVER (PARTITION BY r.cohort_month
             ORDER BY r.month_offset
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / sz.cohort_n, 6) + 0.0 AS ltv_per_customer
    FROM rev r JOIN sz USING (cohort_month)
    """,
    doc="Customer-lifetime-value curves: customers are grouped into "
    "cohorts by first-order month, and each cohort's cumulative revenue "
    "per customer is tracked by month offset — the standard LTV payback "
    "readout. Per-(cohort, offset) revenue is an exact decimal "
    "reduction; the cumulative window then runs over the tiny "
    "(cohort x offset) frame, so the running sum is decimal-exact and "
    "cast to double only at emit. Cohort assignment is a per-customer "
    "MIN reduce joined back broadcast-style.",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    first_o = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    j = o.join(first_o, "o_custkey")
    offset = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("int")
    rev = j.groupBy(
        "cohort_month", offset.alias("month_offset")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    sz = first_o.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    w = (
        W.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = rev.join(F.broadcast(sz), "cohort_month").withColumn(
        "cum_revenue", F.sum("revenue").over(w).cast("double") + F.lit(0.0)
    )
    return out.select(
        "cohort_month",
        "month_offset",
        "cohort_n",
        "cum_revenue",
        (
            F.round(F.col("cum_revenue") / F.col("cohort_n"), 6) + F.lit(0.0)
        ).alias("ltv_per_customer"),
    )


# --------------------------------------------------------------------------
# Model-evaluation family (round 3 continuation): ROC-AUC, PR curve,
# calibration. A 100 TB training pipeline ends in an eval job over the
# scored holdout — these are the three readouts every such job computes.
# The recurring scale shape: reduce (label, score) facts to the SCORE
# DOMAIN first (a few hundred buckets regardless of fact rows — one
# partial-agg groupBy), then run the cumulative machinery as windows over
# that tiny domain frame. All counts stay integer until the final
# division, so the distributed fold order cannot perturb the hash.
# --------------------------------------------------------------------------

# "Model" under evaluation (deterministic, self-contained): predict
# whether an order is fulfilled (o_orderstatus = 'F') from its age —
# score = the order's week index since 1992-01-01. Older orders are
# far likelier fulfilled, so the AUC is genuinely informative (~high),
# and the label/score derivation is identical SQL in both engines.
_EVAL_SCORE_SQL = (
    "CAST(DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) "
    "AS BIGINT) // 7"
)


def _eval_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, score, pos, neg) — the score-domain reduction."""
    o = load_table(spark, sf_dir, "orders")
    # integer division: BIGINT/7 truncates identically in both engines
    score = (
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")) / 7
        )
    ).cast("long")
    lab = (F.col("o_orderstatus") == "F").cast("long")
    return (
        o.select(
            "o_orderpriority", score.alias("score"), lab.alias("lab")
        )
        .groupBy("o_orderpriority", "score")
        .agg(
            F.sum("lab").alias("pos"),
            (F.count(F.lit(1)) - F.sum("lab")).alias("neg"),
        )
    )


@register(
    "roc_auc",
    f"""
    WITH b AS (
      SELECT o_orderpriority, {_EVAL_SCORE_SQL} AS score,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS neg
      FROM orders GROUP BY 1, 2
    ),
    c AS (
      SELECT o_orderpriority, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY o_orderpriority
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_neg_below
      FROM b
    )
    SELECT o_orderpriority,
           CAST(SUM(pos) AS BIGINT) AS pos_n,
           CAST(SUM(neg) AS BIGINT) AS neg_n,
           ROUND(CAST(SUM(pos * (2 * cum_neg_below + neg)) AS DOUBLE)
                 / (2.0 * SUM(pos) * SUM(neg)), 6) + 0.0 AS auc
    FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Per-priority ROC-AUC of the age-score fulfillment model, via the "
    "Mann-Whitney identity with exact half-credit for score ties: "
    "AUC = sum_g pos_g*(2*cum_neg_below + neg_g) / (2*P*N) over score "
    "groups. Everything is bigint until the one final division. Scale: "
    "one partial-agg groupBy to the (priority, week) domain (~1.7k rows "
    "at ANY fact scale), windows + final agg over that domain only — the "
    "fact table is scanned once and never shuffled raw.",
)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    b = _eval_base(spark, sf_dir)
    wprev = (
        W.partitionBy("o_orderpriority")
        .orderBy("score")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = b.withColumn(
        "cum_neg_below",
        F.coalesce(F.sum("neg").over(wprev), F.lit(0)),
    )
    return (
        c.groupBy("o_orderpriority")
        .agg(
            F.sum("pos").alias("pos_n"),
            F.sum("neg").alias("neg_n"),
            (
                F.round(
                    F.sum(
                        F.col("pos")
                        * (2 * F.col("cum_neg_below") + F.col("neg"))
                    ).cast("double")
                    / (2.0 * F.sum("pos") * F.sum("neg")),
                    6,
                )
                + F.lit(0.0)
            ).alias("auc"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "pr_curve_points",
    f"""
    WITH b AS (
      SELECT {_EVAL_SCORE_SQL} AS score,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS neg
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT score,
             SUM(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(neg) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             SUM(pos) OVER () AS p_total
      FROM b
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) + 0.0 AS precision,
           ROUND(CAST(tp AS DOUBLE) / p_total, 6) + 0.0 AS recall
    FROM c ORDER BY threshold
    """,
    doc="Precision/recall at every distinct score threshold (predict "
    "positive when score >= t). The cumulative TP/FP counts are windows "
    "over the ~350-bucket score domain — the fact scan reduces to that "
    "domain in one partial-agg groupBy first, so the descending-order "
    "window never touches raw rows. Counts are exact; the two divisions "
    "happen at emit.",
)
def q_pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    score = (
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")) / 7
        )
    ).cast("long")
    lab = (F.col("o_orderstatus") == "F").cast("long")
    b = (
        o.select(score.alias("score"), lab.alias("lab"))
        .groupBy("score")
        .agg(
            F.sum("lab").alias("pos"),
            (F.count(F.lit(1)) - F.sum("lab")).alias("neg"),
        )
    )
    wcum = W.orderBy(F.col("score").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    c = b.select(
        "score",
        F.sum("pos").over(wcum).alias("tp"),
        F.sum("neg").over(wcum).alias("fp"),
        F.sum("pos").over(W.partitionBy()).alias("p_total"),
    )
    return c.select(
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        (
            F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6)
            + F.lit(0.0)
        ).alias("precision"),
        (
            F.round(F.col("tp").cast("double") / F.col("p_total"), 6)
            + F.lit(0.0)
        ).alias("recall"),
    ).orderBy("threshold")


@register(
    "calibration_bins",
    """
    WITH b AS (
      SELECT CAST(DATEDIFF('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
      FROM orders
    )
    SELECT LEAST(day_idx * 10 // 2405, 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(day_idx) AS DOUBLE) / (2405.0 * COUNT(*)), 6)
             + 0.0 AS mean_predicted,
           ROUND(CAST(SUM(lab) AS DOUBLE) / COUNT(*), 6) + 0.0
             AS observed_rate
    FROM b GROUP BY 1 ORDER BY bin
    """,
    doc="Reliability diagram for the age-score model: predicted "
    "probability p_hat = day_idx/2405 (the 1995-01-01..2001-08-01 "
    "date-domain width), binned "
    "into deciles by INTEGER arithmetic (day_idx*10/2405 — no float "
    "bin-edge ambiguity between engines), vs the observed fulfillment "
    "rate per bin. mean_predicted is reconstructed from the exact bigint "
    "SUM(day_idx), so nothing float crosses an aggregation. One "
    "partial-agg groupBy on a 10-value key; no shuffle of raw facts "
    "beyond it.",
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day_idx = F.datediff(
        F.to_date("o_orderdate"), F.lit("1995-01-01")
    ).cast("long")
    lab = (F.col("o_orderstatus") == "F").cast("long")
    b = o.select(day_idx.alias("day_idx"), lab.alias("lab"))
    return (
        b.groupBy(
            F.least(
                F.floor(F.col("day_idx") * 10 / 2405), F.lit(9).cast("long")
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.round(
                    F.sum("day_idx").cast("double")
                    / (2405.0 * F.count(F.lit(1))),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_predicted"),
            (
                F.round(F.sum("lab").cast("double") / F.count(F.lit(1)), 6)
                + F.lit(0.0)
            ).alias("observed_rate"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Link prediction / item-item similarity on the co-purchase graph
# (round 3 continuation). Wedge enumeration through shared neighbors is
# the same blocked-join discipline as triangle_count: candidates only
# ever form through a common vertex (join key = the center), never by
# cross product.
# --------------------------------------------------------------------------


@register(
    "link_predict_scores",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2),
    adj AS (
      SELECT u AS z, v AS nbr FROM g
      UNION ALL
      SELECT v AS z, u AS nbr FROM g
    ),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY z),
    wedge AS (
      SELECT a.nbr AS a, b.nbr AS b, a.z AS z
      FROM adj a JOIN adj b ON a.z = b.z AND a.nbr < b.nbr
    ),
    sc AS (
      SELECT w.a, w.b,
             CAST(COUNT(*) AS BIGINT) AS cn,
             SUM(CAST(ROUND(1.0 / deg.deg, 9) AS DECIMAL(18,9))) AS ra
      FROM wedge w JOIN deg ON deg.z = w.z
      GROUP BY w.a, w.b
    ),
    cand AS (
      SELECT * FROM sc
      WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.u = sc.a AND g.v = sc.b)
    )
    SELECT c.a AS p_a, c.b AS p_b, c.cn,
           ROUND(CAST(c.cn AS DOUBLE) / (da.deg + db.deg - c.cn), 6) + 0.0
             AS jaccard,
           ROUND(CAST(c.ra AS DOUBLE), 6) + 0.0 AS ra_score
    FROM cand c
    JOIN deg da ON da.z = c.a
    JOIN deg db ON db.z = c.b
    ORDER BY c.cn DESC, ra_score DESC, p_a, p_b LIMIT 30
    """,
    doc="Link prediction on the repeat-co-purchase graph: for every "
    "non-adjacent part pair reachable through a shared neighbor, the "
    "common-neighbor count, Jaccard coefficient, and "
    "resource-allocation index (sum 1/deg(z) over shared neighbors z — "
    "Zhou et al.'s rational cousin of Adamic-Adar, chosen because "
    "1/deg is a single IEEE division both engines round identically, "
    "then summed as DECIMAL so fold order cannot perturb it; ln-based "
    "AA would hang determinism on libm agreement). Scale shape: wedges "
    "form only through the center-vertex equi-join (fan-out bounded by "
    "max degree, the triangle_count argument); existing edges are "
    "removed by an anti-join; deg is a vertex-cardinality dim joined "
    "broadcast-style.",
)
def q_link_predict_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        pin(_copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v")))
    )
    adj = g.select(F.col("u").alias("z"), F.col("v").alias("nbr")).unionAll(
        g.select(F.col("v").alias("z"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select("z", F.col("nbr").alias("a"))
    b = adj.select("z", F.col("nbr").alias("b"))
    wedge = a.join(b, "z").filter(F.col("a") < F.col("b"))
    sc = (
        wedge.join(deg, "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(
                F.round(F.lit(1.0) / F.col("deg"), 9).cast("decimal(18,9)")
            ).alias("ra"),
        )
    )
    cand = sc.join(
        g,
        (sc.a == g.u) & (sc.b == g.v),
        "left_anti",
    )
    da = deg.select(F.col("z").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("z").alias("b"), F.col("deg").alias("deg_b"))
    out = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("p_a"),
            F.col("b").alias("p_b"),
            "cn",
            (
                F.round(
                    F.col("cn").cast("double")
                    / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
            (F.round(F.col("ra").cast("double"), 6) + F.lit(0.0)).alias(
                "ra_score"
            ),
        )
    )
    return out.orderBy(
        F.desc("cn"), F.desc("ra_score"), "p_a", "p_b"
    ).limit(30)


@register(
    "item_item_cosine",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    cnt AS (
      SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY 1
    )
    SELECT e.p1, e.p2, e.n_orders AS cooc,
           ROUND(CAST(e.n_orders AS DOUBLE)
                 / SQRT(CAST(c1.n * c2.n AS DOUBLE)), 6) + 0.0
             AS cosine_sim
    FROM e
    JOIN cnt c1 ON c1.p = e.p1
    JOIN cnt c2 ON c2.p = e.p2
    WHERE e.n_orders >= 2
    ORDER BY cosine_sim DESC, e.p1, e.p2 LIMIT 20
    """,
    doc="Item-item collaborative-filtering similarity over binary "
    "order-basket vectors: cos(i,j) = cooc(i,j)/sqrt(n_i*n_j). The "
    "numerator is the blocked co-purchase self-join; the per-item "
    "basket counts are a part-cardinality dim joined broadcast-style "
    "onto the edge list. Integer counts throughout; one sqrt+division "
    "at emit. This is the candidate-generation half of an item-based "
    "recommender — at 100 TB the edge list is the only large "
    "intermediate and it is bounded by sum over orders of "
    "(basket size choose 2), not by |items|^2.",
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the distinct (order, part) frame feeds the edge self-join (twice)
    # AND the per-item counts — persist it or each branch re-scans and
    # re-deduplicates lineitem
    d = pin(li.select("l_orderkey", "l_partkey").distinct())
    cnt = d.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n")
    )
    b = d.withColumnRenamed("l_partkey", "p2")
    e = (
        d.withColumnRenamed("l_partkey", "p1")
        .join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    c1 = cnt.select(F.col("p").alias("p1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("p").alias("p2"), F.col("n").alias("n2"))
    out = (
        e.join(c1, "p1")
        .join(c2, "p2")
        .select(
            "p1",
            "p2",
            F.col("n_orders").alias("cooc"),
            (
                F.round(
                    F.col("n_orders").cast("double")
                    / F.sqrt((F.col("n1") * F.col("n2")).cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cosine_sim"),
        )
    )
    return out.orderBy(F.desc("cosine_sim"), "p1", "p2").limit(20)


@register(
    "cusum_changepoint",
    """
    WITH byd AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(rev) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM byd
    ),
    c AS (
      SELECT d,
             CAST(SUM(rev) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS s_t,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM byd
    )
    SELECT c.d AS day, c.t AS day_rank,
           ROUND(c.s_t - c.t * tot.total / tot.n, 4) + 0.0 AS cusum
    FROM c CROSS JOIN tot
    ORDER BY ABS(ROUND(c.s_t - c.t * tot.total / tot.n, 4)) DESC, c.d
    LIMIT 10
    """,
    doc="CUSUM changepoint screen over daily revenue: cusum_t = S_t - "
    "t*mean, the classic mean-shift statistic; the top-|cusum| days "
    "locate the most likely shift point. Daily revenue is an exact "
    "decimal reduction of the fact table; the running sum and rank are "
    "windows over the ~2.4k-day domain, and S_t stays decimal-exact "
    "until the single double expression at emit (identical operand "
    "order in both engines).",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    byd = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    tot = F.broadcast(
        byd.agg(
            F.sum("rev").cast("double").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wrun = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    c = byd.select(
        "d",
        F.sum("rev").over(wrun).cast("double").alias("s_t"),
        F.row_number().over(W.orderBy("d")).cast("long").alias("t"),
    )
    cusum = F.round(
        F.col("s_t") - F.col("t") * F.col("total") / F.col("n"), 4
    )
    out = c.crossJoin(tot).select(
        F.col("d").alias("day"),
        F.col("t").alias("day_rank"),
        (cusum + F.lit(0.0)).alias("cusum"),
    )
    return out.orderBy(F.abs(F.col("cusum")).desc(), "day").limit(10)


@register(
    "attribution_linear",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts,
             CASE CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 4
               WHEN 0 THEN 'search' WHEN 1 THEN 'social'
               WHEN 2 THEN 'email' ELSE 'direct' END AS channel
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.purchase_id, c.click_id, c.channel
      FROM p JOIN c ON c.user_id = p.user_id
       AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
       AND epoch_us(p.purchase_ts) - epoch_us(c.click_ts) <= {_ATTR_GAP_US}
    ),
    w AS (
      SELECT purchase_id, click_id, channel,
             CAST(ROUND(1.0 / (COUNT(*) OVER (PARTITION BY purchase_id)), 9)
                  AS DECIMAL(18,9)) AS credit
      FROM j
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           ROUND(CAST(SUM(credit) AS DOUBLE), 6) + 0.0 AS attributed
    FROM w GROUP BY channel ORDER BY channel
    """,
    doc="Linear (equal-credit) multi-touch attribution: every same-user "
    "click in the 7-day look-back shares a purchase's credit equally "
    "(1/n_touches each), rolled up by channel. Complements "
    "attribution_first_touch. Per-touch credit is one IEEE division "
    "rounded to 9dp and summed as DECIMAL, so channel totals are "
    "fold-order-exact. Scale shape: the same bucketized (user, "
    "gap-bucket) equi-join as first-touch — never an inequality nested "
    "loop; the per-purchase touch count is a window over each "
    "purchase's own candidate group (bounded fan-in), and the rollup "
    "is a partial agg on a 4-value key.",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us.alias("us_p"),
        F.explode(
            F.array(
                F.floor(us / _ATTR_GAP_US) - 1, F.floor(us / _ATTR_GAP_US)
            )
        ).alias("__cb"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        us.alias("us_c"),
        F.floor(us / _ATTR_GAP_US).alias("__cb"),
        (
            F.when(
                F.regexp_extract("props", r"[0-9]+", 0).cast("bigint") % 4
                == 0,
                "search",
            )
            .when(
                F.regexp_extract("props", r"[0-9]+", 0).cast("bigint") % 4
                == 1,
                "social",
            )
            .when(
                F.regexp_extract("props", r"[0-9]+", 0).cast("bigint") % 4
                == 2,
                "email",
            )
            .otherwise("direct")
        ).alias("channel"),
    )
    j = (
        p.join(c, (p["user_id"] == c["c_user"]) & (p["__cb"] == c["__cb"]))
        .filter(
            (F.col("us_c") <= F.col("us_p"))
            & (F.col("us_p") - F.col("us_c") <= _ATTR_GAP_US)
        )
        .select("purchase_id", "click_id", "channel")
    )
    w = j.withColumn(
        "credit",
        F.round(
            F.lit(1.0)
            / F.count(F.lit(1)).over(W.partitionBy("purchase_id")),
            9,
        ).cast("decimal(18,9)"),
    )
    return (
        w.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            (F.round(F.sum("credit").cast("double"), 6) + F.lit(0.0)).alias(
                "attributed"
            ),
        )
        .orderBy("channel")
    )


@register(
    "l_diversity",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT o_custkey % 10) AS BIGINT) AS l_distinct
    FROM orders
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT o_custkey % 10) < 3 AND COUNT(*) >= {_KANON_K}
    """,
    doc="l-diversity screen (l=3) over the same quasi-identifier tuple as "
    "k_anonymity, with customer-segment (custkey mod 10) as the "
    "sensitive attribute: groups that pass k-anonymity yet collapse to "
    "<3 distinct sensitive values still leak the attribute — the "
    "standard refinement (Machanavajjhala et al.). One partial-agg "
    "groupBy with a distinct-count; the HAVING prunes at the agg, "
    "nothing post-joins.",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_orderstatus",
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct(F.col("o_custkey") % 10).alias("l_distinct"),
        )
        .filter(
            (F.col("l_distinct") < 3) & (F.col("group_size") >= _KANON_K)
        )
    )


@register(
    "pareto_front",
    """
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
      FROM orders
    ),
    daily AS (SELECT d, MAX(o_totalprice) AS day_max FROM o GROUP BY d),
    runmax AS (
      SELECT d,
             MAX(day_max) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM daily
    )
    SELECT o.o_orderkey, o.d AS order_date, o.o_totalprice
    FROM o JOIN runmax USING (d)
    WHERE runmax.prev_max IS NULL OR o.o_totalprice > runmax.prev_max
    ORDER BY o.d, o.o_orderkey
    """,
    doc="Pareto frontier (skyline) of orders under (earlier date, higher "
    "value): an order survives iff no strictly-earlier order had >= its "
    "value. The classic distributed skyline construction: reduce to the "
    "per-day max (domain-sized), take the running max over the day "
    "domain shifted by one, broadcast it back onto the fact table, and "
    "filter — the window never touches raw orders, and the fact scan "
    "is one pass + one broadcast join.",
)
def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    daily = o.groupBy("d").agg(F.max("o_totalprice").alias("day_max"))
    runmax = daily.select(
        "d",
        F.max("day_max")
        .over(W.orderBy("d").rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_max"),
    )
    return (
        o.join(F.broadcast(runmax), "d")
        .filter(
            F.col("prev_max").isNull()
            | (F.col("o_totalprice") > F.col("prev_max"))
        )
        .select(
            "o_orderkey", F.col("d").alias("order_date"), "o_totalprice"
        )
        .orderBy("order_date", "o_orderkey")
    )


_HOLT_A, _HOLT_B = 0.3, 0.2


@register(
    "holt_linear",
    f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             list_transform(list(cnt ORDER BY day), x -> CAST(x AS DOUBLE))
               AS v
      FROM d GROUP BY event_type
    ),
    f AS (
      SELECT event_type, CAST(len(v) AS BIGINT) AS n_days,
             -- accumulator is a 2-element LIST [l, b]: DuckDB's
             -- list_reduce mutates STRUCT accumulators field-by-field
             -- (later field expressions observe earlier fields already
             -- overwritten — verified empirically), while list
             -- construction evaluates every element against the
             -- unmodified acc, matching Spark's aggregate() semantics
             list_reduce(
               list_prepend(
                 [v[1], v[2] - v[1]],
                 list_transform(v[3:], x -> [x, 0.0e0])),
               (acc, e) -> [
                 {_HOLT_A}e0 * e[1]
                      + {1 - _HOLT_A}e0 * (acc[1] + acc[2]),
                 {_HOLT_B}e0 * (({_HOLT_A}e0 * e[1]
                      + {1 - _HOLT_A}e0 * (acc[1] + acc[2])) - acc[1])
                      + {1 - _HOLT_B}e0 * acc[2]]
             ) AS st
      FROM s WHERE len(v) >= 2
    )
    SELECT event_type, n_days,
           ROUND(st[1], 6) + 0.0 AS level,
           ROUND(st[2], 6) + 0.0 AS trend,
           ROUND(st[1] + st[2], 6) + 0.0 AS forecast_next
    FROM f
    """,
    doc="Holt double-exponential smoothing per event type (alpha=0.3, "
    "beta=0.2): level + linear trend, and the one-step-ahead forecast "
    "l+b. Extends ewma_level's bounded-domain fold with a 2-component "
    "state: the recursion folds a 2-component accumulator over the "
    "day-count array in identical sequential order in both engines "
    "(Spark aggregate() with a struct zero; DuckDB list_reduce over "
    "[l, b] LISTS, seeded by prepending the init pair since its reduce "
    "has no zero argument — struct accumulators are mutated "
    "field-by-field mid-step there and give wrong results). "
    "l_1 = x_1, b_1 = x_2 - x_1. The fold runs over the "
    "per-type day domain, never raw events.",
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    s = d.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))),
            lambda x: x["cnt"].cast("double"),
        ).alias("v")
    ).filter(F.size("v") >= 2)
    a, b = _HOLT_A, _HOLT_B
    seed = F.struct(
        F.element_at(F.col("v"), 1).alias("l"),
        (F.element_at(F.col("v"), 2) - F.element_at(F.col("v"), 1)).alias(
            "b"
        ),
    )

    def step(acc, x):
        l_new = F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])
        b_new = (
            F.lit(b) * (l_new - acc["l"]) + F.lit(1 - b) * acc["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    st = F.aggregate(F.expr("slice(v, 3, greatest(size(v) - 2, 0))"), seed, step)
    # The fold is projected in its OWN select: inlining st into the four
    # output expressions would re-run the whole interpreted fold 4x per row
    # (no codegen CSE for higher-order expressions; plan-verified 4 -> 1
    # aggregate( occurrences — SCALE.md §interpreted-expression discipline,
    # r8 HOF-hotspot sweep). Catalyst keeps the split: CollapseProject
    # refuses to merge projections that duplicate expensive expressions.
    return s.select(
        "event_type",
        F.size("v").cast("long").alias("n_days"),
        st.alias("st"),
    ).select(
        "event_type",
        "n_days",
        (F.round(F.col("st")["l"], 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("st")["b"], 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.col("st")["l"] + F.col("st")["b"], 6) + F.lit(0.0)).alias(
            "forecast_next"
        ),
    )


@register(
    "churn_labels",
    """
    WITH m AS (
      SELECT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM events GROUP BY 1, 2
    ),
    horizon AS (SELECT MAX(week) AS last_week FROM m)
    SELECT a.user_id, a.week, a.n_events, a.n_purchases,
           (b.user_id IS NULL) AS churned_next_week
    FROM m a
    CROSS JOIN horizon
    LEFT JOIN m b
      ON b.user_id = a.user_id
     AND b.week = a.week + INTERVAL 7 DAY
    WHERE a.week < horizon.last_week
    """,
    doc="Point-in-time-correct churn label generation: for every "
    "(user, week) with activity, features from THAT week only and a "
    "label from the FOLLOWING week (no activity => churned). The final "
    "observed week is excluded — its label is unobservable, the "
    "classic leakage trap in offline label jobs. Shape: one partial-agg "
    "groupBy to user-weeks, then a self equi-join on (user, week+1) — "
    "both sides user-week-sized, co-partitioned on user_id.",
)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("n_purchases"),
    )
    horizon = F.broadcast(m.agg(F.max("week").alias("last_week")))
    nxt = m.select(
        F.col("user_id").alias("b_user"),
        F.col("week").alias("b_week"),
    )
    return (
        m.crossJoin(horizon)
        .filter(F.col("week") < F.col("last_week"))
        .join(
            nxt,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("b_week") == F.col("week") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .select(
            "user_id",
            "week",
            "n_events",
            "n_purchases",
            F.col("b_user").isNull().alias("churned_next_week"),
        )
    )


_FD_CANDIDATES = [
    # (name, table, determinant, dependent)
    ("orderkey->custkey", "orders", "o_orderkey", "o_custkey"),
    ("custkey->orderstatus", "orders", "o_custkey", "o_orderstatus"),
    ("orderkey->suppkey", "lineitem", "l_orderkey", "l_suppkey"),
    ("partkey->suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("nationkey->regionkey", "nation", "n_nationkey", "n_regionkey"),
]


def _fd_sql() -> str:
    parts = []
    for name, tbl, det, dep in _FD_CANDIDATES:
        parts.append(f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
             AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd
          FROM {tbl} GROUP BY {det})""")
    return "\nUNION ALL".join(parts) + "\nORDER BY fd"


@register(
    "fd_discovery",
    _fd_sql(),
    doc="Functional-dependency discovery over a candidate set (the "
    "profiling primitive behind key inference and normalization "
    "advice): for each A->B candidate, the number of A-groups with "
    "more than one distinct B. Each candidate is one partial-agg "
    "groupBy + distinct-count — no joins, one scan per table (Spark "
    "unions the per-candidate aggregates; at scale, candidates on the "
    "same table share the scan via column pruning).",
)
def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, tbl, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        g = t.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        outs.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("nd") > 1).cast("long")).alias(
                    "n_violating_groups"
                ),
                (F.sum((F.col("nd") > 1).cast("long")) == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("events", "user_id"),
    ("orders", "o_custkey"),
]


def _skew_sql() -> str:
    parts = []
    for tbl, key in _SKEW_KEYS:
        parts.append(f"""
    SELECT '{tbl}.{key}' AS join_key,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(freq) AS BIGINT) AS n_rows,
           CAST(MAX(freq) AS BIGINT) AS max_freq,
           CAST(quantile_disc(freq, 0.99) AS BIGINT) AS p99_freq,
           ROUND(CAST(MAX(freq) AS DOUBLE)
                 / (CAST(SUM(freq) AS DOUBLE) / COUNT(*)), 6) + 0.0
             AS max_over_mean
    FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS freq
          FROM {tbl} GROUP BY {key})""")
    return "\nUNION ALL".join(parts) + "\nORDER BY join_key"


@register(
    "join_skew_report",
    _skew_sql(),
    doc="Join-key skew report — the measurement that decides whether a "
    "join needs the salting path (operators/skew.py) or AQE skew "
    "handling: per candidate key, cardinality, max and p99 per-key "
    "frequency, and max/mean ratio. Per key it is one partial-agg "
    "frequency reduction and a key-domain aggregate; the p99 is an "
    "exact discrete quantile computed on the frequency-OF-frequency "
    "domain (distinct per-key counts — tiny at any scale), so no "
    "key-domain array is ever materialized.",
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    outs = []
    for tbl, key in _SKEW_KEYS:
        t = load_table(spark, sf_dir, tbl)
        freq = t.groupBy(key).agg(F.count(F.lit(1)).alias("freq"))
        # exact discrete p99 WITHOUT materializing the key domain into
        # one array (a 100 TB key domain cannot collect_list): reduce to
        # the frequency-OF-frequency domain (distinct per-key counts —
        # tiny), cumulate, and take the smallest frequency whose
        # cumulative key count reaches ceil(0.99 * n_keys) — identical
        # to element ceil(0.99*n) of the sorted frequency array, which
        # is what the oracle's quantile_disc computes
        ff = freq.groupBy("freq").agg(F.count(F.lit(1)).alias("nk"))
        wcum = W.orderBy("freq").rowsBetween(W.unboundedPreceding, 0)
        ffc = ff.select(
            "freq",
            F.sum("nk").over(wcum).alias("cum"),
            F.sum("nk").over(W.partitionBy()).alias("n_keys"),
            F.sum(F.col("freq") * F.col("nk"))
            .over(W.partitionBy())
            .alias("n_rows"),
            F.max("freq").over(W.partitionBy()).alias("max_freq"),
        )
        agg = (
            ffc.filter(
                F.col("cum")
                >= F.ceil(F.lit(0.99) * F.col("n_keys")).cast("long")
            )
            .agg(
                F.lit(f"{tbl}.{key}").alias("join_key"),
                F.max("n_keys").alias("n_keys"),
                F.max("n_rows").alias("n_rows"),
                F.max("max_freq").alias("max_freq"),
                F.min("freq").alias("p99_freq"),
            )
            .select(
                "join_key",
                "n_keys",
                "n_rows",
                "max_freq",
                "p99_freq",
                (
                    F.round(
                        F.col("max_freq").cast("double")
                        / (
                            F.col("n_rows").cast("double")
                            / F.col("n_keys")
                        ),
                        6,
                    )
                    + F.lit(0.0)
                ).alias("max_over_mean"),
            )
        )
        outs.append(agg)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("join_key")


@register(
    "frequent_triples",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    tri AS (
      SELECT e.p1, e.p2, d3.l_partkey AS p3,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM (
        SELECT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
        FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ) pr
      JOIN e ON e.p1 = pr.p1 AND e.p2 = pr.p2 AND e.n_orders >= 2
      JOIN d d3 ON d3.l_orderkey = pr.l_orderkey
               AND d3.l_partkey > pr.p2
      GROUP BY e.p1, e.p2, d3.l_partkey
      HAVING COUNT(*) >= 2
    )
    SELECT p1, p2, p3, support
    FROM tri ORDER BY support DESC, p1, p2, p3 LIMIT 20
    """,
    doc="Frequent 3-itemsets by the A-priori candidate-pruning join: "
    "per-order pair occurrences are first pruned against the frequent "
    "PAIR list (support >= 2 — the monotonicity bound: no triple can "
    "be frequent if a sub-pair is not), then extended by a third "
    "same-order item with p3 > p2 so each triple counts once. All "
    "joins are keyed on l_orderkey or the pair itself — candidate "
    "blow-up is bounded by (basket size choose 3) per order, never "
    "cross-order. The pair prune is what keeps the candidate set "
    "sub-quadratic at 100 TB (textbook A-priori, distributed).",
)
def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = pin(li.select("l_orderkey", "l_partkey").distinct())
    b = d.withColumnRenamed("l_partkey", "p2")
    pr = (
        d.withColumnRenamed("l_partkey", "p1")
        .join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
    )
    freq_pairs = (
        pr.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("p1", "p2")
    )
    cand = pr.join(freq_pairs, ["p1", "p2"])
    d3 = d.select(
        "l_orderkey", F.col("l_partkey").alias("p3")
    )
    tri = (
        cand.join(d3, "l_orderkey")
        .filter(F.col("p3") > F.col("p2"))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return tri.orderBy(F.desc("support"), "p1", "p2", "p3").limit(20)


@register(
    "theil_sen_trend",
    """
    WITH d AS (
      SELECT CAST(DATEDIFF('day', DATE '1995-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(ROUND((b.y - a.y) / (1.0e0 * (b.x - a.x)), 9)
                  AS DECIMAL(18,9)) AS s
      FROM d a JOIN d b ON a.x < b.x
    ),
    r AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn,
             COUNT(*) OVER () AS n
      FROM slopes
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           ROUND(CAST(AVG(CAST(s AS DOUBLE)) AS DOUBLE), 6) + 0.0
             AS theil_sen_slope
    FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    """,
    doc="Theil-Sen robust trend of daily event volume: the median of all "
    "pairwise slopes (y_j-y_i)/(x_j-x_i) — up to 29% of days can be "
    "corrupted (outages, backfills) without moving the estimate, where "
    "least squares would follow them. The O(days^2) pair join runs on "
    "the DAY DOMAIN (2.4k rows at any event volume -> ~3M slope pairs, "
    "trivially partitioned), never raw events; slopes are 9dp-quantized "
    "decimals so the median (average of the two middle order statistics "
    "for even n) is engine-exact.",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1995-01-01"))
        .cast("long")
        .alias("x")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            F.round(
                (F.col("yb") - F.col("ya"))
                / (1.0 * (F.col("xb") - F.col("xa"))),
                9,
            )
            .cast("decimal(18,9)")
            .alias("s")
        )
    )
    # the slope frame is day-pair-sized but can still reach millions of
    # rows; rank it with the range-partitioned machinery, not a global
    # single-task window. Ties in s make the VALUE at any rank
    # deterministic even though tied rows' rank assignment is not.
    from etl_data_spark.operators.rank import global_row_number

    slopes = pin(slopes)
    ranked = global_row_number(slopes, ["s"], out_col="rn")
    n = F.broadcast(slopes.agg(F.count(F.lit(1)).alias("n")))
    mid = ranked.crossJoin(n).filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.agg(
        F.max("n").cast("long").alias("n_pairs"),
        (
            F.round(F.avg(F.col("s").cast("double")), 6) + F.lit(0.0)
        ).alias("theil_sen_slope"),
    )


@register(
    "forecast_conformal",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    resid AS (
      SELECT a.event_type, CAST(ABS(a.cnt - b.cnt) AS BIGINT) AS abs_err
      FROM d a JOIN d b
        ON b.event_type = a.event_type
       AND b.day = a.day - INTERVAL 7 DAY
    ),
    r AS (
      SELECT event_type, abs_err,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs_err) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM resid
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN abs_err END)
                AS BIGINT) AS q90_abs_err
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    doc="Split-conformal prediction band for the seasonal-naive "
    "forecaster: the ceil(0.9*(n+1))-th order statistic of the absolute "
    "backtest residuals per event type — a distribution-free 90% "
    "interval half-width (forecast +- q90 covers >= 90% of future days "
    "under exchangeability; Vovk et al.). Residuals are integer counts; "
    "the order statistic is picked by rank over each type's "
    "day-domain residual set (bounded per-type partitions, no global "
    "window), so the output is exact.",
)
def q_forecast_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    d = pin(e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt")))
    a, b = d.alias("a"), d.alias("b")
    resid = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.cnt") - F.col("b.cnt")).alias("abs_err"),
    )
    w = W.partitionBy("event_type").orderBy("abs_err")
    r = resid.select(
        "event_type",
        "abs_err",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") * 9 + 9) / 10),
                    F.col("abs_err"),
                )
            )
            .cast("long")
            .alias("q90_abs_err"),
        )
        .orderBy("event_type")
    )


_PPR_SEED_MOD = 50  # seed set: graph vertices with partkey % 50 == 0
_PPR_ITERS = 10


def _ppr_sql(iters: int = _PPR_ITERS) -> str:
    """Personalized PageRank oracle: same unrolled power iteration as
    _pagerank_sql, with the teleport mass concentrated on the seed set
    instead of uniform. Constants written as (1.0 - 0.85) to match the
    Spark doubles bit-for-bit."""
    d = _PAGERANK_DAMPING
    tele = (
        f"CASE WHEN g.v % {_PPR_SEED_MOD} = 0 "
        f"THEN (1.0 - {d}) / MAX(ns.n) ELSE 0.0e0 END"
    )
    sql = f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (
      SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM e WHERE n_orders >= 2
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS DOUBLE) AS deg FROM g GROUP BY u),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg
           WHERE u % {_PPR_SEED_MOD} = 0),
    r0 AS (
      SELECT u AS v,
             CASE WHEN u % {_PPR_SEED_MOD} = 0 THEN 1.0 / ns.n
                  ELSE 0.0e0 END AS r
      FROM deg CROSS JOIN ns
    )"""
    for t in range(1, iters + 1):
        sql += f""",
    r{t} AS (
      SELECT g.v AS v,
             {tele} + {d} * SUM(r{t - 1}.r / deg.deg) AS r
      FROM g
      JOIN r{t - 1} ON r{t - 1}.v = g.u
      JOIN deg ON deg.u = g.u
      CROSS JOIN ns
      GROUP BY g.v
    )"""
    sql += f"""
    SELECT v AS p_partkey, ROUND(r, 8) + 0.0 AS ppr_score
    FROM r{iters}
    WHERE ROUND(r, 8) > 0
    ORDER BY ROUND(r, 8) DESC, v LIMIT 20
    """
    return sql


@register(
    "personalized_pagerank",
    _ppr_sql(),
    doc="Personalized PageRank from a seed set (partkey % 50 == 0): "
    "teleport mass returns to the seeds instead of spreading "
    "uniformly, so scores rank parts by proximity to the seed "
    "portfolio — the 'customers also bought' recommendation ranking. "
    "Same Pregel-style loop and unrolled-CTE oracle as "
    "pagerank_copurchase; only the teleport term changes. Zero-score "
    "vertices (unreachable from seeds) are filtered on the ROUNDED "
    "score in both engines.",
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.graph import symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v"))
    )
    d = _PAGERANK_DAMPING
    g = symmetrize(edges, "u", "v").persist()
    ge = None
    try:
        deg = g.groupBy("u").agg(
            F.count(F.lit(1)).cast("double").alias("deg")
        )
        is_seed = F.col("u") % _PPR_SEED_MOD == 0
        ns = float(deg.filter(is_seed).count())
        ge = g.join(deg, "u").persist()
        ranks = deg.select(
            F.col("u").alias("v"),
            F.when(is_seed, F.lit(1.0) / F.lit(ns))
            .otherwise(F.lit(0.0))
            .alias("r"),
        )
        for it in range(1, _PPR_ITERS + 1):
            contrib = ge.join(
                ranks.withColumnRenamed("v", "u"), "u"
            ).groupBy(F.col("v"))
            tele = (
                F.when(
                    F.col("v") % _PPR_SEED_MOD == 0,
                    F.lit(1.0 - d) / F.lit(ns),
                ).otherwise(F.lit(0.0))
            )
            ranks = contrib.agg(
                F.sum(F.col("r") / F.col("deg")).alias("__c")
            ).select(
                "v", (tele + F.lit(d) * F.col("__c")).alias("r")
            )
            if it % 3 == 0 and it < _PPR_ITERS:
                ranks = truncate_lineage(ranks)
        # |V|-row materialization decouples the result from the scratch
        # frames the finally releases (self-containment, caching.py)
        ranks = truncate_lineage(ranks)
    finally:
        g.unpersist()
        if ge is not None:
            ge.unpersist()
    r8 = F.round(F.col("r"), 8) + F.lit(0.0)
    return (
        ranks.select(F.col("v").alias("p_partkey"), r8.alias("ppr_score"))
        .filter(F.round(F.col("ppr_score"), 8) > 0)
        .orderBy(F.desc("ppr_score"), "p_partkey")
        .limit(20)
    )


_KFOLD_K = 5


@register(
    "group_kfold",
    f"""
    WITH f AS (
      SELECT e.*,
             CAST(list_sum(list_transform(range(1, 12),
                 i -> (strpos('0123456789abcdef',
                       substr(md5(CAST(user_id AS VARCHAR)),
                              CAST(i AS INT), 1)) - 1)
                      * CAST(power(16, 11 - i) AS BIGINT))) AS BIGINT)
               % {_KFOLD_K} AS fold
      FROM events e
    )
    SELECT fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                 END) AS DOUBLE) / COUNT(*), 6) + 0.0 AS purchase_rate
    FROM f GROUP BY fold ORDER BY fold
    """,
    doc="Grouped k-fold assignment (k=5) keyed on user_id: every event "
    "of a user lands in the same fold, so cross-validation never leaks "
    "a user across train/eval — the grouped-CV discipline for "
    "behavioral models. Fold = md5-derived bucket (the same portable "
    "positional-parse construction as the train/val/test split), a "
    "pure row function stable under repartitioning and appends. One "
    "scan + partial-agg groupBy on a 5-value key.",
)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.corpus import hash_bucket

    e = load_table(spark, sf_dir, "events")
    # hash_bucket reduces mod SPLIT_BUCKETS (1000) first; (x % 1000) % 5
    # == x % 5 because 5 divides 1000, so the oracle's direct % 5 agrees
    fold = (hash_bucket("user_id") % _KFOLD_K).alias("fold")
    return (
        e.groupBy(fold)
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.round(
                    F.sum(
                        (F.col("event_type") == "purchase").cast("long")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("purchase_rate"),
        )
        .orderBy("fold")
    )


@register(
    "association_rules",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    n_orders_t AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM d
    ),
    item AS (
      SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS supp
      FROM d GROUP BY 1
    ),
    rules AS (
      SELECT e.p1 AS antecedent, e.p2 AS consequent,
             e.n_orders AS supp_ab, a.supp AS supp_a, b.supp AS supp_b
      FROM e JOIN item a ON a.p = e.p1 JOIN item b ON b.p = e.p2
      WHERE e.n_orders >= 2
      UNION ALL
      SELECT e.p2, e.p1, e.n_orders, b.supp, a.supp
      FROM e JOIN item a ON a.p = e.p1 JOIN item b ON b.p = e.p2
      WHERE e.n_orders >= 2
    )
    SELECT antecedent, consequent, supp_ab,
           ROUND(CAST(supp_ab AS DOUBLE) / supp_a, 6) + 0.0 AS confidence,
           ROUND((CAST(supp_ab AS DOUBLE) * nt.n)
                 / (CAST(supp_a AS DOUBLE) * supp_b), 6) + 0.0 AS lift
    FROM rules CROSS JOIN n_orders_t nt
    ORDER BY ROUND(CAST(supp_ab AS DOUBLE) / supp_a, 6) DESC,
             antecedent, consequent
    LIMIT 25
    """,
    doc="Association rules A -> B from the co-purchase pairs: support, "
    "confidence = supp(AB)/supp(A), lift = supp(AB)*N/(supp(A)*supp(B)) "
    "— each frequent pair yields both rule directions. Integer supports "
    "throughout; the two ratios are emitted once. Shape: the blocked "
    "pair self-join + two broadcast item-support joins + a broadcast "
    "basket-count scalar; top-25 by confidence is "
    "TakeOrderedAndProject.",
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = pin(li.select("l_orderkey", "l_partkey").distinct())
    nt = F.broadcast(
        d.agg(F.countDistinct("l_orderkey").alias("n"))
    )
    item = d.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("supp")
    )
    b2 = d.withColumnRenamed("l_partkey", "p2")
    e = (
        d.withColumnRenamed("l_partkey", "p1")
        .join(b2, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    # per-part support frames SCALE with the catalog — no forced broadcast
    ia = item.select(F.col("p").alias("p1"), F.col("supp").alias("supp_1"))
    ib = item.select(F.col("p").alias("p2"), F.col("supp").alias("supp_2"))
    ej = e.join(ia, "p1").join(ib, "p2")
    fwd = ej.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        F.col("n_orders").alias("supp_ab"),
        F.col("supp_1").alias("supp_a"),
        F.col("supp_2").alias("supp_b"),
    )
    rev = ej.select(
        F.col("p2").alias("antecedent"),
        F.col("p1").alias("consequent"),
        F.col("n_orders").alias("supp_ab"),
        F.col("supp_2").alias("supp_a"),
        F.col("supp_1").alias("supp_b"),
    )
    rules = fwd.unionByName(rev).crossJoin(nt)
    conf = F.round(F.col("supp_ab").cast("double") / F.col("supp_a"), 6)
    return (
        rules.select(
            "antecedent",
            "consequent",
            "supp_ab",
            (conf + F.lit(0.0)).alias("confidence"),
            (
                F.round(
                    (F.col("supp_ab").cast("double") * F.col("n"))
                    / (F.col("supp_a").cast("double") * F.col("supp_b")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
        .orderBy(F.desc("confidence"), "antecedent", "consequent")
        .limit(25)
    )


@register(
    "brier_decomposition",
    """
    WITH b AS (
      SELECT CAST(DATEDIFF('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
      FROM orders
    ),
    binned AS (
      SELECT LEAST(day_idx * 10 // 2405, 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(day_idx) AS BIGINT) AS s_day,
             CAST(SUM(lab) AS BIGINT) AS s_lab
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s_lab) AS BIGINT) AS sl
      FROM binned
    )
    SELECT
      ROUND(SUM(n * POWER(CAST(s_day AS DOUBLE) / (2405.0 * n)
                          - CAST(s_lab AS DOUBLE) / n, 2))
            / MAX(tot.nn), 6) + 0.0 AS reliability,
      ROUND(SUM(n * POWER(CAST(s_lab AS DOUBLE) / n
                          - CAST(tot.sl AS DOUBLE) / tot.nn, 2))
            / MAX(tot.nn), 6) + 0.0 AS resolution,
      ROUND((CAST(MAX(tot.sl) AS DOUBLE) / MAX(tot.nn))
            * (1.0 - CAST(MAX(tot.sl) AS DOUBLE) / MAX(tot.nn)), 6) + 0.0
        AS uncertainty
    FROM binned CROSS JOIN tot
    """,
    doc="Murphy decomposition of the Brier score for the age-score "
    "fulfillment model over the same 10 calibration bins as "
    "calibration_bins: reliability (calibration error), resolution "
    "(how much the bins separate outcomes), uncertainty (base-rate "
    "variance) — Brier = reliability - resolution + uncertainty. All "
    "inputs are the bins' exact integer sums; each component is one "
    "closed-form double expression at emit. One scan, 10-key groupBy.",
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day_idx = F.datediff(
        F.to_date("o_orderdate"), F.lit("1995-01-01")
    ).cast("long")
    lab = (F.col("o_orderstatus") == "F").cast("long")
    binned = (
        o.select(day_idx.alias("day_idx"), lab.alias("lab"))
        .groupBy(
            F.least(
                F.floor(F.col("day_idx") * 10 / 2405),
                F.lit(9).cast("long"),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("day_idx").alias("s_day"),
            F.sum("lab").alias("s_lab"),
        )
    )
    tot = F.broadcast(
        binned.agg(
            F.sum("n").alias("nn"), F.sum("s_lab").alias("sl")
        )
    )
    j = binned.crossJoin(tot)
    mean_pred = F.col("s_day").cast("double") / (2405.0 * F.col("n"))
    obs = F.col("s_lab").cast("double") / F.col("n")
    base = F.col("sl").cast("double") / F.col("nn")
    return j.agg(
        (
            F.round(
                F.sum(F.col("n") * F.pow(mean_pred - obs, 2))
                / F.max("nn"),
                6,
            )
            + F.lit(0.0)
        ).alias("reliability"),
        (
            F.round(
                F.sum(F.col("n") * F.pow(obs - base, 2)) / F.max("nn"),
                6,
            )
            + F.lit(0.0)
        ).alias("resolution"),
        (
            F.round(
                (F.max("sl").cast("double") / F.max("nn"))
                * (1.0 - F.max("sl").cast("double") / F.max("nn")),
                6,
            )
            + F.lit(0.0)
        ).alias("uncertainty"),
    )


_DID_CUTOFF = "1998-01-01"


@register(
    "diff_in_diff",
    f"""
    WITH cells AS (
      SELECT (o_custkey % 2 = 0) AS treated,
             (o_orderdate >= TIMESTAMP '{_DID_CUTOFF}') AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    means AS (
      SELECT treated, post, n,
             CAST(rev AS DOUBLE) / n AS avg_price
      FROM cells
    )
    SELECT
      CAST(SUM(n) AS BIGINT) AS n_orders,
      ROUND(MAX(CASE WHEN treated AND post THEN avg_price END)
            - MAX(CASE WHEN treated AND NOT post THEN avg_price END), 6)
        + 0.0 AS treated_delta,
      ROUND(MAX(CASE WHEN NOT treated AND post THEN avg_price END)
            - MAX(CASE WHEN NOT treated AND NOT post THEN avg_price END), 6)
        + 0.0 AS control_delta,
      ROUND((MAX(CASE WHEN treated AND post THEN avg_price END)
             - MAX(CASE WHEN treated AND NOT post THEN avg_price END))
            - (MAX(CASE WHEN NOT treated AND post THEN avg_price END)
               - MAX(CASE WHEN NOT treated AND NOT post THEN avg_price END)),
            6) + 0.0 AS did_estimate
    FROM means
    """,
    doc="Difference-in-differences: treated (even custkey) vs control "
    f"order values before/after {_DID_CUTOFF} — the standard quasi-"
    "experimental estimator when randomization is unavailable; the "
    "parallel-trends counterfactual is the control group's delta. "
    "The four cell means come from exact decimal revenue sums (one "
    "partial-agg groupBy on a 4-cell key); the three emitted numbers "
    "are closed-form differences of those means.",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        (F.col("o_custkey") % 2 == 0).alias("treated"),
        (F.col("o_orderdate") >= F.lit(_DID_CUTOFF).cast("timestamp")).alias(
            "post"
        ),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    means = cells.select(
        "treated",
        "post",
        "n",
        (F.col("rev").cast("double") / F.col("n")).alias("avg_price"),
    )
    m = lambda t, p: F.max(
        F.when((F.col("treated") == t) & (F.col("post") == p), F.col("avg_price"))
    )
    t_delta = m(True, True) - m(True, False)
    c_delta = m(False, True) - m(False, False)
    return means.agg(
        F.sum("n").alias("n_orders"),
        (F.round(t_delta, 6) + F.lit(0.0)).alias("treated_delta"),
        (F.round(c_delta, 6) + F.lit(0.0)).alias("control_delta"),
        (F.round(t_delta - c_delta, 6) + F.lit(0.0)).alias("did_estimate"),
    )


@register(
    "missing_days_report",
    """
    WITH span AS (
      SELECT event_type, MIN(CAST(ts AS DATE)) AS d0,
             MAX(CAST(ts AS DATE)) AS d1,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS observed
      FROM events GROUP BY event_type
    )
    SELECT event_type, d0 AS first_day, d1 AS last_day,
           CAST(CAST(d1 - d0 AS INT) + 1 AS BIGINT) AS expected_days,
           observed AS observed_days,
           CAST(CAST(d1 - d0 AS INT) + 1 - observed AS BIGINT)
             AS missing_days
    FROM span ORDER BY event_type
    """,
    doc="Per-series completeness report: expected calendar days between "
    "each event type's first and last observation vs days actually "
    "present — the gap/backfill detector every ingestion pipeline "
    "needs before windowed metrics can be trusted (a silent 3-day gap "
    "poisons moving averages without this check). One scan, "
    "partial-agg min/max/distinct-count per type; no day-grid "
    "materialization needed for the COUNT form.",
)
def q_missing_days_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    span = e.groupBy("event_type").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.countDistinct(F.to_date("ts")).alias("observed"),
    )
    expected = (F.datediff("d1", "d0") + 1).cast("long")
    return span.select(
        "event_type",
        F.col("d0").alias("first_day"),
        F.col("d1").alias("last_day"),
        expected.alias("expected_days"),
        F.col("observed").alias("observed_days"),
        (expected - F.col("observed")).cast("long").alias("missing_days"),
    ).orderBy("event_type")


@register(
    "degree_assortativity",
    f"""
    WITH {_SQL_COPURCHASE_EDGES},
    g AS (
      SELECT p1 AS u, p2 AS v FROM e WHERE n_orders >= 2
      UNION ALL
      SELECT p2 AS u, p1 AS v FROM e WHERE n_orders >= 2
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM g GROUP BY u),
    pairs AS (
      SELECT du.deg AS x, dv.deg AS y
      FROM g JOIN deg du ON du.u = g.u JOIN deg dv ON dv.u = g.v
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM pairs
    )
    SELECT m AS n_directed_edges,
           ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(m AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                        * (CAST(m AS DOUBLE) * sy2
                           - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
             AS assortativity
    FROM s
    """,
    doc="Degree assortativity of the repeat-co-purchase graph: Pearson "
    "correlation of endpoint degrees over directed edges — positive "
    "means hubs connect to hubs (social-network-like), negative means "
    "hub-and-spoke (retail catalogs are typically disassortative). "
    "All five moment sums are exact integers (degrees are counts); "
    "the one double expression at emit is identically parenthesized "
    "in both engines. Shape: edge list joined twice with the "
    "vertex-degree dim, then one partial agg.",
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.graph import symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    g = pin(symmetrize(
        _copurchase_edges(li)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("p1").alias("u"), F.col("p2").alias("v")),
        "u",
        "v",
    ))
    # r14: an algebraic one-join rewrite (degree-weighted vertex moments +
    # one neighbor-degree-sum join) was measured 47% SLOWER here — the two
    # vertex-frame joins below are BROADCAST hash joins over the pinned
    # edge list (no edge shuffle at all), while the rewrite's
    # groupBy(u) forced a full edge shuffle. Left as-is deliberately.
    deg = g.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("x"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("y"))
    pairs = g.join(du, "u").join(dv, "v")
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    md = F.col("m").cast("double")
    return s.select(
        F.col("m").alias("n_directed_edges"),
        (
            F.round(
                (md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
                / F.sqrt(
                    (
                        md * F.col("sx2")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * (
                        md * F.col("sy2")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("assortativity"),
    )


@register(
    "ks_two_sample",
    """
    WITH v AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             (o_orderpriority = '1-URGENT') AS grp_a
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    dom AS (
      SELECT x,
             CAST(SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN grp_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM v GROUP BY x
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cua,
             SUM(cb) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cub,
             SUM(ca) OVER () AS na,
             SUM(cb) OVER () AS nb
      FROM dom
    )
    SELECT CAST(MAX(na) AS BIGINT) AS na, CAST(MAX(nb) AS BIGINT) AS nb,
           CAST(MAX(ABS(nb * cua - na * cub)) AS BIGINT) AS d_numerator,
           ROUND(CAST(MAX(ABS(nb * cua - na * cub)) AS DOUBLE)
                 / (CAST(MAX(na) AS DOUBLE) * MAX(nb)), 6) + 0.0
             AS ks_statistic
    FROM cum
    """,
    doc="Exact two-sample Kolmogorov-Smirnov statistic between URGENT "
    "and LOW order values: D = max |F_a - F_b| over the pooled value "
    "domain, computed as max |nb*cumA - na*cumB| with INTEGER "
    "arithmetic throughout (one division at emit) — no float ECDFs to "
    "diverge. The nonparametric distribution-equality companion to "
    "Mann-Whitney (which only detects location shift). Shape: reduce "
    "to the distinct-value domain (partial agg), cumulate over that "
    "domain, one max.",
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    o = load_table(spark, sf_dir, "orders")
    v = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").alias("grp_a"),
    )
    dom = v.groupBy("x").agg(
        F.sum(F.col("grp_a").cast("long")).alias("ca"),
        F.sum((~F.col("grp_a")).cast("long")).alias("cb"),
    )
    # the value domain (distinct prices) SCALES with the data — cumulate
    # both group counts over one distributed range decomposition
    # (operators/rank.py), never a single-partition global window; the
    # two totals are the running sums' final values (1-row broadcast)
    r = global_running_sum(dom, ["x"], ["ca", "cb"], ["cua", "cub"])
    tot = r.agg(F.max("cua").alias("na"), F.max("cub").alias("nb"))
    cum = r.crossJoin(F.broadcast(tot))
    d = F.max(
        F.abs(F.col("nb") * F.col("cua") - F.col("na") * F.col("cub"))
    )
    return cum.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        d.cast("long").alias("d_numerator"),
        (
            F.round(
                d.cast("double")
                / (F.max("na").cast("double") * F.max("nb")),
                6,
            )
            + F.lit(0.0)
        ).alias("ks_statistic"),
    )


@register(
    "cramers_v",
    """
    WITH obs AS (
      SELECT o_orderstatus AS r, o_orderpriority AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    marg AS (
      SELECT r.r, c.c, r.rn, c.cn, t.nn,
             COALESCE(o.n, 0) AS n
      FROM (SELECT r, SUM(n) AS rn FROM obs GROUP BY r) r
      CROSS JOIN (SELECT c, SUM(n) AS cn FROM obs GROUP BY c) c
      CROSS JOIN (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM obs) t
      LEFT JOIN obs o ON o.r = r.r AND o.c = c.c
    ),
    chi AS (
      SELECT MAX(nn) AS nn,
             CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT c) AS BIGINT) AS nc,
             SUM(POWER(n - CAST(rn AS DOUBLE) * cn / nn, 2)
                 / (CAST(rn AS DOUBLE) * cn / nn)) AS chi2
      FROM marg
    )
    SELECT nn AS n_orders, ROUND(chi2, 6) + 0.0 AS chi_square,
           ROUND(SQRT(chi2 / (nn * (LEAST(nr, nc) - 1))), 6) + 0.0
             AS cramers_v
    FROM chi
    """,
    doc="Cramér's V effect size for the status x priority association — "
    "the normalized companion to the chi-square independence test "
    "(chi2 alone grows with n; V in [0,1] is comparable across "
    "datasets). Integer cell counts and marginals; the expected-count "
    "grid includes zero-observed cells via the marginal cross join "
    "(same discipline as chi_square_independence). One scan, "
    "25-cell frames.",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderstatus").alias("r"),
        F.col("o_orderpriority").alias("c"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rm = obs.groupBy("r").agg(F.sum("n").alias("rn"))
    cm = obs.groupBy("c").agg(F.sum("n").alias("cn"))
    tt = obs.agg(F.sum("n").alias("nn"))
    marg = (
        rm.crossJoin(cm)
        .crossJoin(F.broadcast(tt))
        .join(obs, ["r", "c"], "left")
        .select(
            "r",
            "c",
            "rn",
            "cn",
            "nn",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    exp = F.col("rn").cast("double") * F.col("cn") / F.max("nn")
    chi = marg.agg(
        F.max("nn").alias("nn"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
        F.sum(
            F.pow(
                F.col("n")
                - F.col("rn").cast("double") * F.col("cn") / F.col("nn"),
                2,
            )
            / (F.col("rn").cast("double") * F.col("cn") / F.col("nn"))
        ).alias("chi2"),
    )
    return chi.select(
        F.col("nn").alias("n_orders"),
        (F.round(F.col("chi2"), 6) + F.lit(0.0)).alias("chi_square"),
        (
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("nn") * (F.least("nr", "nc") - 1))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("cramers_v"),
    )


@register(
    "spearman_rho",
    """
    WITH b AS (
      SELECT CAST(DATEDIFF('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    xd AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY x
    ),
    xr AS (
      SELECT x,
             2 * COALESCE(SUM(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2x
      FROM xd
    ),
    yd AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY y
    ),
    yr AS (
      SELECT y,
             2 * COALESCE(SUM(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2y
      FROM yd
    ),
    ranked AS (
      SELECT xr.r2x, yr.r2y
      FROM b JOIN xr USING (x) JOIN yr USING (y)
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2x) AS BIGINT) AS sx,
             CAST(SUM(r2y) AS BIGINT) AS sy,
             CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
             CAST(SUM(r2x * r2x) AS BIGINT) AS sx2,
             CAST(SUM(r2y * r2y) AS BIGINT) AS sy2
      FROM ranked
    )
    SELECT n AS n_orders,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * sy2
                           - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
             AS spearman_rho
    FROM s
    """,
    doc="Spearman rank correlation between order date and order value, "
    "tie-aware and EXACT: the average rank of a tied value group is a "
    "half-integer, so DOUBLED ranks (2*cum_before + count + 1) keep "
    "every moment sum in bigint — the x2 scaling cancels in the "
    "Pearson-on-ranks formula. Ranks come from distributed prefix "
    "counts over the two VALUE DOMAINS (days / distinct prices; "
    "operators/rank.py range decomposition), never a row-ranking of "
    "the fact table; the fact rows just join their group's rank back "
    "in.",
)
def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators.rank import global_running_sum

    o = load_table(spark, sf_dir, "orders")
    b = pin(o.select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    ))

    def ranks(col):
        # value domains scale with the data (distinct prices under y) —
        # the tied-rank prefix count runs on the distributed range
        # decomposition, not a single-partition global window. The
        # inclusive running count minus own count is the strict-below
        # cumulative the doubled-rank formula needs.
        dom = b.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        run = global_running_sum(dom, [col], "c", out_col="__run")
        return run.select(
            col,
            (
                2 * (F.col("__run") - F.col("c")) + F.col("c") + 1
            ).alias(f"r2{col}"),
        )

    ranked = b.join(ranks("x"), "x").join(ranks("y"), "y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sx2"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_orders"),
        (
            F.round(
                (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
                / F.sqrt(
                    (
                        nd * F.col("sx2")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * (
                        nd * F.col("sy2")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("spearman_rho"),
    )


_CCF_MAX_LAG = 7


@register(
    "ccf_click_purchase",
    f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT l.lag, a.clicks AS x, p.purchases AS y
      FROM lags l
      JOIN d a ON TRUE
      JOIN d p ON p.day = a.day + CAST(l.lag AS INT)
    ),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / SQRT((CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * sy2
                           - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
             AS ccf
    FROM s ORDER BY lag
    """,
    doc="Cross-correlation function between daily clicks and purchases "
    "at lags -7..+7 (does click volume LEAD purchase volume?) — the "
    "lead-lag screen behind attribution-window choices. Per lag, "
    "Pearson r from exact integer moment sums over the aligned day "
    "pairs; the lag join runs on the day domain (a few thousand rows "
    "x 15 lags), never raw events.",
)
def q_ccf_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = pin(e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias(
            "clicks"
        ),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "purchases"
        ),
    ))
    lags = e.sparkSession.createDataFrame(
        [(lag,) for lag in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)],
        "lag int",
    )
    a = d.select(F.col("day").alias("a_day"), F.col("clicks").alias("x"))
    p = d.select(F.col("day").alias("p_day"), F.col("purchases").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            p,
            F.col("p_day")
            == F.expr("date_add(a_day, lag)"),
        )
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_days"),
        (
            F.round(
                (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
                / F.sqrt(
                    (
                        nd * F.col("sx2")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * (
                        nd * F.col("sy2")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("ccf"),
    ).orderBy("lag")


@register(
    "order_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS line_net
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS header_total,
             li.line_net,
             (li.l_orderkey IS NULL) AS missing_lines
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CASE WHEN missing_lines THEN 1 ELSE 0 END) AS BIGINT)
        AS n_without_lines,
      CAST(SUM(CASE WHEN NOT missing_lines
                AND ABS(CAST(header_total - line_net AS DOUBLE))
                    <= 0.01 * CAST(header_total AS DOUBLE)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled_1pct,
      ROUND(CAST(SUM(CASE WHEN NOT missing_lines
                 THEN ABS(CAST(header_total - line_net AS DECIMAL(18,2)))
                 ELSE 0 END) AS DOUBLE)
            / NULLIF(SUM(CASE WHEN NOT missing_lines
                     THEN CAST(header_total AS DECIMAL(18,2)) END), 0),
            6) + 0.0 AS weighted_abs_gap
    FROM j
    """,
    doc="Cross-table reconciliation: order header totals vs the sum of "
    "their line items net of discount — the financial-close control "
    "every warehouse runs (headers and lines arrive through different "
    "paths and drift independently). Exact decimal sums per order, "
    "co-partitioned join on the order key; the report is one partial "
    "agg: orders without lines, orders reconciling within 1%, and the "
    "value-weighted absolute gap.",
)
def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_net = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("line_net")
    )
    j = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("header_total"),
    ).join(line_net, o["o_orderkey"] == line_net["l_orderkey"], "left")
    missing = F.col("l_orderkey").isNull()
    ok_1pct = (~missing) & (
        F.abs((F.col("header_total") - F.col("line_net")).cast("double"))
        <= 0.01 * F.col("header_total").cast("double")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(missing.cast("long")).alias("n_without_lines"),
        F.sum(ok_1pct.cast("long")).alias("n_reconciled_1pct"),
        (
            F.round(
                F.sum(
                    F.when(
                        ~missing,
                        F.abs(
                            (
                                F.col("header_total") - F.col("line_net")
                            ).cast("decimal(18,2)")
                        ),
                    ).otherwise(F.lit(0).cast("decimal(18,2)"))
                ).cast("double")
                / F.nullif(
                    F.sum(
                        F.when(
                            ~missing,
                            F.col("header_total").cast("decimal(18,2)"),
                        )
                    ),
                    F.lit(0),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("weighted_abs_gap"),
    )


_FK_CHECKS = [
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_sql() -> str:
    parts = []
    for name, child, fk, parent, pk in _FK_CHECKS:
        parts.append(f"""
    SELECT '{name}' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON p.{pk} = c.{fk}""")
    return "\nUNION ALL".join(parts) + "\nORDER BY fk"


@register(
    "fk_orphan_report",
    _fk_sql(),
    doc="Referential-integrity sweep over every foreign key in the "
    "schema: child rows whose key has no parent (orphans). Each check "
    "is a left join against the DISTINCT parent-key projection — the "
    "parent side collapses to its key column before shuffling, and "
    "dimension-sized parents broadcast. Generalizes the reference's "
    "single customer-key DQ check (fn_dq_checks) to the whole star.",
)
def q_fk_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, child, fk, parent, pk in _FK_CHECKS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk).distinct()
        j = c.join(p, c[fk] == p[pk], "left")
        outs.append(
            j.agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_child_rows"),
                F.sum(F.col(pk).isNull().cast("long")).alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fk")


@register(
    "skew_kurtosis",
    """
    WITH m AS (
      SELECT o_orderpriority,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_q
      FROM orders GROUP BY o_orderpriority
    ),
    c AS (
      SELECT o.o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(POWER(o.o_totalprice - m.mean_q, 2), 4)
                 AS DECIMAL(38,4))) AS c2,
             SUM(CAST(ROUND(POWER(o.o_totalprice - m.mean_q, 3), 4)
                 AS DECIMAL(38,4))) AS c3,
             SUM(CAST(ROUND(POWER(o.o_totalprice - m.mean_q, 4), 4)
                 AS DECIMAL(38,4))) AS c4
      FROM orders o JOIN m USING (o_orderpriority)
      GROUP BY o.o_orderpriority
    )
    SELECT o_orderpriority, n,
           ROUND((CAST(c3 AS DOUBLE) / n)
                 / POWER(CAST(c2 AS DOUBLE) / n, 1.5), 6) + 0.0
             AS skewness,
           ROUND((CAST(c4 AS DOUBLE) / n)
                 / POWER(CAST(c2 AS DOUBLE) / n, 2) - 3.0, 6) + 0.0
             AS excess_kurtosis
    FROM c ORDER BY o_orderpriority
    """,
    doc="Per-priority skewness and excess kurtosis by the two-pass "
    "central-moment method: pass 1 computes the exact decimal mean "
    "(rounded to 6dp so both engines center on the identical double), "
    "pass 2 sums 4dp-quantized centered powers as DECIMAL(38,4) — "
    "fold-order-exact where naive double sums of 4th powers would "
    "drift. The shape distribution profile completing "
    "moments_merge's mean/variance: heavy right tails (skew > 0, "
    "kurtosis > 0) are what monetary columns exhibit. Broadcast mean "
    "join; two scans by construction.",
)
def q_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = F.broadcast(
        o.groupBy("o_orderpriority").agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_q")
        )
    )
    d = F.col("o_totalprice") - F.col("mean_q")
    c = (
        o.join(m, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.pow(d, 2), 4).cast("decimal(38,4)")).alias("c2"),
            F.sum(F.round(F.pow(d, 3), 4).cast("decimal(38,4)")).alias("c3"),
            F.sum(F.round(F.pow(d, 4), 4).cast("decimal(38,4)")).alias("c4"),
        )
    )
    m2 = F.col("c2").cast("double") / F.col("n")
    return c.select(
        "o_orderpriority",
        "n",
        (
            F.round(
                (F.col("c3").cast("double") / F.col("n"))
                / F.pow(m2, 1.5),
                6,
            )
            + F.lit(0.0)
        ).alias("skewness"),
        (
            F.round(
                (F.col("c4").cast("double") / F.col("n")) / F.pow(m2, 2)
                - 3.0,
                6,
            )
            + F.lit(0.0)
        ).alias("excess_kurtosis"),
    ).orderBy("o_orderpriority")


@register(
    "session_entry_exit",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    ),
    pos AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, session_seq) AS n
      FROM sess
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_entry_sessions,
           CAST(SUM(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exit_sessions,
           CAST(SUM(CASE WHEN rn = 1 AND n = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounce_sessions
    FROM pos GROUP BY event_type ORDER BY event_type
    """,
    doc="Session entry/exit/bounce profile per event type: which action "
    "opens sessions, which closes them, and how many sessions are "
    "single-event bounces — the product-analytics landing/exit-page "
    "readout on the 30-min-gap sessionization. Ties inside a session "
    "break on (ts, event_id) in both engines. Windows are per-user / "
    "per-session partitions (bounded fan-in); the rollup is a "
    "partial agg on the 5-type key.",
)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(wlag).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wlag))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    sess = tagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            wlag.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    wsess = W.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    pos = sess.select(
        "event_type",
        F.row_number().over(wsess).alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("user_id", "session_seq"))
        .alias("n"),
    )
    return (
        pos.groupBy("event_type")
        .agg(
            F.sum((F.col("rn") == 1).cast("long")).alias(
                "n_entry_sessions"
            ),
            F.sum((F.col("rn") == F.col("n")).cast("long")).alias(
                "n_exit_sessions"
            ),
            F.sum(
                ((F.col("rn") == 1) & (F.col("n") == 1)).cast("long")
            ).alias("n_bounce_sessions"),
        )
        .orderBy("event_type")
    )


@register(
    "concentration_trend",
    """
    WITH cm AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT month, rev,
             ROW_NUMBER() OVER (PARTITION BY month
                                ORDER BY rev DESC, o_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY month) AS n_cust,
             SUM(rev) OVER (PARTITION BY month) AS month_rev
      FROM cm
    )
    SELECT month,
           CAST(MAX(n_cust) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CASE WHEN rn * 10 <= n_cust THEN rev
                    ELSE 0 END) AS DOUBLE)
                 / CAST(MAX(month_rev) AS DOUBLE), 6) + 0.0
             AS top_decile_share
    FROM ranked GROUP BY month ORDER BY month
    """,
    doc="Revenue-concentration trend: the monthly share of revenue held "
    "by the top decile of that month's customers (rn*10 <= n is the "
    "integer-exact decile cut) — the time-resolved companion to the "
    "static Gini. Customer-month revenue is an exact decimal "
    "reduction; ranking windows run per MONTH partition over the "
    "customer-month domain, so no global sort exists at any scale.",
)
def q_concentration_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_custkey",
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    wm = W.partitionBy("month")
    ranked = cm.select(
        "month",
        "rev",
        F.row_number()
        .over(wm.orderBy(F.desc("rev"), "o_custkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(wm).alias("n_cust"),
        F.sum("rev").over(wm).alias("month_rev"),
    )
    return (
        ranked.groupBy("month")
        .agg(
            F.max("n_cust").cast("long").alias("n_customers"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("rn") * 10 <= F.col("n_cust"),
                            F.col("rev"),
                        ).otherwise(F.lit(0).cast("decimal(18,2)"))
                    ).cast("double")
                    / F.max("month_rev").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("top_decile_share"),
        )
        .orderBy("month")
    )


@register(
    "new_vs_returning",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT CAST(e.ts AS DATE) AS day, e.user_id,
             (CAST(e.ts AS DATE) = f.first_day) AS is_new
      FROM events e JOIN first_seen f USING (user_id)
      GROUP BY 1, 2, 3
    )
    SELECT day,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
             AS returning_users,
           ROUND(CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS returning_share
    FROM daily GROUP BY day ORDER BY day
    """,
    doc="New vs returning daily active users: a user is 'new' only on "
    "their first-ever active day — the growth-accounting split every "
    "product dashboard leads with. first_seen is a per-user MIN "
    "reduce; the daily frame is the distinct (day, user) activity "
    "grid; both shuffles key on user_id and co-locate.",
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = (
        e.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .join(first_seen, "user_id")
        .select(
            "day",
            "user_id",
            (F.col("day") == F.col("first_day")).alias("is_new"),
        )
    )
    return (
        daily.groupBy("day")
        .agg(
            F.sum(F.col("is_new").cast("long")).alias("new_users"),
            F.sum((~F.col("is_new")).cast("long")).alias(
                "returning_users"
            ),
            (
                F.round(
                    F.sum((~F.col("is_new")).cast("long")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("returning_share"),
        )
        .orderBy("day")
    )


@register(
    "ab_test_mde",
    """
    WITH b AS (
      SELECT event_id % 2 = 0 AS in_treatment,
             CAST(value AS DECIMAL(12,2)) AS d
      FROM events
    ),
    s AS (
      SELECT
        CAST(SUM(CASE WHEN in_treatment THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN in_treatment THEN d END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN in_treatment THEN d * d END) AS DOUBLE) AS q1,
        CAST(SUM(CASE WHEN in_treatment THEN 0 ELSE 1 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN in_treatment THEN NULL ELSE d END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN in_treatment THEN NULL ELSE d * d END) AS DOUBLE)
          AS q2
      FROM b
    ),
    m AS (
      SELECT n1, n2, s2 / n2 AS m2,
             SQRT((q1 - s1 * s1 / n1) / (n1 - 1) / n1
                  + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) AS se
      FROM s
    )
    SELECT n1 AS n_treatment, n2 AS n_control,
           ROUND((1.959963984540054 + 0.8416212335729143) * se, 6) + 0.0
             AS mde_abs,
           ROUND((1.959963984540054 + 0.8416212335729143) * se / m2
                 * 100.0, 4) + 0.0 AS mde_pct
    FROM m
    """,
    doc="Minimum detectable effect of the running A/B setup at 80% "
    "power / 95% two-sided confidence: MDE = (z_{0.975} + z_{0.80}) * "
    "SE — the experiment-sizing companion to ab_test_lift (a lift "
    "smaller than this cannot be distinguished from noise at current "
    "sample sizes). Same one-scan conditional decimal moment sums; "
    "both z constants written to full double precision so the "
    "expression is bit-identical cross-engine.",
)
def q_ab_test_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(12,2)")
    t = F.col("event_id") % 2 == 0
    b = e.select(t.alias("in_treatment"), d.alias("d"))
    ist = F.col("in_treatment")
    s = b.agg(
        F.sum(ist.cast("long")).alias("n1"),
        F.sum(F.when(ist, F.col("d"))).cast("double").alias("s1"),
        F.sum(F.when(ist, F.col("d") * F.col("d"))).cast("double").alias("q1"),
        F.sum((~ist).cast("long")).alias("n2"),
        F.sum(F.when(~ist, F.col("d"))).cast("double").alias("s2"),
        F.sum(F.when(~ist, F.col("d") * F.col("d")))
        .cast("double")
        .alias("q2"),
    )
    se = F.sqrt(
        (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        + (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1)
        / F.col("n2")
    )
    zsum = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    m2 = F.col("s2") / F.col("n2")
    return s.select(
        F.col("n1").alias("n_treatment"),
        F.col("n2").alias("n_control"),
        (F.round(zsum * se, 6) + F.lit(0.0)).alias("mde_abs"),
        (F.round(zsum * se / m2 * 100.0, 4) + F.lit(0.0)).alias("mde_pct"),
    )


@register(
    "monthly_quantile_bands",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) + 0.0 AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) + 0.0 AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) + 0.0 AS p75
    FROM orders
    GROUP BY 1 ORDER BY month
    """,
    doc="Monthly quantile bands (fan chart) of order value: exact "
    "interpolated p25/p50/p75 per month — the distribution-over-time "
    "readout that catches shape changes a mean trend hides. Grouped "
    "exact percentiles are per-month aggregations (Spark's native "
    "percentile(), partial state per group); at 100 TB the swap-in is "
    "approx_percentile with documented error.",
)
def q_monthly_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.percentile("o_totalprice", F.lit(0.25)), 6) + F.lit(0.0)).alias("p25"),
            (F.round(F.percentile("o_totalprice", F.lit(0.50)), 6) + F.lit(0.0)).alias("p50"),
            (F.round(F.percentile("o_totalprice", F.lit(0.75)), 6) + F.lit(0.0)).alias("p75"),
        )
        .orderBy("month")
    )


@register(
    "session_length_histogram",
    """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    ),
    lens AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT LEAST(n_events, 10) AS n_events_capped,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM lens GROUP BY 1 ORDER BY n_events_capped
    """,
    doc="Session-length histogram (events per session, capped at 10+): "
    "the engagement-depth distribution behind bounce-rate and "
    "stickiness metrics. Same gaps-and-islands sessionization as "
    "session_stats; the histogram is two partial aggs over "
    "session-sized then bucket-sized frames.",
)
def q_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_data_spark.operators import temporal as TP

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sess = TP.session_stats(
        e, ts_col="ts", key_col="user_id", gap_minutes=30
    )
    return (
        sess.groupBy(
            F.least(F.col("n_events").cast("long"), F.lit(10).cast("long")).alias(
                "n_events_capped"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("n_events_capped")
    )


@register(
    "purchase_cadence",
    """
    WITH g AS (
      SELECT o_custkey % 10 AS segment,
             CAST(DATEDIFF('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
      FROM orders
    )
    SELECT segment,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_days, 0.5), 6) + 0.0 AS median_gap_days,
           ROUND(quantile_cont(gap_days, 0.9), 6) + 0.0 AS p90_gap_days
    FROM g WHERE gap_days IS NOT NULL
    GROUP BY segment ORDER BY segment
    """,
    doc="Purchase cadence per customer segment (custkey mod 10): median "
    "and p90 days between consecutive orders of the same customer — "
    "the repeat-purchase rhythm behind replenishment campaigns and "
    "churn-window choices. Gaps come from a per-customer lag window "
    "(bounded partitions, (date, orderkey) ties pinned); the exact "
    "interpolated quantiles aggregate per 10-value segment.",
)
def q_purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        (F.col("o_custkey") % 10).alias("segment"),
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        )
        .cast("long")
        .alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        g.groupBy("segment")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            (
                F.round(F.percentile("gap_days", F.lit(0.5)), 6)
                + F.lit(0.0)
            ).alias("median_gap_days"),
            (
                F.round(F.percentile("gap_days", F.lit(0.9)), 6)
                + F.lit(0.0)
            ).alias("p90_gap_days"),
        )
        .orderBy("segment")
    )


@register(
    "gains_table",
    """
    WITH b AS (
      SELECT CAST(DATEDIFF('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab
      FROM orders
    ),
    dom AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lab) AS BIGINT) AS pos
      FROM b GROUP BY score
    ),
    cum AS (
      SELECT score, n, pos,
             SUM(n) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
             SUM(pos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
             SUM(n) OVER () AS nn, SUM(pos) OVER () AS np
      FROM dom
    ),
    bucketed AS (
      SELECT LEAST(((cn - 1) * 10) // nn, 9) AS decile,
             n, pos, cp, cn, nn, np
      FROM cum
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(CAST(MAX(cp) AS DOUBLE) / MAX(np), 6) + 0.0
             AS cum_capture_rate,
           ROUND((CAST(MAX(cp) AS DOUBLE) / MAX(cn))
                 / (CAST(MAX(np) AS DOUBLE) / MAX(nn)), 6) + 0.0
             AS cum_lift
    FROM bucketed GROUP BY decile ORDER BY decile
    """,
    doc="Cumulative gains / lift table for the age-score model: rows "
    "ranked by score descending and cut into deciles (integer "
    "arithmetic on cumulative counts — no float bucket edges); per "
    "decile, the cumulative share of positives captured and the lift "
    "over random targeting — the campaign-targeting readout that "
    "complements ROC/PR/calibration. Same score-domain reduction as "
    "the other eval entries: windows only ever touch the ~350-bucket "
    "domain.",
)
def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("score"),
        (F.col("o_orderstatus") == "F").cast("long").alias("lab"),
    )
    dom = b.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("lab").alias("pos")
    )
    wcum = W.orderBy(F.col("score").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = W.partitionBy()
    cum = dom.select(
        "n",
        "pos",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("pos").over(wcum).alias("cp"),
        F.sum("n").over(wall).alias("nn"),
        F.sum("pos").over(wall).alias("np"),
    )
    bucketed = cum.select(
        F.least(
            F.floor((F.col("cn") - 1) * 10 / F.col("nn")),
            F.lit(9).cast("long"),
        ).alias("decile"),
        "n",
        "pos",
        "cp",
        "cn",
        "nn",
        "np",
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.sum("n").alias("n_rows"),
            F.sum("pos").alias("n_pos"),
            (
                F.round(F.max("cp").cast("double") / F.max("np"), 6)
                + F.lit(0.0)
            ).alias("cum_capture_rate"),
            (
                F.round(
                    (F.max("cp").cast("double") / F.max("cn"))
                    / (F.max("np").cast("double") / F.max("nn")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


@register(
    "session_copresence",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM tagged
    ),
    st AS (
      SELECT DISTINCT user_id, session_seq, event_type FROM sess
    ),
    n_sessions AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ns
      FROM (SELECT DISTINCT user_id, session_seq FROM st)
    ),
    tcnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM st GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_seq = b.session_seq
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND((CAST(p.n_both AS DOUBLE) * ns.ns)
                 / (CAST(ta.n AS DOUBLE) * tb.n), 6) + 0.0 AS lift
    FROM pairs p
    JOIN tcnt ta ON ta.event_type = p.type_a
    JOIN tcnt tb ON tb.event_type = p.type_b
    CROSS JOIN n_sessions ns
    ORDER BY type_a, type_b
    """,
    doc="Within-session co-presence of event-type pairs with lift vs "
    "independence — which actions happen together in one sitting (the "
    "behavioral basket analysis; lift >> 1 for click+purchase is the "
    "session-intent signal). The pair join blocks on (user, session) "
    "with fan-out bounded by distinct types per session (<= 5); type "
    "counts and the session total ride as broadcast dims.",
)
def q_session_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    wlag = W.partitionBy("user_id").orderBy("ts")
    tagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(wlag).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wlag))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    st = (
        pin(tagged.withColumn(
            "session_seq",
            F.sum("is_new").over(wlag.rowsBetween(W.unboundedPreceding, 0)),
        )
        .select("user_id", "session_seq", "event_type")
        .distinct())
    )
    ns = F.broadcast(
        st.select("user_id", "session_seq")
        .distinct()
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    tcnt = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = st.select("user_id", "session_seq", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_seq", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_seq"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tcnt.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    tb = tcnt.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(ns)
        .select(
            "type_a",
            "type_b",
            "n_both",
            (
                F.round(
                    (F.col("n_both").cast("double") * F.col("ns"))
                    / (F.col("na").cast("double") * F.col("nb")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "revenue_bridge",
    """
    WITH cm AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_custkey AS cust,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    prev AS (
      SELECT month + INTERVAL 1 MONTH AS month, cust, rev AS prev_rev
      FROM cm
    ),
    j AS (
      SELECT COALESCE(c.month, p.month) AS month,
             COALESCE(c.cust, p.cust) AS cust,
             c.rev AS cur_rev, p.prev_rev
      FROM cm c FULL OUTER JOIN prev p
        ON p.month = c.month AND p.cust = c.cust
    ),
    fm AS (SELECT MIN(month) AS first_month FROM cm)
    SELECT j.month,
           CAST(SUM(CASE WHEN prev_rev IS NULL THEN cur_rev END) AS DOUBLE)
             + 0.0 AS new_rev,
           CAST(SUM(CASE WHEN cur_rev IS NULL THEN -prev_rev END) AS DOUBLE)
             + 0.0 AS churned_rev,
           CAST(SUM(CASE WHEN cur_rev > prev_rev
                    THEN cur_rev - prev_rev END) AS DOUBLE) + 0.0
             AS expansion_rev,
           CAST(SUM(CASE WHEN cur_rev < prev_rev
                    THEN cur_rev - prev_rev END) AS DOUBLE) + 0.0
             AS contraction_rev,
           CAST(SUM(COALESCE(cur_rev, 0) - COALESCE(prev_rev, 0))
                AS DOUBLE) + 0.0 AS net_change
    FROM j CROSS JOIN fm
    WHERE j.month > fm.first_month AND j.month <= (
      SELECT MAX(month) FROM cm)
    GROUP BY j.month ORDER BY j.month
    """,
    doc="Month-over-month revenue bridge (waterfall): the net change "
    "decomposed into new-customer revenue, churned revenue, and "
    "expansion/contraction of retained customers — the components "
    "always sum exactly to the net because every term is the same "
    "exact decimal (customer, month) revenue. Shape: one reduction to "
    "customer-months, a self full-outer join shifted by one month "
    "(co-partitioned on customer), partial agg per month. The first "
    "and beyond-last synthetic months are excluded.",
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.col("o_custkey").alias("cust"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    cm = pin(cm)
    prev = cm.select(
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("month"),
        "cust",
        F.col("rev").alias("prev_rev"),
    )
    j = cm.withColumnRenamed("rev", "cur_rev").join(
        prev, ["month", "cust"], "full_outer"
    )
    bounds = F.broadcast(
        cm.agg(
            F.min("month").alias("first_month"),
            F.max("month").alias("last_month"),
        )
    )
    cur, pv = F.col("cur_rev"), F.col("prev_rev")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        j.crossJoin(bounds)
        .filter(
            (F.col("month") > F.col("first_month"))
            & (F.col("month") <= F.col("last_month"))
        )
        .groupBy("month")
        .agg(
            (F.sum(F.when(pv.isNull(), cur)).cast("double") + F.lit(0.0)).alias(
                "new_rev"
            ),
            (F.sum(F.when(cur.isNull(), -pv)).cast("double") + F.lit(0.0)).alias(
                "churned_rev"
            ),
            (
                F.sum(F.when(cur > pv, cur - pv)).cast("double")
                + F.lit(0.0)
            ).alias("expansion_rev"),
            (
                F.sum(F.when(cur < pv, cur - pv)).cast("double")
                + F.lit(0.0)
            ).alias("contraction_rev"),
            (
                F.sum(
                    F.coalesce(cur, zero) - F.coalesce(pv, zero)
                ).cast("double")
                + F.lit(0.0)
            ).alias("net_change"),
        )
        .orderBy("month")
    )


_RFM_MIG_CUTOFF = "1998-01-01"


@register(
    "rfm_migration",
    f"""
    WITH spend AS (
      SELECT o_custkey AS cust,
             (o_orderdate < TIMESTAMP '{_RFM_MIG_CUTOFF}') AS before_cut,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    seg AS (
      SELECT cust, before_cut,
             NTILE(4) OVER (PARTITION BY before_cut
                            ORDER BY rev, cust) AS quartile
      FROM spend
    )
    SELECT b.quartile AS seg_before, a.quartile AS seg_after,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM seg b JOIN seg a
      ON a.cust = b.cust AND b.before_cut AND NOT a.before_cut
    GROUP BY 1, 2 ORDER BY seg_before, seg_after
    """,
    doc="RFM-style value-segment migration matrix: customers' spend "
    f"quartile before vs after {_RFM_MIG_CUTOFF} — who moved up, who "
    "lapsed — the actionable follow-on to the static RFM snapshot. "
    "NTILE ties are pinned by (spend, custkey) so quartile assignment "
    "is deterministic in both engines; the quartile windows run over "
    "the two customer-domain partitions, and the migration join is "
    "customer-keyed. Customers active in only one period drop out of "
    "the matrix (they appear in new/churned accounting instead — see "
    "revenue_bridge).",
)
def q_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(
        F.col("o_custkey").alias("cust"),
        (
            F.col("o_orderdate") < F.lit(_RFM_MIG_CUTOFF).cast("timestamp")
        ).alias("before_cut"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    seg = pin(spend.select(
        "cust",
        "before_cut",
        F.ntile(4)
        .over(W.partitionBy("before_cut").orderBy("rev", "cust"))
        .alias("quartile"),
    ))
    b = seg.filter(F.col("before_cut")).select(
        "cust", F.col("quartile").alias("seg_before")
    )
    a = seg.filter(~F.col("before_cut")).select(
        "cust", F.col("quartile").alias("seg_after")
    )
    return (
        b.join(a, "cust")
        .groupBy("seg_before", "seg_after")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("seg_before", "seg_after")
    )


@register(
    "supplier_hhi",
    """
    WITH sr AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    nt AS (SELECT nation, SUM(rev) AS tot FROM sr GROUP BY nation)
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POWER(CAST(sr.rev AS DOUBLE) / CAST(nt.tot AS DOUBLE),
                           2)), 6) + 0.0 AS hhi
    FROM sr
    JOIN nt USING (nation)
    JOIN nation n ON n.n_nationkey = sr.nation
    GROUP BY n.n_name ORDER BY nation
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per nation: "
    "sum of squared revenue shares — HHI near 1/n is a competitive "
    "supply base, near 1.0 a single-supplier dependency (the "
    "procurement-risk screen). Per-(nation, supplier) revenue is an "
    "exact decimal reduction; shares are each ONE division of two "
    "exact decimals, squared and summed over the supplier domain "
    "(per-nation partitions). Broadcast nation dim for names.",
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    sr = (
        li.join(
            su.select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == su["s_suppkey"],
        )
        .groupBy(
            F.col("s_nationkey").alias("nation_key"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(12,2)"))
            ).alias("rev")
        )
    )
    nt = sr.groupBy("nation_key").agg(F.sum("rev").alias("tot"))
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    return (
        sr.join(F.broadcast(nt), "nation_key")
        .join(
            F.broadcast(na.select("n_nationkey", "n_name")),
            F.col("nation_key") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum(F.pow(share, 2)), 6) + F.lit(0.0)).alias(
                "hhi"
            ),
        )
        .orderBy("nation")
    )


@register(
    "price_realization",
    """
    WITH j AS (
      SELECT p.p_brand AS brand,
             CAST(l.l_quantity AS DECIMAL(12,2)) AS qty,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS net_rev,
             CAST(p.p_retailprice AS DECIMAL(18,2))
               * CAST(l.l_quantity AS DECIMAL(12,2)) AS retail_value
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(net_rev) AS DOUBLE) + 0.0 AS net_revenue,
           CAST(SUM(retail_value) AS DOUBLE) + 0.0 AS retail_value,
           ROUND(CAST(SUM(net_rev) AS DOUBLE)
                 / CAST(SUM(retail_value) AS DOUBLE), 6) + 0.0
             AS realization_rate
    FROM j GROUP BY brand ORDER BY brand
    """,
    doc="Price realization per brand: net revenue actually captured vs "
    "the retail value of the quantities sold (list price x qty) — the "
    "discount-depth readout merchandising teams steer by; a brand "
    "realizing far below peers is being given away. Both sides are "
    "exact decimal sums (broadcast part dim onto lineitem), divided "
    "once at emit.",
)
def q_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(
        p.select("p_partkey", "p_brand", "p_retailprice"),
        li["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("net_rev"),
        (
            F.col("p_retailprice").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(12,2)")
        ).alias("retail_value"),
    )
    return (
        j.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum("net_rev").cast("double") + F.lit(0.0)).alias(
                "net_revenue"
            ),
            (F.sum("retail_value").cast("double") + F.lit(0.0)).alias(
                "retail_value"
            ),
            (
                F.round(
                    F.sum("net_rev").cast("double")
                    / F.sum("retail_value").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("realization_rate"),
        )
        .orderBy("brand")
    )


@register(
    "mktsegment_profile",
    """
    WITH crev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(COALESCE(cr.n_orders, 0)) AS BIGINT) AS n_orders,
           CAST(SUM(COALESCE(cr.rev, 0)) AS DOUBLE) + 0.0 AS revenue,
           ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS avg_acctbal,
           CAST(SUM(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negative_balance,
           CAST(SUM(CASE WHEN cr.o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_never_ordered
    FROM customer c LEFT JOIN crev cr ON cr.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
    doc="Market-segment health profile: customers, orders, revenue, "
    "decimal-exact average account balance, negative-balance count, "
    "and never-ordered count per segment — the one-glance segment "
    "scorecard joining the customer dim's unused attributes with the "
    "order fact. Per-customer revenue reduces first (fact-sized "
    "groupBy), then the customer dim LEFT JOINs it so inactive "
    "customers stay visible.",
)
def q_mktsegment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    crev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    j = c.join(crev, c["c_custkey"] == crev["o_custkey"], "left")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).alias(
                "n_orders"
            ),
            (
                F.sum(F.coalesce(F.col("rev"), zero)).cast("double")
                + F.lit(0.0)
            ).alias("revenue"),
            (
                F.round(
                    F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_acctbal"),
            F.sum((F.col("c_acctbal") < 0).cast("long")).alias(
                "n_negative_balance"
            ),
            F.sum(F.col("o_custkey").isNull().cast("long")).alias(
                "n_never_ordered"
            ),
        )
        .orderBy("segment")
    )


@register(
    "shipping_lag_profile",
    """
    WITH lag_days AS (
      SELECT o.o_orderpriority,
             CAST(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(quantile_cont(d, 0.5), 6) + 0.0 AS median_lag_days,
           ROUND(quantile_cont(d, 0.9), 6) + 0.0 AS p90_lag_days,
           CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shipped_before_order
    FROM lag_days GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Order-to-ship lag profile per priority: median and p90 days "
    "between order placement and line shipment, plus the "
    "shipped-before-ordered anomaly count (a data-quality tripwire on "
    "the cross-table temporal relationship). Co-partitioned order-key "
    "join; exact per-priority quantiles over the integer day lags.",
)
def q_shipping_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag_days = li.join(
        o.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("d"),
    )
    return (
        lag_days.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.round(F.percentile("d", F.lit(0.5)), 6) + F.lit(0.0)
            ).alias("median_lag_days"),
            (
                F.round(F.percentile("d", F.lit(0.9)), 6) + F.lit(0.0)
            ).alias("p90_lag_days"),
            F.sum((F.col("d") < 0).cast("long")).alias(
                "n_shipped_before_order"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "return_rate_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand AS brand,
             (l.l_returnflag = 'R') AS returned,
             CAST(l.l_extendedprice AS DECIMAL(18,2)) AS val
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN returned THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returned,
           ROUND(CAST(SUM(CASE WHEN returned THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS return_rate,
           ROUND(CAST(SUM(CASE WHEN returned THEN val END) AS DOUBLE)
                 / CAST(SUM(val) AS DOUBLE), 6) + 0.0
             AS returned_value_share
    FROM j GROUP BY brand ORDER BY brand
    """,
    doc="Return rate per brand, by line count and by value share — the "
    "merchandising quality signal (a brand whose returned VALUE share "
    "far exceeds its line-count rate is failing on its expensive "
    "items). Broadcast part dim onto lineitem; exact decimal value "
    "sums, two divisions at emit.",
)
def q_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(
        p.select("p_partkey", "p_brand"),
        li["l_partkey"] == p["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        (F.col("l_returnflag") == "R").alias("returned"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("val"),
    )
    ret = F.col("returned")
    return (
        j.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(ret.cast("long")).alias("n_returned"),
            (
                F.round(
                    F.sum(ret.cast("long")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("return_rate"),
            (
                F.round(
                    F.sum(F.when(ret, F.col("val"))).cast("double")
                    / F.sum("val").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("returned_value_share"),
        )
        .orderBy("brand")
    )


@register(
    "brand_cross_shopping",
    """
    WITH cb AS (
      SELECT o.o_custkey AS cust,
             CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY o.o_custkey
    )
    SELECT n_brands,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cb GROUP BY n_brands ORDER BY n_brands
    """,
    doc="Brand cross-shopping distribution: how many distinct brands "
    "each customer has bought, histogrammed — single-brand loyalists "
    "vs assortment shoppers, the input to cross-sell targeting. "
    "Order-key join co-partitions lineitem with orders; the brand dim "
    "broadcasts; distinct-count per customer then a bucket-sized "
    "rollup.",
)
def q_brand_cross_shopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    cb = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(
            p.select("p_partkey", "p_brand"),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.countDistinct("p_brand").alias("n_brands"))
    )
    return (
        cb.groupBy("n_brands")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_brands")
    )


@register(
    "nation_trade_balance",
    """
    WITH supply AS (
      SELECT s.s_nationkey AS nk,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS sell_rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1
    ),
    demand AS (
      SELECT c.c_nationkey AS nk,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS buy_spend
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(COALESCE(s.sell_rev, 0) AS DOUBLE) + 0.0 AS supply_revenue,
           CAST(COALESCE(d.buy_spend, 0) AS DOUBLE) + 0.0 AS demand_spend,
           CAST(COALESCE(s.sell_rev, 0) - COALESCE(d.buy_spend, 0)
                AS DOUBLE) + 0.0 AS trade_balance
    FROM nation n
    LEFT JOIN supply s ON s.nk = n.n_nationkey
    LEFT JOIN demand d ON d.nk = n.n_nationkey
    ORDER BY nation
    """,
    doc="Per-nation trade balance: revenue its suppliers sell vs what "
    "its customers spend — the two fact-to-dim relationships of the "
    "star read against each other (TPC-H Q7's bilateral flows "
    "collapsed to a per-nation net position). Two independent exact "
    "decimal reductions, merged on the 25-row nation dim with LEFT "
    "joins so inactive nations stay visible.",
)
def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    supply = (
        li.join(
            su.select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == su["s_suppkey"],
        )
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(12,2)"))
            ).alias("sell_rev")
        )
    )
    demand = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "buy_spend"
            )
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        n.select(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation"))
        .join(F.broadcast(supply), "nk", "left")
        .join(F.broadcast(demand), "nk", "left")
        .select(
            "nation",
            (
                F.coalesce(F.col("sell_rev"), zero).cast("double")
                + F.lit(0.0)
            ).alias("supply_revenue"),
            (
                F.coalesce(F.col("buy_spend"), zero).cast("double")
                + F.lit(0.0)
            ).alias("demand_spend"),
            (
                (
                    F.coalesce(F.col("sell_rev"), zero)
                    - F.coalesce(F.col("buy_spend"), zero)
                ).cast("double")
                + F.lit(0.0)
            ).alias("trade_balance"),
        )
        .orderBy("nation")
    )


@register(
    "slow_movers",
    """
    WITH last_sold AS (
      SELECT l_partkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
      FROM lineitem GROUP BY l_partkey
    ),
    horizon AS (
      SELECT MAX(CAST(l_shipdate AS DATE)) - INTERVAL 12 MONTH AS cutoff
      FROM lineitem
    )
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN ls.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS never_sold,
           CAST(SUM(CASE WHEN ls.last_ship < h.cutoff THEN 1 ELSE 0 END)
                AS BIGINT) AS stale_12mo,
           CAST(SUM(CASE WHEN ls.l_partkey IS NULL
                         OR ls.last_ship < h.cutoff
                    THEN CAST(p.p_retailprice AS DECIMAL(18,2))
                    ELSE 0 END) AS DOUBLE) + 0.0 AS at_risk_retail_value
    FROM part p
    LEFT JOIN last_sold ls ON ls.l_partkey = p.p_partkey
    CROSS JOIN horizon h
    GROUP BY p.p_brand ORDER BY brand
    """,
    doc="Slow-mover / dead-stock screen per brand: parts never sold or "
    "not shipped in the final 12 months of the data, with the retail "
    "value parked in them — the inventory-risk readout. The fact side "
    "reduces to last-ship-per-part first; the part dim LEFT JOINs it "
    "so never-sold parts surface; the horizon is a broadcast scalar.",
)
def q_slow_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    last_sold = li.groupBy("l_partkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    horizon = F.broadcast(
        li.agg(
            F.add_months(F.max(F.to_date("l_shipdate")), -12).alias(
                "cutoff"
            )
        )
    )
    j = (
        p.join(last_sold, p["p_partkey"] == last_sold["l_partkey"], "left")
        .crossJoin(horizon)
    )
    at_risk = F.col("l_partkey").isNull() | (
        F.col("last_ship") < F.col("cutoff")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        j.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("l_partkey").isNull().cast("long")).alias(
                "never_sold"
            ),
            F.sum(
                (F.col("last_ship") < F.col("cutoff")).cast("long")
            ).alias("stale_12mo"),
            (
                F.sum(
                    F.when(
                        at_risk,
                        F.col("p_retailprice").cast("decimal(18,2)"),
                    ).otherwise(zero)
                ).cast("double")
                + F.lit(0.0)
            ).alias("at_risk_retail_value"),
        )
        .orderBy("brand")
    )


@register(
    "supplier_risk_screen",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS dep_rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
           CAST(s.s_acctbal AS DOUBLE) + 0.0 AS acctbal,
           CAST(COALESCE(r.dep_rev, 0) AS DOUBLE) + 0.0
             AS dependent_revenue
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    LEFT JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal < 0
    ORDER BY CAST(COALESCE(r.dep_rev, 0) AS DOUBLE) DESC, s.s_suppkey
    LIMIT 20
    """,
    doc="Supplier financial-risk screen: negative-balance suppliers "
    "ranked by the revenue that depends on them — financially fragile "
    "AND load-bearing is the procurement escalation list (pairs with "
    "supplier_hhi's concentration view). Fact revenue reduces per "
    "supplier first; the supplier/nation dims broadcast; top-20 is "
    "TakeOrderedAndProject.",
)
def q_supplier_risk_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(12,2)"))
        ).alias("dep_rev")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        s.filter(F.col("s_acctbal") < 0)
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            s["s_nationkey"] == n["n_nationkey"],
        )
        .join(rev, s["s_suppkey"] == rev["l_suppkey"], "left")
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            (F.col("s_acctbal").cast("double") + F.lit(0.0)).alias(
                "acctbal"
            ),
            (
                F.coalesce(F.col("dep_rev"), zero).cast("double")
                + F.lit(0.0)
            ).alias("dependent_revenue"),
        )
        .orderBy(F.desc("dependent_revenue"), "s_suppkey")
        .limit(20)
    )


@register(
    "size_price_regression",
    """
    WITH b AS (
      SELECT p_brand, CAST(p_size AS BIGINT) AS x,
             CAST(p_retailprice AS DECIMAL(18,2)) AS y
      FROM part
    ),
    s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy
      FROM b GROUP BY p_brand
    )
    SELECT p_brand AS brand, n,
           ROUND((n * sxy - sx * sy) / (n * sx2 - CAST(sx AS DOUBLE) * sx),
                 6) + 0.0 AS price_per_size_unit,
           ROUND((sy - ((n * sxy - sx * sy)
                  / (n * sx2 - CAST(sx AS DOUBLE) * sx)) * sx) / n, 6)
             + 0.0 AS base_price
    FROM s ORDER BY brand
    """,
    doc="Retail price vs size regression per brand: the price-per-"
    "size-unit slope and base price — the pricing-architecture readout "
    "(is a brand's price ladder proportional to size or flat?). Same "
    "exact-moment-sum construction as regr_daily_trend: integer "
    "x-moments, decimal y-moments, doubles only in the final "
    "closed-form expressions.",
)
def q_size_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    b = p.select(
        "p_brand",
        F.col("p_size").cast("long").alias("x"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("y"),
    )
    s = b.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return s.select(
        F.col("p_brand").alias("brand"),
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("price_per_size_unit"),
        (
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
            )
            + F.lit(0.0)
        ).alias("base_price"),
    ).orderBy("brand")


@register(
    "priority_mix_trend",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    t AS (SELECT month, CAST(SUM(n) AS BIGINT) AS tot FROM m GROUP BY month)
    SELECT m.month, m.o_orderpriority, m.n,
           ROUND(CAST(m.n AS DOUBLE) / t.tot, 6) + 0.0 AS share
    FROM m JOIN t USING (month)
    ORDER BY m.month, m.o_orderpriority
    """,
    doc="Monthly order-priority mix: per-priority counts and shares over "
    "time — a drift in the urgent share is an upstream process change "
    "(or a data bug) that the static rollups hide. One partial-agg "
    "groupBy to (month, priority), monthly totals joined back on the "
    "month domain.",
)
def q_priority_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    t = m.groupBy("month").agg(F.sum("n").alias("tot"))
    return (
        m.join(F.broadcast(t), "month")
        .select(
            "month",
            "o_orderpriority",
            "n",
            (
                F.round(F.col("n").cast("double") / F.col("tot"), 6)
                + F.lit(0.0)
            ).alias("share"),
        )
        .orderBy("month", "o_orderpriority")
    )
