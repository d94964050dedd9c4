"""Query catalog: every engine operator as a (Spark DataFrame fn, oracle SQL) pair.

Each entry exercises one operator family from the engine (SURVEY.md §2 maps
them to the reference implementation). The Spark side is idiomatic DataFrame
API — Catalyst plans it; the oracle side is ANSI SQL DuckDB runs on the same
parquet files for value-level equivalence checking.

Cross-engine determinism rules used throughout:
- Money/measure arithmetic is done in DECIMAL (exact, order-independent
  under parallel aggregation), final results CAST TO DOUBLE on both sides.
- LIMIT queries always order by a unique tie-break key.
- Timestamps are naive (parquet NTZ); the loader pins the session to UTC.
- events.parquet stores nanosecond timestamps (Spark can't read natively):
  read via ``spark.sql.legacy.parquet.nanosAsLong`` + integer-division
  conversion to microseconds, matching DuckDB's ns->us truncation.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def events_ts_unit(sf_dir: str) -> str:
    """Physical unit of events.ts in this testdata generation ('ns'/'us').

    The driver regenerates /root/testdata between rounds and has shipped
    both nanosecond (round 1) and microsecond (round 2) encodings; a cheap
    pyarrow footer read keeps the loader correct for either. The path may
    be a single parquet file (driver testdata) or a directory of part
    files (anything Spark itself wrote) — for a directory, any one part
    footer carries the schema.
    """
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(
                f"{path} is a directory with no *.parquet part files "
                "(only markers like _SUCCESS?) - cannot sniff the events "
                "ts encoding from an empty table directory"
            )
        path = os.path.join(path, parts[0])
    meta = pq.ParquetFile(path)
    idx = meta.schema_arrow.get_field_index("ts")
    # Distinguish by PHYSICAL type: the driver's round-1 encoding is
    # INT64 with a nanosecond logical timestamp (Spark needs the
    # nanosAsLong escape hatch), while Spark's own INT96 output also
    # surfaces as timestamp[ns] in the arrow schema but reads natively
    # as TIMESTAMP — only genuine INT64-nanos takes the legacy branch.
    if meta.schema.column(idx).physical_type != "INT64":
        return "us"
    t = meta.schema_arrow.field(idx).type
    return getattr(t, "unit", "us") or "us"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with engine-normalized types."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        if events_ts_unit(sf_dir) == "ns":
            # Spark can't read parquet ns natively: surface as long, then
            # ns -> us truncation via integer division (DuckDB's cast).
            # The legacy flag is restored right after the read: the relation
            # captures the conf into its hadoopConf at resolution time, so
            # execution is unaffected, and the session doesn't leak a global
            # schema-inference mode into unrelated reads (test order matters:
            # a leaked conf changes OTHER queries' plans).
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = spark.read.parquet(path)
            finally:
                if prev is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = spark.read.parquet(path)
        # parquet NTZ micros reads as TIMESTAMP_NTZ; session tz is pinned
        # UTC, so the cast to TIMESTAMP is value-preserving and keeps one
        # timestamp type across the whole catalog
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def _dec(col: str | F.Column, prec: int = 18, scale: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> non-SQL-expressible, rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship group-agg (multi-measure rollup; reference A1/A6 family).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price, disc, tax = _dec("l_extendedprice", 12), _dec("l_discount", 12), _dec("l_tax", 12)
    qty = _dec("l_quantity", 12)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "sum_total_windowed",
    """
    SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1996-12-31 00:00:00'
    """,
    doc="Ungrouped SUM under a date window (reference A1, fn_dq_checks_load.sql:23-32).",
)
def q_sum_total_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") <= F.lit("1996-12-31 00:00:00").cast("timestamp_ntz"))
        )
        .agg(
            F.coalesce(F.sum(_dec("l_extendedprice", 12)), F.lit(0))
            .cast("double")
            .alias("total_price")
        )
    )


@register(
    "conditional_ratio",
    """
    SELECT (COUNT(*) FILTER (WHERE o_orderstatus = 'F') * 100.0) / COUNT(*) AS pct_finished,
           COUNT(*) AS total
    FROM orders
    """,
    doc="Conditional-count ratio (reference A2 null-rate idiom, fn_dq_checks_load.sql:60-65).",
)
def q_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n_f = F.count(F.when(F.col("o_orderstatus") == "F", 1))
    return o.agg(
        ((n_f * 100.0) / F.count(F.lit(1))).alias("pct_finished"),
        F.count(F.lit(1)).alias("total"),
    )


@register(
    "distinct_dim_keys",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="DISTINCT projection feeding dim upsert (reference A3, init_database.py:280-309).",
)
def q_distinct_dim_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "surrogate_keys",
    """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS INT) AS segment_id,
           c_mktsegment AS segment_name
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
    doc="Dense surrogate-key assignment over distinct keys (reference SERIAL dims, t_dim_tables.sql:3).",
)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_mktsegment")
    return (
        c.select("c_mktsegment")
        .distinct()
        .select(
            F.row_number().over(w).cast("int").alias("segment_id"),
            F.col("c_mktsegment").alias("segment_name"),
        )
    )


@register(
    "duplicate_groups",
    """
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_dup
    FROM orders
    GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    HAVING COUNT(*) > 1
    """,
    doc="GROUP BY + HAVING duplicate detector (reference A4/DQ4, fn_dq_checks_load.sql:125-134).",
)
def q_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


@register(
    "violation_count",
    """
    SELECT COUNT(*) AS n_violations
    FROM lineitem
    WHERE l_discount > 0.08 OR l_tax > 0.07
    """,
    doc="Range-violation counter (reference A5/DQ3/DQ5, fn_dq_checks_load.sql:93-97,162-166).",
)
def q_violation_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_discount") > 0.08) | (F.col("l_tax") > 0.07)).agg(
        F.count(F.lit(1)).alias("n_violations")
    )


@register(
    "status_rollup",
    """
    SELECT o_orderstatus,
           COUNT(*) AS total,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           (COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') * 100.0) / COUNT(*) AS pct_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Per-status rollup with conditional counts (reference A6, dq_dashboard.py:66-79).",
)
def q_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("total"),
        urgent.alias("n_urgent"),
        ((urgent * 100.0) / F.count(F.lit(1))).alias("pct_urgent"),
    )


@register(
    "daily_trend",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    doc="Per-day trend aggregation (reference A7, dq_dashboard.py:120-131).",
)
def q_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("ts").cast("date").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", 12)).cast("double").alias("total_value"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        )
    )


# --------------------------------------------------------------------------
# Projections / filters / CASE cleansing (SURVEY §2.2)
# --------------------------------------------------------------------------


@register(
    "cleanse_case",
    """
    SELECT c_custkey,
           CAST(CASE WHEN c_acctbal IS NULL THEN 0
                     WHEN c_acctbal < 0 THEN 0
                     WHEN c_acctbal > 5000 THEN 5000
                     ELSE CAST(c_acctbal AS DECIMAL(12,2)) END AS DOUBLE) AS acctbal_clean,
           CASE WHEN c_mktsegment NOT IN ('BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD','FURNITURE')
                THEN 'OTHER' ELSE c_mktsegment END AS segment_clean,
           LOWER(c_name) AS name_norm,
           CASE WHEN c_nationkey IS NULL THEN -1 ELSE c_nationkey END AS nation_clean
    FROM customer
    """,
    doc="CASE-rewrite cleansing projection: clamp/whitelist/normalize (reference P1-P8, 01_init_all.sql:80-130).",
)
def q_cleanse_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    seg = F.col("c_mktsegment")
    segments = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    return c.select(
        "c_custkey",
        F.when(bal.isNull(), 0)
        .when(bal < 0, 0)
        .when(bal > 5000, 5000)
        .otherwise(_dec("c_acctbal", 12))
        .cast("double")
        .alias("acctbal_clean"),
        F.when(~seg.isin(segments), "OTHER").otherwise(seg).alias("segment_clean"),
        F.lower(F.col("c_name")).alias("name_norm"),
        F.when(F.col("c_nationkey").isNull(), -1)
        .otherwise(F.col("c_nationkey"))
        .alias("nation_clean"),
    )


@register(
    "silver_gate",
    """
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
      AND o_custkey IS NOT NULL
    """,
    doc="Date-window + NOT NULL gate filter (reference P9/P10, 01_init_all.sql:132-134).",
)
def q_silver_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice"), "o_orderdate")


@register(
    "date_repair",
    """
    SELECT o_orderkey,
           CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01' THEN DATE '1997-01-01'
                ELSE CAST(o_orderdate AS DATE) END AS order_date_repaired,
           CASE WHEN CAST(o_orderdate AS DATE) > DATE '1998-12-31'
                THEN CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)
                ELSE CAST(o_orderdate AS DATE) END AS order_date_shifted
    FROM orders
    """,
    doc="Date repair with interval arithmetic on RAW inputs (reference P8, 01_init_all.sql:121-129).",
)
def q_date_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.when(d < F.lit("1997-01-01").cast("date"), F.lit("1997-01-01").cast("date"))
        .otherwise(d)
        .alias("order_date_repaired"),
        F.when(d > F.lit("1998-12-31").cast("date"), F.date_add(d, 30))
        .otherwise(d)
        .alias("order_date_shifted"),
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------


@register(
    "star_join",
    """
    SELECT r.r_name, n.n_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 0) AS DOUBLE) AS revenue
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Fact->dim broadcast LEFT-join chain + rollup (reference J1, init_database.py:337-341).",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        # customer SCALES with SF — no forced broadcast (the size-based
        # planner broadcasts it while it fits and demotes at scale);
        # nation/region are constant-size and stay hinted
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(F.sum(_dec("o_totalprice", 14)), F.lit(0))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "latest_batch",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)
    GROUP BY event_type
    """,
    doc="Latest-batch scalar-subquery-max filter (reference J2, run_data_quality_checks.py:40-48).",
)
def q_latest_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    mx = e.agg(F.max("event_date").alias("event_date"))
    return (
        e.join(F.broadcast(mx), on="event_date", how="left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "anti_join_unreferenced",
    """
    SELECT p_partkey FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    doc="Anti join: keys absent downstream (ON CONFLICT dedupe half of reference A3).",
)
def q_anti_join_unreferenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return p.join(
        li, p.p_partkey == li.l_partkey, "left_anti"
    ).select("p_partkey")


@register(
    "semi_join_active",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
    """,
    doc="Semi join: EXISTS-style membership (latest-batch semi-join idiom, reference J2).",
)
def q_semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.5)
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="ORDER BY + LIMIT top-k (reference O1, dq_dashboard.py:94-104); plans as TakeOrderedAndProject.",
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .limit(10)
    )


@register(
    "critical_top5",
    """
    SELECT event_id, ts, value
    FROM events
    WHERE event_type IN ('error')
    ORDER BY ts DESC, event_id
    LIMIT 5
    """,
    doc="Filtered recent-N (reference O2, dq_dashboard.py:147-157).",
)
def q_critical_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("error"))
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "value")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# --------------------------------------------------------------------------


@register(
    "union_distinct",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    doc="Union-with-dedupe (reference §2.6 / ON CONFLICT upsert shape).",
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.union(b).distinct()


# --------------------------------------------------------------------------
# Window functions (engine extension; reference has none — SURVEY §2.8)
# --------------------------------------------------------------------------


@register(
    "latest_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="Top-1-per-group via window row_number (SCD2 'current row' idiom).",
)
def q_latest_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
