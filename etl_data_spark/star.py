"""Silver -> gold star-schema build: dimension upserts + fact load.

Reimplements ``fn_dm_data_load`` (reference: data-pipeline/src/
init_database.py:272-347 — the authoritative copy; the .sql file of that name
holds an unrelated MySQL procedure) with Spark-native idioms:

- ``INSERT ... SELECT DISTINCT ... ON CONFLICT DO NOTHING`` becomes
  distinct -> left_anti join against the existing dim -> union-append. The
  anti join is broadcast: the *new keys* side is tiny by construction.
- SERIAL surrogate keys become ``row_number() OVER (ORDER BY natural_key)``
  offset by the current max id. Dense, deterministic, stable for dims (which
  are small by definition — the window's single-partition sort only ever
  sees the new distinct keys, never fact-scale data).
- The 4-way fact lookup join broadcasts every dimension: at 100 TB the fact
  side streams through executors map-side only — zero shuffle.
- ``fact_id`` (BIGSERIAL) needs uniqueness only (the DQ uniqueness check
  groups by it), so it is ``monotonically_increasing_id``: shuffle-free and
  collision-free per load.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_data_spark.cleanse import date_window_filter
from etl_data_spark.io.writers import one_task_if_small

# (dim name, dim id column, dim natural-key column, silver source column)
DIM_SPECS = [
    ("dim_customer", "customer_id", "customer_name", "user_name"),
    ("dim_product", "product_id", "product_category", "product_category"),
    ("dim_region", "region_id", "region_name", "region"),
    ("dim_status", "status_id", "status_name", "customer_status"),
]


@dataclass
class StarSchema:
    dims: dict[str, DataFrame] = field(default_factory=dict)
    fact: DataFrame | None = None


def upsert_dim(
    existing: DataFrame | None,
    silver: DataFrame,
    source_col: str,
    id_col: str,
    key_col: str,
) -> DataFrame:
    """Idempotent dim load: add unseen natural keys with new surrogate ids.

    Equivalent of DISTINCT + ON CONFLICT DO NOTHING
    (init_database.py:280-309). NULL keys are excluded — Postgres UNIQUE
    would accept them, but the reference's cleansing guarantees non-NULL
    dim keys, and a NULL key row would never join back anyway.
    """
    # a small read-back silver runs the distinct and the numbering in
    # one task, with no exchange
    new_keys = one_task_if_small(
        silver.select(F.col(source_col).alias(key_col)).filter(
            F.col(key_col).isNotNull()
        )
    ).distinct()
    if existing is not None and existing.head(1):
        new_keys = new_keys.join(
            F.broadcast(existing.select(key_col)), on=key_col, how="left_anti"
        )
        offset = existing.agg(F.max(id_col)).first()[0] or 0
    else:
        offset = 0

    w = Window.orderBy(key_col)
    assigned = new_keys.select(
        (F.row_number().over(w) + F.lit(offset)).cast("int").alias(id_col),
        F.col(key_col),
        F.current_date().alias("created_dt"),
    )
    if existing is not None and offset:
        return existing.unionByName(assigned)
    return assigned


def build_fact(
    silver: DataFrame,
    dims: dict[str, DataFrame],
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
    fact_id_offset: int = 0,
) -> DataFrame:
    """Four broadcast LEFT JOINs resolving surrogate keys, then fact append.

    Mirrors init_database.py:311-343. The fact side is never shuffled: all
    four dims broadcast (each is ~1e2 keys at most), so this is a map-only
    stage at any scale.
    """
    src = date_window_filter(silver, start_date, end_date)

    joined = src
    for dim_name, id_col, key_col, source_col in DIM_SPECS:
        dim = dims[dim_name].select(id_col, key_col)
        joined = joined.join(
            F.broadcast(dim), joined[source_col] == dim[key_col], "left"
        ).drop(key_col)

    # Unique, shuffle-free, not dense. The +1 matters:
    # monotonically_increasing_id starts at 0, and offset is the MAX
    # existing fact_id — without it the first new id collides.
    fact_id = (
        F.monotonically_increasing_id() + F.lit(fact_id_offset) + F.lit(1)
    ).cast("long")

    return joined.select(
        fact_id.alias("fact_id"),
        "customer_id",
        "product_id",
        "region_id",
        "status_id",
        "age",
        "salary",
        "purchase_amount",
        "transaction_count",
        "effective_from",
        "effective_to",
        "current_flag",
        F.current_date().alias("created_dt"),
    )


def build_star(
    silver: DataFrame,
    existing: StarSchema | None = None,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> StarSchema:
    """Run the full DM load for one window: 4 dim upserts + fact build.

    Like the reference, the fact load APPENDS per run (init_database.py:
    314-343 has no delete) — idempotent window replacement happens at the
    export/promote stage (see io/writers.py overwrite_by_window).
    """
    existing = existing or StarSchema()
    windowed = date_window_filter(silver, start_date, end_date)

    dims: dict[str, DataFrame] = {}
    for dim_name, id_col, key_col, source_col in DIM_SPECS:
        dims[dim_name] = upsert_dim(
            existing.dims.get(dim_name), windowed, source_col, id_col, key_col
        )

    offset = 0
    if existing.fact is not None:
        offset = existing.fact.agg(F.max("fact_id")).first()[0] or 0
    fact_new = build_fact(
        silver, dims, start_date, end_date, fact_id_offset=offset
    )
    fact = (
        existing.fact.unionByName(fact_new) if existing.fact is not None else fact_new
    )
    return StarSchema(dims=dims, fact=fact)
