"""Silver -> gold star-schema build: dimension upserts + fact load.

Reimplements ``fn_dm_data_load`` (reference: data-pipeline/src/
init_database.py:272-347 — the authoritative copy; the .sql file of that name
holds an unrelated MySQL procedure) with Spark-native idioms:

- ``INSERT ... SELECT DISTINCT ... ON CONFLICT DO NOTHING`` runs for all
  four dims in one keyed pass (:func:`build_dims`): the four source columns
  explode into ``(dim, key)`` rows, distinct -> left_anti join against the
  stored ``(dim, key)`` set -> union-append to each stored dim. The anti
  join is broadcast: stored dims are small by definition (~1e2 keys).
- SERIAL surrogate keys become ``row_number() OVER (PARTITION BY dim ORDER
  BY key)`` plus that dim's stored max id, taken from a broadcast per-dim
  aggregate. Dense, deterministic, and stable: a stored key keeps its id,
  and each dim's sort only ever sees its new distinct keys, never
  fact-scale data.
- The 4-way fact lookup join broadcasts every dimension: at 100 TB the fact
  side streams through executors map-side only — zero shuffle.
- ``fact_id`` (BIGSERIAL) needs uniqueness only (the DQ uniqueness check
  groups by it), so it is ``monotonically_increasing_id`` above the max id
  of the fact rows the load keeps: shuffle-free and collision-free.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_data_spark.cleanse import date_window_filter
from etl_data_spark.io.writers import one_task_if_small, window_replace_predicate

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


def build_dims(
    windowed: DataFrame, existing: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    """Idempotent load of all four dims in one keyed pass: each dim is its
    ``existing`` rows plus its unseen natural keys with new surrogate ids.

    Equivalent of DISTINCT + ON CONFLICT DO NOTHING
    (init_database.py:280-309), once for every dim: the four source
    columns become ``(dim, key)`` rows, NULL keys are dropped (Postgres
    UNIQUE would accept them, but the reference's cleansing guarantees
    non-NULL dim keys, and a NULL key row would never join back anyway),
    the distinct keys lose those already stored (a broadcast anti join),
    and the rest are numbered per dim above that dim's stored max id
    (a broadcast per-dim aggregate). No driver action runs.
    """
    existing = existing or {}
    # a small read-back silver runs the whole pass in one task, with no
    # exchange; coalesce before the explode, which is not row-bounded
    sources = one_task_if_small(windowed.select(*(s for *_, s in DIM_SPECS)))
    pairs = F.array(
        *(
            F.struct(F.lit(name).alias("dim"), F.col(s).alias("key"))
            for name, *_, s in DIM_SPECS
        )
    )
    keys = sources.select(F.inline(pairs)).filter(F.col("key").isNotNull()).distinct()
    stored = [
        existing[name].select(
            F.lit(name).alias("dim"),
            F.col(key_col).alias("key"),
            F.col(id_col).alias("id"),
        )
        for name, id_col, key_col, _ in DIM_SPECS
        if name in existing
    ]
    offset = F.lit(0)
    if stored:
        stored_keys = one_task_if_small(reduce(DataFrame.unionByName, stored))
        max_ids = stored_keys.groupBy("dim").agg(F.max("id").alias("max_id"))
        keys = keys.join(
            F.broadcast(stored_keys.select("dim", "key")), ["dim", "key"], "left_anti"
        ).join(F.broadcast(max_ids), "dim", "left")
        offset = F.coalesce(F.col("max_id"), offset)

    w = Window.partitionBy("dim").orderBy("key")
    numbered = keys.select(
        "dim", "key", (F.row_number().over(w) + offset).cast("int").alias("id")
    )
    dims = {}
    for name, id_col, key_col, _ in DIM_SPECS:
        new = numbered.filter(F.col("dim") == name).select(
            F.col("id").alias(id_col),
            F.col("key").alias(key_col),
            F.current_date().alias("created_dt"),
        )
        dims[name] = existing[name].unionByName(new) if name in existing else new
    return dims


def build_fact(
    silver: DataFrame,
    dims: dict[str, DataFrame],
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
    kept: DataFrame | None = None,
) -> DataFrame:
    """Four broadcast LEFT JOINs resolving surrogate keys, then the new
    fact rows, with ids above the max ``fact_id`` of the ``kept`` fact
    rows (see :func:`kept_fact`).

    Mirrors init_database.py:311-343. The fact side is never shuffled: all
    four dims broadcast (each is ~1e2 keys at most), so this is a map-only
    stage at any scale. The stored max id is a scalar subquery of the
    plan, not a driver action.
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
    # kept fact_id — without it the first new id collides.
    offset = F.lit(0)
    if kept is not None:
        offset = F.coalesce(kept.select(F.max("fact_id")).scalar(), offset)
    fact_id = (F.monotonically_increasing_id() + offset + F.lit(1)).cast("long")

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


def kept_fact(
    fact: DataFrame | None,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> DataFrame | None:
    """The rows of a stored ``fact`` that a load of the window keeps: those
    the reference DELETE's window predicate does not match (see
    io/writers.py window_replace_predicate). None when there is no stored
    fact, or when an unbounded window replaces all of it."""
    replaced = window_replace_predicate(start_date, end_date)
    if fact is None or replaced is None:
        return None
    return fact.filter(~F.coalesce(replaced, F.lit(False)))


def build_star(
    silver: DataFrame,
    existing: StarSchema | None = None,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> StarSchema:
    """Run the full DM load for one window: the keyed dim upsert + the
    fact build.

    The fact contract is windowed replacement, as the mart's
    (io/writers.py overwrite_by_window): the existing fact rows the window
    matches give way to the window's new rows, whose ids lie above every
    kept id; rows outside the window stay as they are. (The reference
    fact load appends, init_database.py:314-343; its export promote
    replaces the window.)
    """
    existing = existing or StarSchema()
    dims = build_dims(date_window_filter(silver, start_date, end_date), existing.dims)
    kept = kept_fact(existing.fact, start_date, end_date)
    fact = build_fact(silver, dims, start_date, end_date, kept)
    return StarSchema(dims=dims, fact=fact if kept is None else kept.unionByName(fact))
