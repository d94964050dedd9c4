"""End-to-end pipeline orchestration.

Reimplements the reference's ``main()`` flow (reference: data-pipeline/src/
main.py:6-39, etl.py:6-30): generate -> bronze -> cleanse -> star schema ->
DQ checks -> optional export. Stages are pure DataFrame functions so each is
unit-testable.

With a ``warehouse`` each layer's plan is evaluated once, by its write, and
the next layer reads what was written: silver reads the bronze files, the
dims and the fact read silver's, the fact joins the written dims, DQ reads
the written silver and fact and the mart the written fact. Row counts are observed on the writes
(``Observation``), never taken by a separate action, and every read-back
passes the schema the layer was written with, so no job infers one. Without
a warehouse the layers stay one lazy plan over the generated source.

A fresh warehouse and a stored one take the same path. The dims and the
fact an earlier run stored are read with their declared schemas
(schemas.py; a filesystem check decides whether they exist) and passed to
``build_star``. Each dim is upserted (stored ids never change, new keys
are numbered above them) and published through ``io.writers.rewrite``,
since Spark cannot overwrite a path it reads. The fact is written through
``overwrite_by_window``, like the mart: the window's rows are replaced,
new rows take ids above the kept rows' max, and months outside the window
stay as they are.

The MySQL migration stage (migrate_to_mysql.py:5-99) becomes an optional
export: by default a second parquet "mart" table written with idempotent
window replacement (the staging->target promote collapses into
overwrite_by_window); a JDBC sink is available when a driver jar is present.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_spark.cleanse import cleanse, date_window_filter
from etl_data_spark.dq import run_reference_dq
from etl_data_spark.generate import generate_source
from etl_data_spark.ingest import IngestReport, ingest_bronze
from etl_data_spark.io.writers import (
    MONTH_KEY,
    has_live_months,
    observe_counts,
    overwrite_by_window,
    published,
    rewrite,
    write_partitioned,
)
from etl_data_spark.schemas import DIM_SCHEMAS, FACT_TASK_SCHEMA
from etl_data_spark.star import (
    DIM_SPECS,
    StarSchema,
    build_fact,
    build_star,
    kept_fact,
)

# the rewrite tag of a dim publish: its staging and trash directories
# are ``{dim}__tmp_upsert`` and ``{dim}__pre_upsert``
_DIM_TAG = "upsert"


@dataclass
class PipelineResult:
    bronze: DataFrame
    silver: DataFrame
    star: StarSchema
    dq_results: DataFrame
    ingest_report: IngestReport
    silver_count: int
    exported_count: int | None = None


def export_mart(
    spark: SparkSession,
    fact: DataFrame,
    path: str,
    start_date: dt.date | str | None,
    end_date: dt.date | str | None,
) -> int:
    """Windowed promote into the mart table (fn_dm_data_stg_to_dm_load.sql:8-36).

    Count + delete-window + insert-select collapses into one
    overwrite-by-window write; returns rows promoted.
    """
    windowed = date_window_filter(fact, start_date, end_date)
    return overwrite_by_window(spark, windowed, path, start_date, end_date)


def export_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "overwrite", **options: str
) -> None:
    """Distributed JDBC export (replaces driver-side fetchall+executemany,
    migrate_to_mysql.py:32-65). Requires a JDBC driver jar on the classpath.
    """
    df.write.mode(mode).options(batchsize="10000", **options).jdbc(url, table)


def _read_back(
    spark: SparkSession, path: str, schema: T.StructType, partitioned: bool = False
) -> DataFrame:
    """The layer just written to ``path``, read with the ``schema`` it was
    written with (no schema-inference job). A month-partitioned layer is
    read with its int ``MONTH_KEY`` partition column, then drops it."""
    if not partitioned:
        return spark.read.schema(schema).parquet(path)
    keyed = T.StructType(schema.fields + [T.StructField(MONTH_KEY, T.IntegerType())])
    return spark.read.schema(keyed).parquet(path).drop(MONTH_KEY)


def _stored_star(spark: SparkSession, warehouse: str) -> StarSchema:
    """The dims and fact an earlier run left in ``warehouse``, read with
    their declared schemas (filesystem checks, no job); a table not there
    yet is left out, so a fresh warehouse gives an empty star."""
    dims = {
        name: _read_back(spark, path, DIM_SCHEMAS[name])
        for name, *_ in DIM_SPECS
        if published(spark, path := str(Path(warehouse) / name), _DIM_TAG)
    }
    fact_path = str(Path(warehouse) / "fact_task")
    fact = None
    if has_live_months(spark, fact_path):
        fact = _read_back(spark, fact_path, FACT_TASK_SCHEMA, partitioned=True)
    return StarSchema(dims=dims, fact=fact)


def run_pipeline(
    spark: SparkSession,
    rows: int = 1000,
    seed: int = 42,
    start_date: dt.date | str | None = "2023-01-01",
    end_date: dt.date | str | None = "2023-12-31",
    warehouse: str | None = None,
    skip_export: bool = False,
) -> PipelineResult:
    """Full run. If ``warehouse`` is set, persists every layer as parquet
    (bronze unpartitioned; silver/fact partitioned by month for pruning).
    """
    raw = generate_source(spark, rows=rows, seed=seed)
    bronze, ingest_report = ingest_bronze(
        raw, path=str(Path(warehouse) / "bronze") if warehouse else None
    )

    silver = cleanse(bronze, start_date, end_date)
    if warehouse:
        silver_path = str(Path(warehouse) / "silver")
        observed, counts = observe_counts(silver, F.count(F.lit(1)).alias("rows"))
        write_partitioned(observed, silver_path, "effective_from")
        silver_count = counts()["rows"]
        silver = _read_back(spark, silver_path, silver.schema, partitioned=True)
    else:
        silver_count = silver.count()

    stored = _stored_star(spark, warehouse) if warehouse else None
    star = build_star(silver, stored, start_date=start_date, end_date=end_date)
    if warehouse:
        # the fact joins the dims as written, so the keyed dim pass runs
        # once, for each dim's write. Each dim's plan reads its own stored
        # dim only (the per-dim filter prunes the others' union branches),
        # so publishing one cannot pull files from under the next.
        dims = {}
        for name, dim in star.dims.items():
            dim_path = str(Path(warehouse) / name)
            rewrite(spark, dim_path, _DIM_TAG, dim.write.parquet)
            dims[name] = _read_back(spark, dim_path, dim.schema)
        kept = kept_fact(stored.fact, start_date, end_date)
        fact = build_fact(silver, dims, start_date, end_date, kept)
        fact_path = str(Path(warehouse) / "fact_task")
        overwrite_by_window(spark, fact, fact_path, start_date, end_date)
        star = StarSchema(
            dims=dims,
            fact=_read_back(spark, fact_path, fact.schema, partitioned=True),
        )

    dq_results = run_reference_dq(spark, silver, star.fact, start_date, end_date)
    if warehouse:
        dq_results.write.mode("append").parquet(str(Path(warehouse) / "dq_results"))

    exported = None
    if not skip_export and warehouse:
        exported = export_mart(
            spark,
            star.fact,
            str(Path(warehouse) / "mart_task"),
            start_date,
            end_date,
        )

    return PipelineResult(
        bronze=bronze,
        silver=silver,
        star=star,
        dq_results=dq_results,
        ingest_report=ingest_report,
        silver_count=silver_count,
        exported_count=exported,
    )
