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
    observe_counts,
    overwrite_by_window,
    write_partitioned,
)
from etl_data_spark.star import StarSchema, build_fact, build_star


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

    star = build_star(silver, start_date=start_date, end_date=end_date)
    if warehouse:
        # the fact joins the dims as written, so each dim's distinct +
        # id-assigning plan runs once, for its own write
        dims = {}
        for name, dim in star.dims.items():
            dim_path = str(Path(warehouse) / name)
            dim.write.mode("overwrite").parquet(dim_path)
            dims[name] = _read_back(spark, dim_path, dim.schema)
        fact = build_fact(silver, dims, start_date, end_date)
        fact_path = str(Path(warehouse) / "fact_task")
        write_partitioned(fact, fact_path, "effective_from")
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
