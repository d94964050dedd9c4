"""Bronze ingest: truncate-and-load with validity-reject accounting.

Replaces the reference's row-by-row INSERT loop (reference: data-pipeline/
src/load_data_to_db.py:13-56) — its per-row try/except "skip bad rows, count
good ones" semantics become a distributed validity filter + rejected-row
count, and the TRUNCATE+INSERT becomes one overwrite write. NaN -> NULL
coercion (load_data_to_db.py:22-25) is native to Spark's schema path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_spark.io.writers import observe_counts


@dataclass
class IngestReport:
    loaded: int
    rejected: int


def validity_predicate() -> F.Column:
    """Rows a row-wise INSERT into the bronze DDL could not accept.

    Bronze has no CHECK constraints (01_init_all.sql:5-20), so the only
    hard failures are varchar-length overflows; mirror those limits.
    """
    return (
        (F.length("user_id") <= 50)
        & (F.length("user_name") <= 100)
        & (F.coalesce(F.length("product_category") <= 50, F.lit(True)))
        & (F.coalesce(F.length("region") <= 50, F.lit(True)))
        & (F.coalesce(F.length("customer_status") <= 20, F.lit(True)))
    )


def ingest_bronze(df: DataFrame, path: str | None = None) -> tuple[DataFrame, IngestReport]:
    """Filter invalid rows, optionally persist bronze, report counts.

    One pass over ``df`` either way: the same validity predicate drives
    the filter and the conditional count, so the report is value-identical
    to counting loaded and rejected rows separately.

    With a ``path`` the counts are an ``Observation`` on the frame being
    written, so the write is the only action, and the returned bronze is
    the table read back from ``path``: later layers scan the written files
    instead of evaluating ``df`` again, and ``loaded`` is by construction
    the number of rows written, even for a nondeterministic source.

    With no path the counts are one aggregate over ``df`` and the returned
    bronze is the lazy filtered ``df``; each later action evaluates ``df``
    again, so ``loaded`` matches what those actions see only for a
    deterministic source (the generated one is)."""
    ok_rows = validity_predicate()
    counts = (
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(ok_rows, F.lit(1))).alias("loaded"),
    )
    if path is None:
        row = df.agg(*counts).first()
        ok = df.filter(ok_rows)
    else:
        observed, observed_counts = observe_counts(df, *counts)
        observed.filter(ok_rows).write.mode("overwrite").parquet(path)
        row = observed_counts()
        ok = df.sparkSession.read.schema(df.schema).parquet(path)
    return ok, IngestReport(loaded=row["loaded"], rejected=row["total"] - row["loaded"])
