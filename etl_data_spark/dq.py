"""Declarative data-quality check framework.

Reimplements ``fn_dq_checks_load`` (reference: sql/dds/s_sql_dds/function/
fn_dq_checks_load.sql:1-198) as a generic check runner: a list of CheckSpec
objects, each computing an (expected, actual) pair from DataFrames and
judging it against a threshold. Per-check error isolation (the reference
wraps each check in BEGIN/EXCEPTION, fn_dq_checks_load.sql:48-54) becomes a
try/except around each check's Spark actions, emitting an ``error`` row
instead of aborting the run.

The five reference checks + summary are provided as ``reference_checks``;
users can register arbitrary additional checks — the runner is the engine's
general assertion surface (Spark has no CHECK constraints).

``reference_checks`` folds the aggregates of DQ1-DQ3 and DQ5 into one
shared action (the silver sum cross-joined with one aggregate over the
fact), run by the first check that reads it; DQ4 keeps its own ``groupBy``.
Isolation still holds per check: when the shared action raises, every check
that reads it gets its own ``error`` row carrying that error, and the
action is not run again. Small read-back silver and fact
(``io.writers.one_task_if_small``) are aggregated in one task, so neither
action shuffles. The results frame is built from literals, so the runner
starts no Python worker.
"""

from __future__ import annotations

import datetime as dt
import decimal
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_spark.cleanse import date_window_filter
from etl_data_spark.io.writers import one_task_if_small
from etl_data_spark.schemas import DQ_RESULT_SCHEMA

PASSED, FAILED, ERROR = "passed", "failed", "error"


@dataclass
class CheckResult:
    check_id: int
    check_type: str
    table_name: str | None
    column_name: str | None
    check_name: str
    execution_date: dt.datetime
    status: str
    expected_value: decimal.Decimal | None
    actual_value: decimal.Decimal | None
    error_threshold: decimal.Decimal | None
    error_message: str | None


@dataclass
class CheckSpec:
    """One named data-quality check.

    ``compute`` returns (expected, actual); ``judge`` maps them to pass/fail.
    """

    check_type: str
    check_name: str
    compute: Callable[[], tuple[float | None, float | None]]
    judge: Callable[[float | None, float | None], bool]
    table_name: str | None = None
    column_name: str | None = None
    threshold: float | None = None
    pass_message: str = "Check passed"
    fail_message: str = "Check failed"


def _dec(x: float | None) -> decimal.Decimal | None:
    if x is None:
        return None
    return decimal.Decimal(str(round(float(x), 4)))


def run_checks(
    spark: SparkSession,
    checks: list[CheckSpec],
    execution_date: dt.datetime | None = None,
) -> DataFrame:
    """Execute all checks with per-check error isolation; emit results table.

    Always appends the trailing ``summary`` row (fn_dq_checks_load.sql:
    190-195): passed iff zero failures, message
    ``Total: n, Passed: p, Failed: f``.
    """
    now = execution_date or dt.datetime.now()
    results: list[CheckResult] = []
    n_passed = n_failed = 0

    for i, spec in enumerate(checks, start=1):
        try:
            expected, actual = spec.compute()
            ok = spec.judge(expected, actual)
            if ok:
                n_passed += 1
            else:
                n_failed += 1
            results.append(
                CheckResult(
                    check_id=i,
                    check_type=spec.check_type,
                    table_name=spec.table_name,
                    column_name=spec.column_name,
                    check_name=spec.check_name,
                    execution_date=now,
                    status=PASSED if ok else FAILED,
                    expected_value=_dec(expected),
                    actual_value=_dec(actual),
                    error_threshold=_dec(spec.threshold),
                    error_message=spec.pass_message if ok else spec.fail_message,
                )
            )
        except Exception as exc:  # per-check isolation, like BEGIN/EXCEPTION
            n_failed += 1
            results.append(
                CheckResult(
                    check_id=i,
                    check_type=spec.check_type,
                    table_name=spec.table_name,
                    column_name=spec.column_name,
                    check_name=spec.check_name,
                    execution_date=now,
                    status=ERROR,
                    expected_value=None,
                    actual_value=None,
                    error_threshold=_dec(spec.threshold),
                    error_message=f"Error: {exc}"[:500],
                )
            )

    total = len(checks)
    results.append(
        CheckResult(
            check_id=total + 1,
            check_type="summary",
            table_name=checks[0].table_name if checks else None,
            column_name=None,
            check_name="Overall DQ check",
            execution_date=now,
            status=PASSED if n_failed == 0 else FAILED,
            expected_value=_dec(total),
            actual_value=_dec(n_passed),
            error_threshold=None,
            error_message=f"Total: {total}, Passed: {n_passed}, Failed: {n_failed}",
        )
    )
    return _literal_frame(spark, results)


def _literal_frame(spark: SparkSession, results: list[CheckResult]) -> DataFrame:
    """``results`` as a frame of exactly ``DQ_RESULT_SCHEMA``, built from
    literals (``inline`` over an array of structs on a one-row range): a
    JVM-only plan, so neither building nor writing it starts a Python
    worker."""
    structs = [
        F.struct(
            *[
                F.lit(getattr(r, f.name)).cast(f.dataType).alias(f.name)
                for f in DQ_RESULT_SCHEMA.fields
            ]
        )
        for r in results
    ]
    # the cast pins each field's nullability to the declared schema
    rows = F.array(*structs).cast(T.ArrayType(DQ_RESULT_SCHEMA, containsNull=False))
    return spark.range(1, numPartitions=1).select(F.inline(rows))


# --- the five reference checks ------------------------------------------------


def _once(action: Callable[[], Row]) -> Callable[[], Row]:
    """``action`` run at most once: later calls return its row, or raise
    the error it raised, so each check reading a failed scan gets its own
    ``error`` row without running the scan again."""
    outcome: list[tuple[Row | None, Exception | None]] = []

    def get() -> Row:
        if not outcome:
            try:
                outcome.append((action(), None))
            except Exception as exc:
                outcome.append((None, exc))
        row, exc = outcome[0]
        if exc is not None:
            raise exc
        return row

    return get


def reference_checks(
    silver: DataFrame,
    fact: DataFrame,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> list[CheckSpec]:
    """DQ1-DQ5 from fn_dq_checks_load.sql:19-188, windowed like the source."""
    # small read-back tables aggregate in one task, with no exchange
    s = one_task_if_small(date_window_filter(silver, start_date, end_date))
    f_ = one_task_if_small(date_window_filter(fact, start_date, end_date))

    def scan() -> Row:
        # every aggregate of DQ1-DQ3 and DQ5 in one action: silver's sum
        # cross-joined with one aggregate over the fact
        zero = F.lit(0)
        exp = s.agg(F.coalesce(F.sum("purchase_amount"), zero).alias("exp"))
        act = f_.agg(
            F.coalesce(F.sum("purchase_amount"), zero).alias("act"),
            F.count(F.when(F.col("customer_id").isNull(), 1)).alias("nulls"),
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("effective_to") < F.col("effective_from"), 1)).alias(
                "bad_dates"
            ),
            F.count(
                F.when((F.col("salary") < 0) | (F.col("salary") > 1000000), 1)
            ).alias("bad_salary"),
        )
        return exp.crossJoin(act).first()

    shared = _once(scan)

    def sums() -> tuple[float, float]:
        row = shared()
        return float(row["exp"]), float(row["act"])

    def null_rate() -> tuple[None, float | None]:
        row = shared()
        rate = None if row["total"] == 0 else row["nulls"] * 100.0 / row["total"]
        return None, rate

    def bad_dates() -> tuple[None, float]:
        return None, float(shared()["bad_dates"])

    def dup_groups() -> tuple[None, float]:
        return None, float(
            f_.groupBy("fact_id", "customer_id", "effective_from")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    def bad_salary() -> tuple[None, float]:
        return None, float(shared()["bad_salary"])

    return [
        CheckSpec(
            check_type="correctness",
            table_name="v_dm_task",
            check_name="Purchase amount sum comparison",
            compute=sums,
            # ABS(exp-act)/NULLIF(exp,0) <= 0.01; NULL comparison -> not passed
            judge=lambda e, a: e != 0 and abs(e - a) / e <= 0.01,
            threshold=0.01,
            pass_message="Sum difference within acceptable range",
            fail_message="Sum difference exceeds threshold",
        ),
        CheckSpec(
            check_type="completeness",
            table_name="v_dm_task",
            column_name="customer_id",
            check_name="Null values percentage",
            compute=null_rate,
            judge=lambda e, a: (a or 0) <= 5,
            threshold=5,
            pass_message="Null values within acceptable range",
            fail_message="Too many null values",
        ),
        CheckSpec(
            check_type="consistency",
            table_name="v_dm_task",
            check_name="Date range validation",
            compute=bad_dates,
            judge=lambda e, a: a == 0,
            threshold=0,
            pass_message="All date ranges are valid",
            fail_message="Found invalid date ranges",
        ),
        CheckSpec(
            check_type="uniqueness",
            table_name="v_dm_task",
            check_name="Duplicate records check",
            compute=dup_groups,
            judge=lambda e, a: a == 0,
            threshold=0,
            pass_message="No duplicate records found",
            fail_message="Found duplicate records",
        ),
        CheckSpec(
            check_type="validity",
            table_name="v_dm_task",
            column_name="salary",
            check_name="Salary range validation",
            compute=bad_salary,
            judge=lambda e, a: a == 0,
            threshold=0,
            pass_message="All salary values are valid",
            fail_message="Found invalid salary values",
        ),
    ]


def run_reference_dq(
    spark: SparkSession,
    silver: DataFrame,
    fact: DataFrame,
    start_date: dt.date | str | None = None,
    end_date: dt.date | str | None = None,
) -> DataFrame:
    return run_checks(spark, reference_checks(silver, fact, start_date, end_date))


def run_expectations(df, expectations, unique_cols=()):
    """Config-driven expectations suite in ONE scan.

    ``expectations`` is a list of (name, violation_condition Column);
    every violation count is a conditional sum inside a single
    grouping-less aggregate, so adding a check costs one expression, not
    one pass — at 100 TB the whole suite is one partial-agg reduction.
    ``unique_cols`` adds COUNT(*) - COUNT(DISTINCT col) uniqueness checks
    (multi-distinct rides the same one-scan Expand the profiler uses).
    Returns (expectation, n_violations) rows.
    """
    from pyspark.sql import functions as F

    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).alias(f"e_{i}")
        for i, (_, cond) in enumerate(expectations)
    ]
    for j, col in enumerate(unique_cols):
        aggs.append(
            (F.count(col) - F.countDistinct(col)).alias(f"u_{j}")
        )
    row = df.agg(*aggs)
    names = [n for n, _ in expectations] + [
        f"unique:{c}" for c in unique_cols
    ]
    cols = [f"e_{i}" for i in range(len(expectations))] + [
        f"u_{j}" for j in range(len(unique_cols))
    ]
    stack = ", ".join(
        f"'{n}', {c}" for n, c in zip(names, cols)
    )
    return row.selectExpr(
        f"stack({len(names)}, {stack}) AS (expectation, n_violations)"
    )
