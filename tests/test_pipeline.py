"""Pipeline tests mirroring the reference's strategy (SURVEY §5):
post-condition data-quality assertions on every layer, determinism of the
generator, idempotent windowed reloads, DQ framework output shape.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_data_spark.cleanse import cleanse, date_window_filter
from etl_data_spark.dq import run_reference_dq
from etl_data_spark.generate import generate_source
from etl_data_spark.io.writers import overwrite_by_window
from etl_data_spark.pipeline import run_pipeline
from etl_data_spark.star import build_star


@pytest.fixture(scope="module")
def bronze(spark):
    return generate_source(spark, rows=1000, seed=42).cache()


@pytest.fixture(scope="module")
def silver(bronze):
    return cleanse(bronze, "2023-01-01", "2023-12-31").cache()


def test_generator_deterministic(spark, bronze):
    again = generate_source(spark, rows=1000, seed=42)
    a = sorted(map(tuple, bronze.drop("loaded_at").collect()))
    b = sorted(map(tuple, again.drop("loaded_at").collect()))
    assert a == b


def test_generator_partition_independent(spark):
    one = generate_source(spark, rows=500, seed=7, num_partitions=1)
    many = generate_source(spark, rows=500, seed=7, num_partitions=13)
    assert sorted(map(tuple, one.drop("loaded_at").collect())) == sorted(
        map(tuple, many.drop("loaded_at").collect())
    )


def test_generator_has_anomalies(bronze):
    n = bronze.count()
    assert n > 1000  # duplicates appended
    assert bronze.filter(F.col("salary") < 0).count() > 0
    assert bronze.filter(F.col("age").isNull()).count() > 0
    assert bronze.filter(F.col("effective_to") < F.col("effective_from")).count() > 0
    assert bronze.filter(F.col("product_category") == "Invalid_Category").count() > 0


def test_silver_postconditions(silver):
    """The reference's own correctness spec (test_etl.py:105-131)."""
    assert silver.filter(F.col("salary") < 0).count() == 0
    assert silver.filter((F.col("age") < 18) | (F.col("age") > 100)).count() == 0
    assert silver.filter(F.col("age").isNull()).count() == 0
    assert silver.filter(F.col("effective_to") < F.col("effective_from")).count() == 0
    assert silver.filter(F.col("user_id").isNull()).count() == 0
    assert silver.filter(
        (F.col("purchase_amount") < 0) | (F.col("purchase_amount") > 100000)
    ).count() == 0
    cats = {r[0] for r in silver.select("product_category").distinct().collect()}
    assert cats <= {"Electronics", "Clothing", "Books", "Home", "Sports", "Other"}
    stats = {r[0] for r in silver.select("customer_status").distinct().collect()}
    assert all(s == s.lower() for s in stats)


def test_silver_window_gate_uses_raw_dates(spark):
    """Rows whose RAW dates fall outside the window are excluded even if the
    repaired dates would fall inside (01_init_all.sql:132-134 semantics)."""
    rows = [
        # raw effective_from 2019 -> repaired to 2023, but raw is < start: drop
        (1, "u1", "U1", 30, 100.0, 50.0, "Books", "North", "active", 5,
         dt.date(2019, 6, 1), dt.date(2023, 6, 1), True),
        # in-window row: kept
        (2, "u2", "U2", 30, 100.0, 50.0, "Books", "North", "active", 5,
         dt.date(2023, 2, 1), dt.date(2023, 6, 1), True),
    ]
    cols = ["id", "user_id", "user_name", "age", "salary", "purchase_amount",
            "product_category", "region", "customer_status", "transaction_count",
            "effective_from", "effective_to", "current_flag"]
    df = spark.createDataFrame(rows, cols)
    out = cleanse(df, "2023-01-01", "2023-12-31")
    assert [r["id"] for r in out.collect()] == [2]


def test_effective_to_repair_reads_raw_from(spark):
    """effective_to < RAW effective_from -> raw_from + 30d, even when
    effective_from itself is being repaired (P8 evaluation-order subtlety)."""
    rows = [(1, "u1", "U1", 30, 100.0, 50.0, "Books", "North", "active", 5,
             dt.date(2023, 5, 10), dt.date(2023, 5, 1), True)]
    cols = ["id", "user_id", "user_name", "age", "salary", "purchase_amount",
            "product_category", "region", "customer_status", "transaction_count",
            "effective_from", "effective_to", "current_flag"]
    out = cleanse(spark.createDataFrame(rows, cols), None, None).first()
    assert out["effective_to"] == dt.date(2023, 6, 9)  # raw_from + 30 days


def test_star_schema(spark, silver):
    star = build_star(silver)
    assert star.dims["dim_product"].count() <= 6
    assert star.dims["dim_region"].count() <= 5
    assert star.dims["dim_status"].count() <= 4
    assert star.dims["dim_customer"].count() <= 100
    fact = star.fact
    assert fact.count() == silver.count()
    # surrogate resolution: every fact row resolves all four dims (silver
    # guarantees non-null natural keys)
    for c in ["customer_id", "product_id", "region_id", "status_id"]:
        assert fact.filter(F.col(c).isNull()).count() == 0
    # fact_id unique
    assert fact.select("fact_id").distinct().count() == fact.count()


def test_fact_scale_mode_has_no_global_sort(spark, silver):
    """Fact-id assignment must be shuffle-free: no single-partition global
    Window sort in the fact build's physical plan. Dims are materialized
    first so their own tiny row_number windows don't appear in the
    inspected plan."""
    from etl_data_spark.star import build_dims, build_fact

    dims = {
        name: spark.createDataFrame(built.collect(), built.schema)
        for name, built in build_dims(silver).items()
    }

    fact = build_fact(silver, dims)
    p = fact._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" in p
    assert "Window" not in p and "SinglePartition" not in p


def test_fact_ids_unique_across_incremental_loads(spark, silver):
    """Scale-mode ids must not collide when a second load appends with the
    max-existing offset (monotonically_increasing_id starts at 0)."""
    star1 = build_star(silver)
    star2 = build_star(silver, existing=star1)
    total = star2.fact.count()
    assert star2.fact.select("fact_id").distinct().count() == total


def test_dim_upsert_idempotent(spark, silver):
    star1 = build_star(silver)
    star2 = build_star(silver, existing=star1)
    for name in star1.dims:
        assert star2.dims[name].count() == star1.dims[name].count()
        ids = star2.dims[name].select(star2.dims[name].columns[0]).collect()
        assert len({r[0] for r in ids}) == len(ids)


def test_dq_all_pass(spark, silver):
    star = build_star(silver)
    res = run_reference_dq(spark, silver, star.fact)
    rows = {r["check_type"]: r["status"] for r in res.collect()}
    assert rows == {
        "correctness": "passed",
        "completeness": "passed",
        "consistency": "passed",
        "uniqueness": "passed",
        "validity": "passed",
        "summary": "passed",
    }


def test_dq_detects_violations(spark, silver):
    bad = silver.withColumn(
        "salary", F.when(F.col("id") % 10 == 0, -5).otherwise(F.col("salary"))
    )
    star = build_star(bad)
    res = run_reference_dq(spark, bad, star.fact)
    status = {r["check_type"]: r["status"] for r in res.collect()}
    assert status["validity"] == "failed"
    assert status["summary"] == "failed"


def test_overwrite_by_window(spark, silver, tmp_path):
    path = str(tmp_path / "t")
    n1 = overwrite_by_window(spark, silver, path, "2023-01-01", "2023-12-31")
    n2 = overwrite_by_window(spark, silver, path, "2023-01-01", "2023-12-31")
    assert n1 == n2
    stored = spark.read.parquet(path)
    assert stored.count() == silver.count()  # idempotent reload, no dup rows


def test_overwrite_by_window_keeps_null_date_rows(spark, tmp_path):
    """Rows with NULL effective dates sit outside every window: the
    reference DELETE's window predicate never matches them, so a windowed
    reload must keep them (for every bound combination)."""
    path = str(tmp_path / "t_null")
    schema = "k int, effective_from date, effective_to date"
    existing = spark.createDataFrame(
        [
            (1, dt.date(2023, 2, 1), dt.date(2023, 2, 10)),  # inside window
            (2, dt.date(2022, 1, 1), dt.date(2022, 1, 5)),  # outside window
            (3, None, dt.date(2023, 2, 10)),  # NULL from
            (4, dt.date(2023, 2, 1), None),  # NULL to
            (5, None, None),  # NULL both
        ],
        schema,
    )
    new = spark.createDataFrame([(10, dt.date(2023, 2, 2), dt.date(2023, 2, 3))], schema)

    # replaced set per bound combination, from the reference predicate
    # (start IS NULL OR eff_from >= start) AND (end IS NULL OR eff_to <= end):
    # a NULL date never satisfies a PRESENT bound, and an absent bound
    # drops its conjunct entirely.
    cases = [
        (("2023-01-01", "2023-12-31"), {1}),
        (("2023-01-01", None), {1, 4}),  # eff_to unconstrained
        ((None, "2023-12-31"), {1, 2, 3}),  # eff_from unconstrained
    ]
    for (start, end), replaced in cases:
        overwrite_by_window(spark, existing, path, None, None)  # reset
        overwrite_by_window(spark, new, path, start, end)
        kept = {r["k"] for r in spark.read.parquet(path).collect()}
        expected = ({1, 2, 3, 4, 5} - replaced) | {10}
        assert kept == expected, (start, end, kept)


def test_cleanse_to_copy_shadow_fixture(spark, bronze, silver, tmp_path):
    """Reference shadow-copy parity (01_init_all.sql:41-57,143-166 FOR
    AUTOTESTS): same transform, separate sink; the copy table's contents
    equal the silver output and the returned count matches."""
    from etl_data_spark.cleanse import cleanse_to_copy

    path = str(tmp_path / "structured_copy")
    n = cleanse_to_copy(spark, bronze, path, "2023-01-01", "2023-12-31")
    copy = spark.read.parquet(path)
    assert n == copy.count() == silver.count()
    drop = ["processed_at"]  # audit timestamp differs per run by design
    a = sorted(map(tuple, copy.drop(*drop).collect()))
    b = sorted(map(tuple, silver.drop(*drop).collect()))
    assert a == b
    # post-conditions hold on the copy (reference test_etl.py:80-103 spirit)
    assert copy.filter(F.col("salary") < 0).count() == 0
    assert copy.filter(F.col("effective_to") < F.col("effective_from")).count() == 0


def test_cli_smoke(tmp_path):
    """python -m etl_data_spark runs end-to-end and reports all-passed DQ."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "etl_data_spark",
            "--skip-export",
            "--rows",
            "300",
            "--warehouse",
            str(tmp_path / "wh"),
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "silver rows:" in proc.stdout
    assert "'summary': 'passed'" in proc.stdout


def test_full_pipeline(spark, tmp_path):
    res = run_pipeline(spark, rows=500, warehouse=str(tmp_path / "wh"))
    assert res.silver_count > 0
    assert res.exported_count == res.star.fact.count()
    assert res.dq_results.filter(F.col("status") != "passed").count() == 0


def test_date_window_filter_none_bounds(spark, silver):
    assert date_window_filter(silver, None, None).count() == silver.count()


def _month_files(root):
    """(relative path, size, mtime) for every data file under each
    part_month= dir — the byte-identity fingerprint for untouched months."""
    from pathlib import Path

    out = {}
    for d in Path(root).iterdir():
        if d.is_dir() and d.name.startswith("part_month="):
            out[d.name] = sorted(
                (str(p.relative_to(d)), p.stat().st_size, p.stat().st_mtime_ns)
                for p in d.rglob("*")
                if p.is_file()
            )
    return out


def test_overwrite_by_window_untouched_months_byte_identical(spark, tmp_path):
    """A windowed reload must not rewrite months outside the window: their
    data files keep identity (same listing, sizes, mtimes). This is the
    partition-scoped contract — at 100 TB a monthly load touches O(window),
    not the table (VERDICT r10 #1)."""
    path = str(tmp_path / "t_scoped")
    schema = "k int, effective_from date, effective_to date"
    rows = [
        (i, dt.date(2023, m, 5), dt.date(2023, m, 25))
        for m in range(1, 7)
        for i in range(m * 100, m * 100 + 10)
    ]
    existing = spark.createDataFrame(rows, schema)
    overwrite_by_window(spark, existing, path, None, None)

    before = _month_files(path)
    assert set(before) == {f"part_month=2023{m:02d}" for m in range(1, 7)}

    # reload March only
    new = spark.createDataFrame(
        [(999, dt.date(2023, 3, 10), dt.date(2023, 3, 11))], schema
    )
    n = overwrite_by_window(spark, new, path, "2023-03-01", "2023-03-31")
    assert n == 1

    after = _month_files(path)
    # every month except March: byte-identical file listing
    for m in (1, 2, 4, 5, 6):
        key = f"part_month=2023{m:02d}"
        assert after[key] == before[key], f"month {key} was rewritten"
    # March: replaced (old rows gone, new row present)
    stored = spark.read.parquet(path)
    march = {r["k"] for r in stored.filter(F.col("part_month") == 202303).collect()}
    assert march == {999}
    assert stored.count() == 51  # 5 months x 10 + 1


def test_overwrite_by_window_drops_emptied_month(spark, tmp_path):
    """A month whose rows are all replaced and that receives no new rows
    must disappear — dynamic-overwrite semantics, not append-only."""
    path = str(tmp_path / "t_empty_month")
    schema = "k int, effective_from date, effective_to date"
    existing = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 5), dt.date(2023, 1, 6)),
            (2, dt.date(2023, 2, 5), dt.date(2023, 2, 6)),
        ],
        schema,
    )
    overwrite_by_window(spark, existing, path, None, None)
    # window covers January; the batch lands in February
    new = spark.createDataFrame(
        [(3, dt.date(2023, 2, 7), dt.date(2023, 2, 8))], schema
    )
    overwrite_by_window(spark, new, path, "2023-01-01", "2023-01-31")
    stored = spark.read.parquet(path)
    assert {r["k"] for r in stored.collect()} == {2, 3}
    from pathlib import Path

    assert not (Path(path) / "part_month=202301").exists()


def test_overwrite_by_window_recovers_crashed_swap(spark, tmp_path):
    """r11 crash-safety: a reload killed between the two swap renames
    leaves a month only at its trash name; the next reload must RESTORE
    it before discovery (its kept rows exist nowhere else), and must
    clean up a post-rename-in trash leftover without touching the live
    month. Covers both the r12 dot-prefixed trash name (dot, not
    underscore: Spark hides dot-prefixed dirs, but parses an
    underscore-prefixed name containing '=' as a partition column —
    _month_trash_name's design note) and the legacy bare one (a table
    last written by an older build)."""
    from pathlib import Path

    path = str(tmp_path / "t_crash")
    schema = "k int, effective_from date, effective_to date"
    existing = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 5), dt.date(2023, 1, 6)),
            (2, dt.date(2023, 2, 5), dt.date(2023, 2, 6)),
            (3, dt.date(2023, 3, 5), dt.date(2023, 3, 6)),
            (4, dt.date(2023, 4, 5), dt.date(2023, 4, 6)),
        ],
        schema,
    )
    overwrite_by_window(spark, existing, path, None, None)

    # crash case A: month 2023-02 renamed out, never renamed back in
    feb = Path(path) / "part_month=202302"
    feb.rename(Path(path) / ".part_month=202302__replaced")
    # crash case B: month 2023-03 swapped in, trash not yet deleted
    import shutil

    shutil.copytree(
        Path(path) / "part_month=202303",
        Path(path) / ".part_month=202303__replaced",
    )
    # crash case C: legacy (pre-r12) bare trash name, live twin missing
    apr = Path(path) / "part_month=202304"
    apr.rename(Path(path) / "part_month=202304__replaced")

    new = spark.createDataFrame(
        [(10, dt.date(2023, 1, 7), dt.date(2023, 1, 8))], schema
    )
    overwrite_by_window(spark, new, path, "2023-01-01", "2023-01-31")

    kept = {r["k"] for r in spark.read.parquet(path).collect()}
    assert kept == {2, 3, 4, 10}  # Feb+Apr restored, Mar intact, Jan replaced
    assert not (Path(path) / ".part_month=202302__replaced").exists()
    assert not (Path(path) / ".part_month=202303__replaced").exists()
    assert not (Path(path) / "part_month=202304__replaced").exists()


def test_mid_swap_trash_is_invisible_to_plain_readers(spark, tmp_path):
    """ADVICE r11 (medium): a reader that lists the table BETWEEN a crash
    and the next reload's recovery must not discover the trash dir as a
    partition — the dot prefix makes Spark's file index skip it,
    so the month is neither double-counted nor does the inferred
    part_month type flip to string."""
    from pathlib import Path
    import shutil

    path = str(tmp_path / "t_mid_swap")
    schema = "k int, effective_from date, effective_to date"
    df = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 5), dt.date(2023, 1, 6)),
            (2, dt.date(2023, 2, 5), dt.date(2023, 2, 6)),
        ],
        schema,
    )
    overwrite_by_window(spark, df, path, None, None)
    # simulate the instant after rename-in, before trash delete: the
    # month exists BOTH live and at its trash name
    shutil.copytree(
        Path(path) / "part_month=202302",
        Path(path) / ".part_month=202302__replaced",
    )
    seen = spark.read.parquet(path)
    assert seen.count() == 2  # not 3: the trash replica is invisible
    assert dict(seen.dtypes)["part_month"] == "int"  # type did not flip


def test_overwrite_by_window_end_only_discovery_prunes(spark, tmp_path):
    """r11 verdict nit #1: an end-only window must still partition-prune
    the discovery scan — eff_to <= end implies month_key <= yyyymm(end)
    under the mart invariant effective_from <= effective_to. Months after
    the window's end must keep byte-identical file listings AND never be
    listed by the discovery scan's pruned plan."""
    path = str(tmp_path / "t_end_only")
    schema = "k int, effective_from date, effective_to date"
    rows = [
        (i, dt.date(2023, m, 5), dt.date(2023, m, 25))
        for m in range(1, 7)
        for i in range(m * 100, m * 100 + 5)
    ]
    overwrite_by_window(spark, spark.createDataFrame(rows, schema), path, None, None)
    before = _month_files(path)

    new = spark.createDataFrame(
        [(999, dt.date(2023, 2, 10), dt.date(2023, 2, 11))], schema
    )
    # end-only window: everything ending by Feb 28 is replaced
    n = overwrite_by_window(spark, new, path, None, "2023-02-28")
    assert n == 1
    after = _month_files(path)
    for m in (3, 4, 5, 6):
        key = f"part_month=2023{m:02d}"
        assert after[key] == before[key], f"month {key} was rewritten"
    stored = spark.read.parquet(path)
    assert stored.count() == 21  # 4 months x 5 + 1
    assert {
        r["k"] for r in stored.filter(F.col("part_month") <= 202302).collect()
    } == {999}


def test_compact_small_files_recovers_crashed_swap(spark, tmp_path):
    """r11 crash-safety: a compact killed between its two renames leaves
    the whole table only at the __pre_compact trash name; the next
    compact must restore it before reading."""
    from pathlib import Path

    from etl_data_spark.io.writers import compact_small_files

    path = str(tmp_path / "t_compact_crash")
    schema = "k int, effective_from date, effective_to date"
    df = spark.createDataFrame(
        [(i, dt.date(2023, 1 + i % 3, 5), dt.date(2023, 1 + i % 3, 6)) for i in range(30)],
        schema,
    )
    overwrite_by_window(spark, df, path, None, None)
    n = spark.read.parquet(path).count()

    Path(path).rename(Path(path + "__pre_compact"))  # crash mid-swap
    n_files = compact_small_files(spark, path)
    assert n_files >= 1
    assert spark.read.parquet(path).count() == n
    assert not Path(path + "__pre_compact").exists()


def test_rewrite_first_publish(spark, tmp_path):
    """A rewrite of a directory that does not exist yet publishes the
    built directory, with no staging or trash directory left behind."""
    from pathlib import Path

    from etl_data_spark.io.writers import rewrite

    path = str(tmp_path / "t_first")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = rewrite(spark, path, "first", lambda tmp: df.write.parquet(tmp) or "built")
    assert out == "built"
    stored = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert stored == [(1, "a"), (2, "b")]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t_first"]


def test_overwrite_by_window_after_crashed_first_write(spark, tmp_path):
    """A first export killed mid-write leaves the target holding only
    ``_temporary/0``; with no live month directory it is a fresh table, so
    the next export writes it instead of failing to read a schema."""
    from pathlib import Path

    path = tmp_path / "t_wedged"
    (path / "_temporary" / "0").mkdir(parents=True)
    schema = "k int, effective_from date, effective_to date"
    rows = spark.createDataFrame(
        [
            (1, dt.date(2023, 1, 5), dt.date(2023, 1, 6)),
            (2, dt.date(2023, 2, 5), dt.date(2023, 2, 6)),
        ],
        schema,
    )
    n = overwrite_by_window(spark, rows, str(path), "2023-01-01", "2023-12-31")
    assert n == 2
    assert {r["k"] for r in spark.read.parquet(str(path)).collect()} == {1, 2}
    assert not (Path(path) / "_temporary").exists()


def test_overwrite_by_window_fresh_empty_batch(spark, tmp_path):
    """The fresh-table branch counts the batch with an Observation on the
    write; an empty batch still reports 0."""
    schema = "k int, effective_from date, effective_to date"
    empty = spark.createDataFrame([], schema)
    path = str(tmp_path / "t_empty")
    assert overwrite_by_window(spark, empty, path, "2023-01-01", "2023-12-31") == 0
    assert overwrite_by_window(spark, empty, path, None, None) == 0


def test_pipeline_job_budget(spark, tmp_path):
    """A warehouse run evaluates each layer once: counts ride the writes,
    later layers read what was written, DQ folds its aggregates, the fact
    and mart writes run map-only, and the small silver write, dims and DQ
    run in one task each, with no shuffle; the bound is the count measured
    in a cold and a warm session. The counts it reports still equal
    separate counts of its inputs and outputs."""
    from etl_data_spark.ingest import validity_predicate

    wh = tmp_path / "wh"
    sc = spark.sparkContext
    group = f"job-budget-{tmp_path.name}"
    sc.setJobGroup(group, "run_pipeline job budget")
    try:
        res = run_pipeline(spark, rows=300, seed=7, warehouse=str(wh))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 16, len(jobs)

    src = generate_source(spark, rows=300, seed=7).agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(validity_predicate(), 1)).alias("loaded"),
    ).first()
    report = res.ingest_report
    assert report.loaded + report.rejected == src["total"]
    assert report.loaded == src["loaded"]
    assert res.silver_count == spark.read.parquet(str(wh / "silver")).count() > 0
    assert res.exported_count == res.silver_count


def _resolved_mart(spark, wh):
    """fact_id -> the four natural keys, for the Jan-Aug 2023 mart rows,
    resolved through the stored dims."""
    from etl_data_spark.star import DIM_SPECS

    mart = spark.read.parquet(str(wh / "mart_task"))
    for name, id_col, key_col, _ in DIM_SPECS:
        dim = spark.read.parquet(str(wh / name)).select(id_col, key_col)
        mart = mart.join(dim, id_col, "left")
    keys = [key_col for _, _, key_col, _ in DIM_SPECS]
    early = mart.filter(F.col("effective_from") < "2023-09-01")
    return {r["fact_id"]: tuple(r[k] for k in keys) for r in early.collect()}


def _stored_dims(spark, wh):
    from etl_data_spark.star import DIM_SPECS

    return {
        name: {
            tuple(r)
            for r in spark.read.parquet(str(wh / name)).select(id_col, key_col).collect()
        }
        for name, id_col, key_col, _ in DIM_SPECS
    }


def test_pipeline_reload_keeps_the_star_stable(spark, tmp_path):
    """A windowed reload into a stored warehouse upserts the dims, as the
    reference's ON CONFLICT DO NOTHING does: stored ids never change, so
    every mart row outside the window still resolves to its natural keys,
    and the fact keeps its months outside the window. A rerun of the same
    window changes nothing."""
    wh = tmp_path / "wh"
    window = dict(start_date="2023-09-01", end_date="2023-10-31")
    run_pipeline(spark, rows=600, seed=1, warehouse=str(wh))
    mart1, dims1 = _resolved_mart(spark, wh), _stored_dims(spark, wh)
    assert mart1 and all(None not in keys for keys in mart1.values())

    run_pipeline(spark, rows=150, seed=2, warehouse=str(wh), **window)
    assert _resolved_mart(spark, wh) == mart1
    dims2 = _stored_dims(spark, wh)
    for name, stored in dims1.items():
        assert stored <= dims2[name], name
        assert len({i for i, _ in dims2[name]}) == len(dims2[name]), name
    fact = spark.read.parquet(str(wh / "fact_task"))
    months = {r[0] for r in fact.select("part_month").distinct().collect()}
    assert set(range(202301, 202309)) <= months
    n_fact = fact.count()

    run_pipeline(spark, rows=150, seed=2, warehouse=str(wh), **window)
    assert _stored_dims(spark, wh) == dims2
    fact = spark.read.parquet(str(wh / "fact_task"))
    assert fact.count() == n_fact == fact.select("fact_id").distinct().count()
    assert _resolved_mart(spark, wh) == mart1


def _per_check_actions(silver, fact):
    """DQ1-DQ5 each computed by its own actions: the form the folded
    ``reference_checks`` must agree with, value for value."""
    s = date_window_filter(silver, "2023-01-01", "2023-12-31")
    f_ = date_window_filter(fact, "2023-01-01", "2023-12-31")
    exp = s.agg(F.coalesce(F.sum("purchase_amount"), F.lit(0))).first()[0]
    act = f_.agg(F.coalesce(F.sum("purchase_amount"), F.lit(0))).first()[0]
    nulls = f_.agg(
        F.count(F.when(F.col("customer_id").isNull(), 1)).alias("nulls"),
        F.count(F.lit(1)).alias("total"),
    ).first()
    return [
        (float(exp), float(act)),
        (None, None if nulls["total"] == 0 else nulls["nulls"] * 100.0 / nulls["total"]),
        (None, float(f_.filter(F.col("effective_to") < F.col("effective_from")).count())),
        (
            None,
            float(
                f_.groupBy("fact_id", "customer_id", "effective_from")
                .count()
                .filter(F.col("count") > 1)
                .count()
            ),
        ),
        (
            None,
            float(f_.filter((F.col("salary") < 0) | (F.col("salary") > 1000000)).count()),
        ),
    ]


def test_dq_folded_checks_match_per_check_actions(spark, silver):
    from etl_data_spark.dq import reference_checks

    bad = silver.withColumn(
        "salary", F.when(F.col("id") % 10 == 0, -5).otherwise(F.col("salary"))
    )
    fact = build_star(bad).fact.cache()
    try:
        folded = [
            c.compute() for c in reference_checks(bad, fact, "2023-01-01", "2023-12-31")
        ]
        assert folded == _per_check_actions(bad, fact)
        assert folded[4][1] > 0  # the injected salary violations are seen
    finally:
        fact.unpersist()


def test_run_checks_isolates_a_raising_check(spark):
    from etl_data_spark.dq import CheckSpec, run_checks

    def boom():
        raise RuntimeError("source unavailable")

    checks = [
        CheckSpec("correctness", "ok one", lambda: (1.0, 1.0), lambda e, a: e == a),
        CheckSpec("completeness", "raises", boom, lambda e, a: True),
        CheckSpec("validity", "ok two", lambda: (None, 0.0), lambda e, a: a == 0),
    ]
    rows = {r["check_name"]: r for r in run_checks(spark, checks).collect()}
    assert [rows[n]["status"] for n in ("ok one", "raises", "ok two")] == [
        "passed",
        "error",
        "passed",
    ]
    assert "source unavailable" in rows["raises"]["error_message"]
    assert rows["raises"]["expected_value"] is None
    summary = rows["Overall DQ check"]
    assert summary["status"] == "failed"
    assert summary["error_message"] == "Total: 3, Passed: 2, Failed: 1"


def test_dq_shared_scan_error_reaches_every_reader(spark, silver):
    """When the shared DQ action raises, each check that reads it gets
    its own error row; the duplicate check, with its own action, still
    runs."""
    from etl_data_spark.dq import reference_checks, run_checks

    fact = build_star(silver).fact
    broken = silver.drop("purchase_amount")  # the silver sum cannot resolve
    rows = {
        r["check_type"]: r
        for r in run_checks(spark, reference_checks(broken, fact)).collect()
    }
    readers = ["correctness", "completeness", "consistency", "validity"]
    assert [rows[t]["status"] for t in readers] == ["error"] * 4
    assert len({rows[t]["error_message"] for t in readers}) == 1
    assert "purchase_amount" in rows["correctness"]["error_message"]
    assert rows["uniqueness"]["status"] == "passed"
    assert rows["summary"]["error_message"] == "Total: 5, Passed: 1, Failed: 4"


def test_run_checks_plan_is_jvm_only(spark):
    """The results frame is built from literals: its executed plan scans
    no RDD of Python rows, so writing or collecting it starts no Python
    worker, and it carries exactly the declared schema."""
    from etl_data_spark.dq import CheckSpec, run_checks
    from etl_data_spark.schemas import DQ_RESULT_SCHEMA

    checks = [
        CheckSpec("correctness", "sum", lambda: (2.5, 2.5), lambda e, a: e == a,
                  table_name="t", threshold=0.01),
        CheckSpec("validity", "none", lambda: (None, None), lambda e, a: True),
    ]
    when = dt.datetime(2024, 1, 2, 3, 4, 5)
    res = run_checks(spark, checks, execution_date=when)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert res.schema == DQ_RESULT_SCHEMA
    got = sorted(res.collect(), key=lambda r: r["check_id"])
    assert [r["check_id"] for r in got] == [1, 2, 3]
    assert {r["execution_date"] for r in got} == {when}
    assert str(got[0]["expected_value"]) == "2.5000"
    assert str(got[0]["error_threshold"]) == "0.0100"
    assert got[1]["actual_value"] is None
    assert got[2]["error_message"] == "Total: 2, Passed: 2, Failed: 0"
