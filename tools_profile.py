#!/usr/bin/env python3
"""Optimization profiler: time named registry entries with the bench's
exact methodology (noop sink, cache cleared, min-of-reps) and dump their
.explain("formatted") plans to plans/<round>/<name>_<tag>.txt.

Usage:
    python tools_profile.py r15 before q1 q2 ...      # tag=before
    python tools_profile.py r15 after  q1 q2 ...      # tag=after
    python tools_profile.py r15 time   q1 q2 ...      # timings only, no plan
    python tools_profile.py r15 decompose q1 q2 ...   # phase split, one run

The round tag (e.g. ``r15``) names the plan directory and the Spark app.
``decompose`` splits one cold run of each entry into fn() construction
(driver-side collects inside the builder), planning and execution (noop
write), with the Spark jobs each of construction and execution started.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_REPS (default 2).
"""

from __future__ import annotations

import os
import sys
import time


def _cold(spark) -> None:
    from etl_data_spark import release_all

    release_all()
    spark.catalog.clearCache()


def _decompose(spark, sf_dir: str, names: list[str]) -> None:
    from etl_data_spark.catalog import REGISTRY

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    print(f"{'query':40s} {'fn_s':>7s} {'plan_s':>7s} {'exec_s':>7s} "
          f"{'fn_jobs':>7s} {'ex_jobs':>7s}")
    for name in names:
        _cold(spark)
        jobs_before = scheduler.nextJobId()
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        jobs_mid = scheduler.nextJobId()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        jobs_after = scheduler.nextJobId()
        print(f"{name:40s} {t1-t0:7.2f} {t2-t1:7.2f} {t3-t2:7.2f} "
              f"{jobs_mid-jobs_before:7d} {jobs_after-jobs_mid:7d}")


def main() -> None:
    round_tag, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    from etl_data_spark import get_spark
    from etl_data_spark.catalog import REGISTRY

    spark = get_spark(app_name=f"profile-{round_tag}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(f"plans/{round_tag}", exist_ok=True)

    # warm up the JVM once, untimed
    REGISTRY[names[0]].fn(spark, sf_dir).count()

    if tag == "decompose":
        _decompose(spark, sf_dir, names)
        return

    best: dict[str, float] = {}
    for _ in range(reps):
        for name in names:
            _cold(spark)
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
            spark.sparkContext.setJobDescription(None)

    if tag in ("before", "after"):
        for name in names:
            _cold(spark)
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"plans/{round_tag}/{name}_{tag}.txt", "w") as f:
                f.write(plan)

    for name in names:
        print(f"{best[name]:8.3f}  {name}")


if __name__ == "__main__":
    sys.exit(main())
