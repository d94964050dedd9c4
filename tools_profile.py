#!/usr/bin/env python3
"""Optimization profiler: time named registry entries with the bench's
exact methodology (noop sink, cache cleared, min-of-reps) and dump their
.explain("formatted") plans to plans/<round>/<name>_<tag>.txt.

Usage:
    python tools_profile.py r15 before q1 q2 ...      # tag=before
    python tools_profile.py r15 after  q1 q2 ...      # tag=after
    python tools_profile.py r15 time   q1 q2 ...      # timings only, no plan

The round tag (e.g. ``r15``) names the plan directory and the Spark app.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_REPS (default 2).
"""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    round_tag, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    from etl_data_spark import get_spark, release_all
    from etl_data_spark.catalog import REGISTRY

    spark = get_spark(app_name=f"profile-{round_tag}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(f"plans/{round_tag}", exist_ok=True)

    # warm up the JVM once, untimed
    REGISTRY[names[0]].fn(spark, sf_dir).count()

    best: dict[str, float] = {}
    for _ in range(reps):
        for name in names:
            release_all()
            spark.catalog.clearCache()
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
            release_all()
            spark.catalog.clearCache()
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
