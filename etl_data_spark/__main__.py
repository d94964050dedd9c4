"""CLI entry point: ``python -m etl_data_spark [--skip-export] ...``.

Mirrors the reference pipeline runner (reference: data-pipeline/src/
main.py:6-39), whose only flag is ``--skip-mysql``: run the full
generate -> bronze -> silver -> star -> DQ flow, optionally export, print
per-stage counts and the DQ report, exit non-zero if any DQ check failed.
"""

from __future__ import annotations

import argparse
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m etl_data_spark",
        description="Run the full ETL pipeline (reference main.py parity).",
    )
    ap.add_argument(
        "--skip-export",
        action="store_true",
        help="skip the mart export stage (reference --skip-mysql)",
    )
    ap.add_argument("--rows", type=int, default=1000, help="rows to generate")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--start-date", default="2023-01-01")
    ap.add_argument("--end-date", default="2023-12-31")
    ap.add_argument(
        "--warehouse",
        default=None,
        help="directory for persisted layers (default: a temp dir); a reused "
        "warehouse is upserted: stored dim ids are kept and the fact and mart "
        "are replaced only inside the date window",
    )
    ap.add_argument("--dashboard", action="store_true", help="print the DQ dashboard")
    args = ap.parse_args(argv)

    from etl_data_spark import get_spark
    from etl_data_spark.pipeline import run_pipeline
    from etl_data_spark.report import render_dashboard

    spark = get_spark(app_name="etl-data-spark-cli")
    warehouse = args.warehouse or tempfile.mkdtemp(prefix="etl_data_spark_wh_")
    try:
        result = run_pipeline(
            spark,
            rows=args.rows,
            seed=args.seed,
            start_date=args.start_date,
            end_date=args.end_date,
            warehouse=warehouse,
            skip_export=args.skip_export,
        )
        print(f"bronze rows loaded:   {result.ingest_report.loaded}")
        print(f"bronze rows rejected: {result.ingest_report.rejected}")
        print(f"silver rows:          {result.silver_count}")
        print(f"fact rows:            {result.star.fact.count()}")
        if result.exported_count is not None:
            print(f"mart rows promoted:   {result.exported_count}")
        statuses = {
            r["check_type"]: r["status"] for r in result.dq_results.collect()
        }
        print(f"dq checks:            {statuses}")
        if args.dashboard:
            print(render_dashboard(result.dq_results))
        return 0 if statuses.get("summary") == "passed" else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
