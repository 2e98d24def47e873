"""Runnable pipeline demo: backfill N days of the events fixture through
the full day-fold pipeline (extract → load_raw → OHLC upsert → indicators →
report → DQ), then print the warehouse state.

Usage: python tools/run_pipeline.py [n_days] [warehouse_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from airflow_crypto_btc_spark.operators.merge import (  # noqa: E402
    dedup_keep_first,
)
from airflow_crypto_btc_spark.pipeline import (  # noqa: E402
    Warehouse,
    run_range,
)
from airflow_crypto_btc_spark.session import get_spark  # noqa: E402
from airflow_crypto_btc_spark.sources.tables import (  # noqa: E402
    load_table,
    sf_dir_from_env,
)


def main() -> None:
    n_days = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    root = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="engine-warehouse-"
    )
    sf_dir = sf_dir_from_env()
    spark = get_spark(app_name="pipeline-demo")
    wh = Warehouse(root)

    days = [f"2024-01-{d:02d}" for d in range(1, n_days + 1)]

    def source_for_day(day):
        ev = load_table(spark, sf_dir, "events")
        return (
            ev.filter(F.to_date("ts") == F.lit(day).cast("date"))
            .select(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                    "ts_utc"
                ),
                F.col("value").alias("price"),
            )
            .transform(lambda d: dedup_keep_first(d, ["ts_utc"], "ts_utc"))
        )

    results = run_range(spark, wh, days, source_for_day, min_day_rows=10)
    for r in results:
        checks = ", ".join(
            f"{c.check}={'ok' if c.passed else 'FAIL'}" for c in r.checks
        )
        print(f"{r.day}: report={r.report_path}  [{checks}]")

    print(f"\nwarehouse: {root}")
    spark.read.parquet(wh.daily_metrics).orderBy("date").show(
        n_days, truncate=False
    )


if __name__ == "__main__":
    main()
