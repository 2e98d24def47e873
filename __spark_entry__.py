"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (fused daily OHLC + indicators over the
``events`` fixture) at sf0.001; the driver smoke-checks rows ≥ 0.

``queries()`` / ``oracle_sql()`` — one named entry per implemented operator
from SURVEY.md §2 (plus the scale extensions), backed by
``airflow_crypto_btc_spark.plans.registry``.  Column names/aliases are
identical between the Spark plan and the oracle SQL; float determinism is
handled in the registry (decimal-cast sums, 6-decimal rounding on windowed
means/stddevs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES as REGISTRY
from airflow_crypto_btc_spark.plans.registry import flagship_daily_indicators

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_daily_indicators(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query."""
    return {name: spec.sql for name, spec in REGISTRY.items()}
