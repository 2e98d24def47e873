"""JSON landing-zone source: the at-scale rendering of the reference's
HTTP ingest.

The reference pulls klines JSON and immediately pandas-frames it in the
task process (``/root/reference/dags/dag_btc_daily.py:71-80``).  At 100 TB
the correct shape is: fetchers land raw API pages as JSON-lines files in
object storage (cheap, append-only, replayable), and Spark reads the
landing zone with an explicit schema — `spark.read.json` with schema
inference disabled (inference = an extra full pass over the data).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from airflow_crypto_btc_spark.operators.merge import dedup_keep_first

#: Landed klines page row: the positional fields keyed by name, all
#: strings (Binance returns numerics as strings; cast at normalization),
#: plus the row's position ``pos`` in its page.
KLINES_JSON_SCHEMA = StructType(
    [
        StructField("open_time", StringType()),
        StructField("open", StringType()),
        StructField("high", StringType()),
        StructField("low", StringType()),
        StructField("close", StringType()),
        StructField("volume", StringType()),
        StructField("pos", LongType()),
    ]
)


def land_klines_json(
    rows: Sequence[Sequence], path: str, day: str
) -> str:
    """Fetcher-side landing: one JSON-lines file per (day) page under
    ``path``, each line carrying its page position ``pos``.
    Driver/fetcher code — no Spark involved, mirroring a fleet of API
    pollers writing to object storage."""
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, f"klines_{day}.jsonl")
    fields = [f.name for f in KLINES_JSON_SCHEMA.fields if f.name != "pos"]
    with open(out, "w") as fh:
        for pos, r in enumerate(rows):
            line = {k: str(v) for k, v in zip(fields, r)} | {"pos": pos}
            fh.write(json.dumps(line) + "\n")
    return out


def read_klines_landing(
    spark: SparkSession, path: str, asset: str = "BTC-USD"
) -> DataFrame:
    """Spark-side: schema'd JSON-lines scan of the landing zone →
    canonical ``(ts_utc, asset, price)`` batch (same normalization as
    ``pipeline.normalize_klines``: F1-F3 conversions + D1 keep-first
    dedup, the first copy being the earliest by landed file name, then
    page position).  Explicit schema — no inference pass, malformed rows
    surface as nulls rather than schema drift."""
    raw = spark.read.schema(KLINES_JSON_SCHEMA).json(path)
    return (
        raw.select(
            F.date_format(
                F.timestamp_millis(F.col("open_time").cast("long")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("ts_utc"),
            F.col("close").cast("double").alias("price"),
            F.col("_metadata.file_name").alias("file"),
            "pos",
        )
        .transform(
            lambda d: dedup_keep_first(d, ["ts_utc"], ["file", "pos"])
        )
        .withColumn("asset", F.lit(asset))
        .select("ts_utc", "asset", "price")
    )
