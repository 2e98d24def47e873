"""Streaming sessionization == batch sessionize on the same data.

Session windows only emit (append mode) once the watermark passes
``session_end + gap``, so the landing sequence ends with a far-future
sentinel event that drags the watermark past every real session; the
drained stream must then contain exactly the batch twin's sessions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.asof import sessionize
from airflow_crypto_btc_spark.sources.tables import load_table
from airflow_crypto_btc_spark.streaming.ohlc_stream import (
    EVENT_STREAM_SCHEMA,
    streaming_sessionize,
)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )


def test_streaming_sessions_match_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )
    landing = str(tmp_path / "landing")
    # two chronological slices → sessions can span micro-batch boundaries
    for lo, hi in (("2024-01-01", "2024-01-04"), ("2024-01-04", "2024-01-08")):
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        ).coalesce(1).write.mode("append").parquet(landing)
    # watermark-flush sentinel: one far-future event for a sentinel user
    spark.createDataFrame(
        [(-1, pd.Timestamp("2024-03-01").to_pydatetime(), -1, "flush", 0.0,
          "{}")],
        EVENT_STREAM_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_sessionize(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = _canon(
        spark.read.parquet(sink).filter(F.col("user_id") >= 0).toPandas()
    )
    want = _canon(sessionize(ev).toPandas())
    pd.testing.assert_frame_equal(got, want[got.columns.tolist()])
    assert len(got) > 0
