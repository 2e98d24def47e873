"""Streaming source over the snapshot-table commit log: exactly-once
across checkpoint restarts, compaction invisible, rewrites rejected
unless ignore_changes."""

from __future__ import annotations

import datetime as dt

import pytest

from airflow_crypto_btc_spark.sources.snapshot_stream import register
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    compact,
    upsert,
)

SCHEMA = "date date, close double"


def _df(spark, day, close):
    return spark.createDataFrame(
        [(dt.date(2024, 1, day), close)], SCHEMA
    )


def _drain(spark, table, sink, ckpt, ignore_changes=False):
    stream = (
        spark.readStream.format("snapshot_stream")
        .option("path", table)
        .option("ignore_changes", str(ignore_changes).lower())
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_tails_appends_exactly_once(spark, tmp_path):
    register(spark)
    table = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    append(spark, _df(spark, 1, 1.0), table)
    append(spark, _df(spark, 2, 2.0), table)
    _drain(spark, table, sink, ckpt)
    got = {str(r["date"]) for r in spark.read.parquet(sink).collect()}
    assert got == {"2024-01-01", "2024-01-02"}

    # new appends + a compaction; restart from the SAME checkpoint
    append(spark, _df(spark, 3, 3.0), table)
    compact(spark, table)
    append(spark, _df(spark, 4, 4.0), table)
    _drain(spark, table, sink, ckpt)
    rows = spark.read.parquet(sink).collect()
    days = sorted(str(r["date"]) for r in rows)
    # compaction rewrote days 1-3 but must not re-emit them
    assert days == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


def test_stream_rejects_rewrites_unless_ignored(spark, tmp_path):
    register(spark)
    table = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    append(spark, _df(spark, 1, 1.0), table)
    _drain(spark, table, sink, ckpt)

    upsert(spark, _df(spark, 1, 9.9), table, key_cols=["date"])
    append(spark, _df(spark, 2, 2.0), table)
    with pytest.raises(Exception, match="ignore_changes|row-rewriting"):
        _drain(spark, table, sink, ckpt)

    # with ignore_changes the rewrite is skipped, the append streams
    _drain(
        spark, table, str(tmp_path / "sink2"), str(tmp_path / "ckpt2"),
        ignore_changes=True,
    )
    got = {str(r["date"]) for r in
           spark.read.parquet(str(tmp_path / "sink2")).collect()}
    assert "2024-01-02" in got


def test_stream_over_evolved_table_nulls_missing_columns(spark, tmp_path):
    """The stream takes its schema from the commit log: after an append
    adds a column, parts written before it stream that column as null
    (no caller-declared schema, no KeyError on the older part)."""
    register(spark)
    table = str(tmp_path / "tbl")
    sink = str(tmp_path / "sink")
    append(spark, _df(spark, 1, 1.0), table)
    append(
        spark,
        spark.createDataFrame(
            [(dt.date(2024, 1, 2), 2.0, 7)], "date date, close double, w int"
        ),
        table,
    )
    _drain(spark, table, sink, str(tmp_path / "ckpt"))
    got = sorted(
        (str(r["date"]), r["close"], r["w"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [("2024-01-01", 1.0, None), ("2024-01-02", 2.0, 7)]


def test_stream_over_table_without_commits_names_it(spark, tmp_path):
    register(spark)
    table = str(tmp_path / "never_written")
    with pytest.raises(Exception, match="never_written"):
        spark.readStream.format("snapshot_stream").option(
            "path", table
        ).load()
