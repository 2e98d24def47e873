"""Fixture reads (sources/tables.py): ``load_table`` scans under the schema
read from one parquet footer, which must be the schema Spark's own parquet
inference gives the same path — inference stays here as the reference."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from airflow_crypto_btc_spark.sources.tables import (
    TABLE_NAMES,
    _normalize_timestamps,
    load_table,
    register_views,
)


def _inferred(spark, sf_dir, name):
    """The schema inference gives, through load_table's normalisation."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_timestamps(df, name).schema


def _jobs_in(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_schemas_match_inference(spark, sf_dir, sf):
    """Every fixture table at two scale factors (beside the test SF dir)."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    for name in TABLE_NAMES:
        got = load_table(spark, sf_dir, name).schema
        assert got == _inferred(spark, sf_dir, name), name


def test_spark_written_part_directory_matches_inference(
    spark, sf_dir, tmp_path
):
    """A multi-part ``events.parquet/`` directory with ``_SUCCESS`` and
    ``.crc`` files beside the parts, as Spark writes it."""
    src = load_table(spark, sf_dir, "events")
    src.repartition(3).write.parquet(str(tmp_path / "events.parquet"))
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == _inferred(spark, str(tmp_path), "events")
    assert got.schema == src.schema
    assert got.count() == src.count()


def test_nanosecond_timestamps_match_inference(spark, tmp_path):
    """A pyarrow-written ``TIMESTAMP(NANOS)`` events file (the
    ``tools/gen_sf1.py`` shape): nanosAsLong longs, truncated to µs."""
    ts_ns = np.array(
        [1_704_067_200_000_000_000, 1_704_153_600_123_456_789], np.int64
    )
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(2, dtype=np.int64),
                "ts": pa.array(ts_ns, type=pa.timestamp("ns")),
                "user_id": np.array([1, 2], np.int64),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ['{"k": 1}', '{"k": 2}'],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == _inferred(spark, str(tmp_path), "events")
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert [r.ts for r in got.orderBy("event_id").collect()] == [
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 2, 0, 0, 0, 123456),
    ]


def test_register_views_runs_no_spark_job(spark, sf_dir):
    assert _jobs_in(spark, "register-views",
                    lambda: register_views(spark, sf_dir)) == []
    # the group does capture jobs: one action lands in it
    assert _jobs_in(
        spark, "register-views",
        lambda: spark.table("events").limit(1).collect(),
    )


def test_missing_table_names_its_path(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no_such_table.parquet"):
        load_table(spark, str(tmp_path), "no_such_table")
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="empty.parquet"):
        load_table(spark, str(tmp_path), "empty")
