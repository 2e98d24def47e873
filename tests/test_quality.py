"""Q1-Q5 data-quality rules (reference
/root/reference/dags/dag_btc_daily.py:373-443) — both the passing and the
firing side of every rule."""

from __future__ import annotations

import datetime as dt

import pytest

from airflow_crypto_btc_spark.plans.quality import (
    check_artifact_nonempty,
    check_day_metrics,
    check_min_rows,
)


def test_artifact_nonempty(tmp_path):
    # Q5 contract: a .png artifact must carry the real PNG signature —
    # a non-empty husk that no decoder could open does not pass.
    fake = tmp_path / "report.png"
    fake.write_bytes(b"xx")
    assert not check_artifact_nonempty(str(fake)).passed
    real = tmp_path / "real.png"
    real.write_bytes(b"\x89PNG\r\n\x1a\n" + b"rest-of-chunks")
    assert check_artifact_nonempty(str(real)).passed
    csv = tmp_path / "data.csv"
    csv.write_bytes(b"a,b\n1,2\n")  # non-PNG artifacts: size check only
    assert check_artifact_nonempty(str(csv)).passed
    empty = tmp_path / "empty.csv"
    empty.write_bytes(b"")
    res = check_artifact_nonempty(str(empty))
    assert not res.passed
    with pytest.raises(AssertionError):
        res.raise_if_failed()


def test_min_rows(spark):
    df = spark.range(25)
    assert check_min_rows(df, 20).passed  # the ≥20 hourly-candle floor
    assert not check_min_rows(df, 26).passed


def test_not_null(spark):
    ok = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0, 2.0), (dt.date(2024, 1, 2), None, None)],
        "date date, open double, close double",
    )
    q3, _ = check_day_metrics(ok, "2024-01-01", ["open", "close"], 30, [])
    assert q3.passed  # only the day's rows count
    bad = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0, None), (dt.date(2024, 1, 1), 1.0, 2.0)],
        "date date, open double, close double",
    )
    q3, _ = check_day_metrics(bad, "2024-01-01", ["open", "close"], 30, [])
    assert not q3.passed and q3.check == "ohlc_not_null"
    assert q3.observed == "null_counts={'close': 1}"
    with pytest.raises(AssertionError, match="ohlc_not_null"):
        q3.raise_if_failed()


def test_indicator_completeness_gate(spark):
    def q4(rows, day):
        df = spark.createDataFrame(
            rows, "date date, close double, ma30 double, vol30 double"
        )
        return check_day_metrics(df, day, ["close"])[1]

    rows = [
        (dt.date(2023, 1, 1) + dt.timedelta(days=i), 1.0, 1.0, 1.0)
        for i in range(29)
    ]
    # history < 30 → gate inactive even with nulls
    short_nulls = [(d, c, None, None) for d, c, *_ in rows]
    res = q4(short_nulls, "2023-01-29")
    assert res.passed and "gate inactive" in res.observed

    rows31 = [
        (dt.date(2023, 1, 1) + dt.timedelta(days=i), 1.0, 1.0, 1.0)
        for i in range(31)
    ]
    assert q4(rows31, "2023-01-31").passed

    rows_bad = rows31[:-1] + [(dt.date(2023, 1, 31), 1.0, None, 1.0)]
    res = q4(rows_bad, "2023-01-31")
    assert not res.passed and res.check == "indicator_completeness"
    assert res.observed == "history=31, day_row=present, null=['ma30']"
    # once the gate is active a missing day row fails it too
    res = q4(rows31, "2023-02-01")
    assert not res.passed and "day_row=MISSING" in res.observed


def test_expectation_suite_passes_on_fixture(spark, sf_dir):
    """All six declarative rules hold on clean fixture data, and the rule
    count adds no extra scans (single aggregate + stack unpivot)."""
    from airflow_crypto_btc_spark.plans.registry_ext2 import (
        q_dq_expectation_suite,
    )

    df = q_dq_expectation_suite(spark, sf_dir)
    rows = {r["rule"]: r for r in df.collect()}
    assert len(rows) == 6
    assert all(r["passed"] for r in rows.values()), rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two distinct-aggregates (user_id, event_id) cost one extra scan;
    # scan count is a constant of the suite, not of the rule count
    assert plan.count("Scan parquet") <= 2


def test_expectation_suite_catches_violations(spark, tmp_path):
    """A corrupted slice (dup ids, null ts, bad type) must flip the
    matching rules to failed."""
    from pyspark.sql import functions as F

    from airflow_crypto_btc_spark.plans.registry_ext2 import (
        q_dq_expectation_suite,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    bad = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 2), 7, "bogus_type", 1.0, "{}"),
            (1, None, 8, "click", 2.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = load_table(spark, "/root/testdata/sf0.001", "events")
    bad = bad.withColumn("ts", F.col("ts").cast(src.schema["ts"].dataType))
    src.unionByName(bad).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    rows = {
        r["rule"]: r["passed"]
        for r in q_dq_expectation_suite(spark, str(tmp_path)).collect()
    }
    assert not rows["ts_not_null_frac"]
    assert not rows["event_type_valid_frac"]
    assert not rows["event_id_dup_rate_max"]
    assert rows["row_count_min"]


def test_observed_metrics_ride_the_action(spark, sf_dir):
    """observe() metrics accumulate during the consumer's own action —
    no second scan — and report the same facts a separate DQ query
    would."""
    from airflow_crypto_btc_spark.plans.quality import observed_metrics
    from airflow_crypto_btc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    inst, obs = observed_metrics(ev)
    # the "business" action: count purchases (the metrics piggyback)
    n_purchases = inst.filter("event_type = 'purchase'").count()
    m = obs.get
    assert m["n_rows"] == ev.count()
    assert m["null_values"] == 0
    assert n_purchases > 0
    assert str(m["min_ts"]).startswith("2024-01-01")
    assert m["approx_users"] > 0
