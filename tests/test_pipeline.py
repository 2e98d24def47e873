"""End-to-end day-fold pipeline tests (SURVEY §5 pipeline-level plan):
run N consecutive days, check OHLC against an independent pandas
recomputation, prove day re-runs are idempotent, and check DQ gates fire.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.merge import dedup_keep_first
from airflow_crypto_btc_spark.pipeline import (
    Warehouse,
    normalize_klines,
    run_day,
    run_range,
)
from airflow_crypto_btc_spark.sources.tables import load_table

DAYS = ["2024-01-01", "2024-01-02", "2024-01-03"]


def _source_for_day(spark, sf_dir, day):
    """All event types of the day as one price series (the sf0.001 fixture
    has only ~5-11 rows per day per type; aggregate to get a dense day)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.to_date("ts") == F.lit(day).cast("date"))
        .select(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_utc"),
            F.col("value").alias("price"),
        )
        .transform(lambda d: dedup_keep_first(d, ["ts_utc"], "ts_utc"))
        .orderBy("ts_utc")
    )


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "warehouse"))


def _metrics_pdf(spark, wh) -> pd.DataFrame:
    return (
        spark.read.parquet(wh.daily_metrics)
        .orderBy("date")
        .toPandas()
        .reset_index(drop=True)
    )


def test_run_range_ohlc_matches_pandas(spark, sf_dir, wh):
    run_range(
        spark,
        wh,
        DAYS,
        lambda d: _source_for_day(spark, sf_dir, d),
        min_day_rows=10,
    )
    got = _metrics_pdf(spark, wh)
    assert list(got["date"].astype(str)) == DAYS

    # independent recomputation with reference semantics (iloc[0]/iloc[-1]
    # on the ts-sorted frame; pct_change)
    for _, row in got.iterrows():
        day = str(row["date"])
        pdf = (
            _source_for_day(spark, sf_dir, day)
            .toPandas()
            .sort_values("ts_utc")
        )
        assert row["open"] == pdf["price"].iloc[0]
        assert row["close"] == pdf["price"].iloc[-1]
        assert row["high"] == pdf["price"].max()
        assert row["low"] == pdf["price"].min()

    ret = got["close"].pct_change()
    assert pd.isna(got["ret"].iloc[0])
    assert got["ret"].iloc[1:].tolist() == pytest.approx(
        ret.iloc[1:].tolist()
    )
    # only 3 days of history → every min_periods-gated indicator is null
    assert got[["ma7", "ma30", "vol30"]].isna().all().all()


def test_rerun_day_is_idempotent(spark, sf_dir, wh):
    src = lambda d: _source_for_day(spark, sf_dir, d)  # noqa: E731
    run_range(spark, wh, DAYS[:2], src, min_day_rows=10)
    before = _metrics_pdf(spark, wh)
    raw_before = spark.read.parquet(wh.day_partition(DAYS[0])).count()

    run_day(spark, wh, DAYS[0], src(DAYS[0]), min_day_rows=10)  # re-run
    after = _metrics_pdf(spark, wh)
    raw_after = spark.read.parquet(wh.day_partition(DAYS[0])).count()

    pd.testing.assert_frame_equal(before, after)
    assert raw_before == raw_after


def test_quality_gate_fires_on_thin_day(spark, sf_dir, wh):
    with pytest.raises(AssertionError, match="day_rowcount"):
        run_day(
            spark,
            wh,
            DAYS[0],
            _source_for_day(spark, sf_dir, DAYS[0]),
            min_day_rows=1000,
        )


def test_normalize_klines_shape_and_dedup(spark):
    rows = [
        # open_time, o, h, l, close, vol, close_time, qv, n, tb, tq, ignore
        [1704067200000, "42000", "42100", "41900", "42050.5", "1", 0, 0, 0, 0, 0, 0],
        [1704070800000, "42050", "42200", "42000", "42150.0", "1", 0, 0, 0, 0, 0, 0],
        [1704067200000, "99999", "99999", "99999", "99999.0", "1", 0, 0, 0, 0, 0, 0],  # dup ts
    ]
    out = normalize_klines(spark, rows).toPandas()
    assert list(out.columns) == ["ts_utc", "asset", "price"]
    assert len(out) == 2  # keep-first dedup on ts_utc
    assert out["ts_utc"].iloc[0] == "2024-01-01T00:00:00Z"
    assert out["price"].iloc[0] == 42050.5
    assert (out["asset"] == "BTC-USD").all()

    # D1 keeps the first copy in PAGE order, whatever its price or place
    # in time; the batch comes out ts-sorted (O1)
    def k(hour, close):
        t = 1704067200000 + hour * 3_600_000
        return [t, "1", "1", "1", close, "1", t + 3_599_999, 0, 0, 0, 0, 0]

    page = [k(5, "50.5"), k(2, "20.0"), k(3, "30.0"), k(2, "21.0"),
            k(0, "0.5"), k(2, "19.0")]
    got = normalize_klines(spark, page).collect()
    assert [r["ts_utc"] for r in got] == [
        "2024-01-01T00:00:00Z", "2024-01-01T02:00:00Z",
        "2024-01-01T03:00:00Z", "2024-01-01T05:00:00Z",
    ]
    assert [r["price"] for r in got] == [0.5, 20.0, 30.0, 50.5]

    with pytest.raises(ValueError):  # a page row is always 12 fields
        normalize_klines(spark, [page[0][:6]])


def _write_day_csv(wh, day, lines, asset="BTC-USD"):
    os.makedirs(wh.data_dir, exist_ok=True)
    with open(wh.day_csv(day, asset), "w") as fh:
        fh.write("ts_utc,price\n" + "".join(f"{ln}\n" for ln in lines))


def _files(path):
    """Every file under ``path`` with its size and mtime (absent: {})."""
    return {
        os.path.relpath(os.path.join(r, f), path): (
            os.stat(os.path.join(r, f)).st_size,
            os.stat(os.path.join(r, f)).st_mtime_ns,
        )
        for r, _, fs in os.walk(path)
        for f in fs
    }


def _rows(spark, path):
    return sorted(spark.read.parquet(path).collect())


def _staging_dirs(wh):
    return [r for r, _, _ in os.walk(wh.root) if ".staging-" in r]


def test_load_raw_empty_csv_guard_swaps_nothing(spark, wh):
    """P7 (reference ``:126-127``): a header-only day CSV raises before
    any swap — an existing day partition keeps its files and rows, a new
    one is never created, and no staging dir is left behind."""
    from airflow_crypto_btc_spark.pipeline import load_raw

    day, new_day = DAYS[0], DAYS[1]
    _write_day_csv(wh, day, ["2024-01-01T00:00:00Z,1.5",
                             "2024-01-01T01:00:00Z,2.5"])
    load_raw(spark, wh, day)
    part = wh.day_partition(day)
    files, rows = _files(part), _rows(spark, part)
    assert len(rows) == 2

    _write_day_csv(wh, day, [])  # re-run of an existing partition
    with pytest.raises(ValueError, match=f"empty day CSV for {day}"):
        load_raw(spark, wh, day)
    assert _files(part) == files and _rows(spark, part) == rows

    _write_day_csv(wh, new_day, [])  # a day with no partition yet
    with pytest.raises(ValueError, match=f"empty day CSV for {new_day}"):
        load_raw(spark, wh, new_day)
    assert not os.path.exists(wh.day_partition(new_day))
    assert _staging_dirs(wh) == []


def test_compute_daily_metrics_no_asset_rows_guard_swaps_nothing(spark, wh):
    """P7 (reference ``:191-193``): a day partition holding rows only for
    another asset raises "no rows for" before any swap, whether or not
    ``daily_metrics`` exists yet."""
    from airflow_crypto_btc_spark.pipeline import (
        compute_daily_metrics,
        load_raw,
    )

    day = DAYS[0]
    _write_day_csv(wh, day, ["2024-01-01T00:00:00Z,1.5"], asset="OTHER")
    load_raw(spark, wh, day, asset="OTHER")

    with pytest.raises(ValueError, match=f"no rows for BTC-USD on {day}"):
        compute_daily_metrics(spark, wh, day)
    assert not os.path.exists(wh.daily_metrics)

    compute_daily_metrics(spark, wh, day, asset="OTHER")
    files, rows = _files(wh.daily_metrics), _rows(spark, wh.daily_metrics)
    assert len(rows) == 1
    with pytest.raises(ValueError, match=f"no rows for BTC-USD on {day}"):
        compute_daily_metrics(spark, wh, day)
    assert _files(wh.daily_metrics) == files
    assert _rows(spark, wh.daily_metrics) == rows
    assert _staging_dirs(wh) == []


def test_enrich_indicators_empty_table_guard_swaps_nothing(spark, wh):
    """P7 (reference ``:259-261``): an empty ``daily_metrics`` raises
    before any swap and keeps its files."""
    from airflow_crypto_btc_spark.pipeline import (
        DAILY_METRICS_SCHEMA,
        enrich_indicators,
    )

    spark.createDataFrame([], DAILY_METRICS_SCHEMA).write.parquet(
        wh.daily_metrics
    )
    files = _files(wh.daily_metrics)
    assert files and _rows(spark, wh.daily_metrics) == []
    with pytest.raises(ValueError, match="daily_metrics is empty"):
        enrich_indicators(spark, wh)
    assert _files(wh.daily_metrics) == files
    assert _staging_dirs(wh) == []


def _klines_page(day):
    """24 hourly candles of ``day`` in Binance's 12-column page shape."""
    t0 = int(pd.Timestamp(day, tz="UTC").timestamp() * 1000)
    return [
        [t0 + h * 3_600_000, "1", "1", "1", f"{100 + h}.5", "1",
         t0 + (h + 1) * 3_600_000 - 1, 0, 0, 0, 0, 0]
        for h in range(24)
    ]


#: Spark jobs per stage of one ``run_day``: a new day (a fresh day
#: partition, ``daily_metrics`` already there) and a re-run of it.  A
#: day is about 24 rows, so its cost is its job count.
NEW_DAY_JOBS = {"extract": 4, "load_raw": 2, "compute_daily_metrics": 4,
                "enrich_indicators": 2, "plot_report": 1, "quality_checks": 4}
RERUN_JOBS = {**NEW_DAY_JOBS, "extract": 0, "load_raw": 3}


def test_run_day_job_budget_per_stage(spark, wh, monkeypatch):
    """Each stage's Spark jobs, counted by job group, stay within the
    budget above (17 for a new day, 14 for a re-run), and the klines page
    is read by the JVM: its plan holds no Python RDD."""
    import uuid

    from airflow_crypto_btc_spark import pipeline

    sc = spark.sparkContext
    groups: dict[str, str] = {}

    def grouped(stage, fn):
        def run(*args, **kwargs):
            groups[stage] = f"budget-{stage}-{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(groups[stage], stage)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        return run

    for stage in NEW_DAY_JOBS:
        monkeypatch.setattr(
            pipeline, stage, grouped(stage, getattr(pipeline, stage))
        )

    def jobs_per_stage(day):
        run_day(spark, wh, day, normalize_klines(spark, _klines_page(day)))
        return {st: list(sc.statusTracker().getJobIdsForGroup(g))
                for st, g in groups.items()}

    jobs_per_stage(DAYS[0])  # history: daily_metrics exists from here on
    new = {st: len(ids) for st, ids in jobs_per_stage(DAYS[1]).items()}
    rerun = {st: len(ids) for st, ids in jobs_per_stage(DAYS[1]).items()}
    # the groups capture jobs: every stage of a new day runs at least one
    assert all(n >= 1 for n in new.values()), new
    assert new["plot_report"] == rerun["plot_report"] == 1
    assert all(new[st] <= NEW_DAY_JOBS[st] for st in NEW_DAY_JOBS), new
    assert all(rerun[st] <= RERUN_JOBS[st] for st in RERUN_JOBS), rerun
    assert sum(new.values()) <= 17 and sum(rerun.values()) <= 14

    page = normalize_klines(spark, _klines_page(DAYS[2]))
    lineage = page._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_multi_asset_day_folds_are_isolated(spark, sf_dir, tmp_path):
    """Two assets folded into one warehouse: per-asset extracts don't
    collide, the day partition holds both, and indicators are computed
    within each asset independently."""
    from airflow_crypto_btc_spark.pipeline import Warehouse as WH

    wh = WH(str(tmp_path / "multi"))

    def src(day, event_type):
        ev = load_table(spark, sf_dir, "events")
        return (
            ev.filter(
                (F.to_date("ts") == F.lit(day).cast("date"))
                & (F.col("event_type") == event_type)
            )
            .select(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                    "ts_utc"
                ),
                F.col("value").alias("price"),
            )
            .transform(lambda d: dedup_keep_first(d, ["ts_utc"], "ts_utc"))
        )

    for day in DAYS[:2]:
        for asset, etype in (("ERR", "error"), ("SGN", "signup")):
            run_day(
                spark, wh, day, src(day, etype), asset=asset, min_day_rows=2
            )

    got = (
        spark.read.parquet(wh.daily_metrics)
        .orderBy("asset", "date")
        .toPandas()
    )
    assert len(got) == 4  # 2 assets × 2 days
    assert sorted(got["asset"].unique()) == ["ERR", "SGN"]

    # per-asset OHLC equals its own single-asset source
    for asset, etype in (("ERR", "error"), ("SGN", "signup")):
        for day in DAYS[:2]:
            pdf = src(day, etype).toPandas().sort_values("ts_utc")
            row = got[
                (got["asset"] == asset) & (got["date"].astype(str) == day)
            ].iloc[0]
            assert row["open"] == pdf["price"].iloc[0]
            assert row["close"] == pdf["price"].iloc[-1]
    # ret partitions by asset: day-2 ret uses the SAME asset's day-1 close
    for asset in ("ERR", "SGN"):
        sub = got[got["asset"] == asset].sort_values("date")
        assert pd.isna(sub["ret"].iloc[0])
        expected = sub["close"].iloc[1] / sub["close"].iloc[0] - 1.0
        assert sub["ret"].iloc[1] == pytest.approx(expected)


def test_json_landing_roundtrip_matches_direct_normalization(spark, tmp_path):
    """Fetcher lands JSON-lines pages; the schema'd Spark scan of the
    landing zone equals direct in-memory normalization of the same rows."""
    from airflow_crypto_btc_spark.sources.json_landing import (
        land_klines_json,
        read_klines_landing,
    )

    rows = [
        [1704067200000, "42000", "42100", "41900", "42050.5", "1.0"],
        [1704070800000, "42050", "42200", "42000", "42150.0", "2.0"],
        [1704067200000, "9", "9", "9", "99999.0", "0.1"],  # dup ts, dropped
    ]
    landing = str(tmp_path / "landing")
    land_klines_json(rows[:2], landing, "2024-01-01")
    land_klines_json(rows[2:], landing, "2024-01-01b")

    via_landing = (
        read_klines_landing(spark, landing)
        .orderBy("ts_utc")
        .toPandas()
        .reset_index(drop=True)
    )
    via_direct = (
        normalize_klines(spark, [r + [0] * 6 for r in rows])
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(via_landing) == 2
    assert list(via_landing["ts_utc"]) == list(via_direct["ts_utc"])
    # keep-first across files: the dup ts keeps the copy landed first
    # (earliest file name, then page position), as the direct path keeps
    # the first page row
    assert via_landing["price"].iloc[0] == 42050.5
    assert via_direct["price"].iloc[0] == 42050.5
    assert via_landing["price"].iloc[1] == via_direct["price"].iloc[1]


def test_read_raw_range_prunes_partitions_at_planning_time(
    spark, sf_dir, wh
):
    """The hive-layout table must expose `date` as a partition column and
    push the day range into PartitionFilters — 1 of 3 day-directories
    never enters the scan — and planning the scan runs no Spark job."""
    from airflow_crypto_btc_spark.pipeline import (
        read_raw_day,
        read_raw_range,
    )

    run_range(
        spark,
        wh,
        DAYS,
        lambda d: _source_for_day(spark, sf_dir, d),
        min_day_rows=10,
    )
    assert len(DAYS) >= 3
    lo, hi = DAYS[0], DAYS[1]
    sc = spark.sparkContext
    group = "raw-range-plan"
    sc.setJobGroup(group, "read_raw_range planning")
    try:
        df = read_raw_range(spark, wh, lo, hi)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the group does capture jobs: one action lands in it
        df.limit(1).collect()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert df.schema.simpleString() == (
        "struct<ts_utc:string,asset:string,price:double,date:date>"
    )
    assert "PartitionFilters" in plan
    expect = sum(
        read_raw_day(spark, wh, d).count() for d in (lo, hi)
    )
    # behavioral pruning proof: a corrupt file planted in the
    # out-of-range partition is never opened by the pruned scan (reading
    # it would throw), and the in-range data still comes back complete
    import os

    poison = os.path.join(
        wh.day_partition(DAYS[2]), "part-poison.parquet"
    )
    with open(poison, "wb") as f:
        f.write(b"this is not a parquet file")
    try:
        assert read_raw_range(spark, wh, lo, hi).count() == expect
    finally:
        os.remove(poison)
    assert set(
        r.date.isoformat() for r in df.select("date").distinct().collect()
    ) == {lo, hi}


def test_plot_report_artifact_branches(spark, sf_dir, wh):
    """The report stage always writes a real PNG (matplotlib when present,
    the stdlib zlib+struct rasterizer otherwise) plus a CSV twin carrying
    the exact window data — S9 no longer degrades to CSV-only in
    matplotlib-less environments."""
    from airflow_crypto_btc_spark.pipeline import plot_report

    run_range(
        spark,
        wh,
        DAYS,
        lambda d: _source_for_day(spark, sf_dir, d),
        min_day_rows=10,
    )
    out = plot_report(spark, wh, DAYS[-1])
    assert out.endswith(".png")
    with open(out, "rb") as fh:
        assert fh.read(8) == b"\x89PNG\r\n\x1a\n"
    assert os.path.getsize(out) > 500  # a drawn raster, not a husk
    pdf = pd.read_csv(out.replace(".png", ".csv"))
    assert list(pdf.columns) == ["date", "close", "ma7", "ma30"]
    assert len(pdf) == len(DAYS)


class _KlinesStub:
    """Local stand-in for the klines REST endpoint: scripted per-request
    behaviors ('500', 'empty', 'ok'), records received query params."""

    def __init__(self, behaviors):
        import http.server
        import json as _json
        import threading
        from urllib.parse import parse_qs, urlparse

        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                stub.requests.append(
                    {k: v[0] for k, v in
                     parse_qs(urlparse(self.path).query).items()}
                )
                mode = (
                    stub.behaviors[len(stub.requests) - 1]
                    if len(stub.requests) <= len(stub.behaviors)
                    else stub.behaviors[-1]
                )
                if mode == "500":
                    self.send_response(500)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                body = [] if mode == "empty" else stub.klines
                self.wfile.write(_json.dumps(body).encode())

            def log_message(self, *a):  # keep pytest output clean
                pass

        self.behaviors = behaviors
        self.requests = []
        # two canned hourly candles in Binance's 12-column array shape
        self.klines = [
            [1704067200000, "42000.1", "42100", "41900", "42050.5",
             "10.5", 1704070799999, "441530", 120, "5.2", "218660", "0"],
            [1704070800000, "42050.5", "42200", "42000", "42150.0",
             "9.8", 1704074399999, "413070", 110, "4.9", "206530", "0"],
        ]
        self.server = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), Handler
        )
        threading.Thread(
            target=self.server.serve_forever, daemon=True
        ).start()
        self.url = f"http://127.0.0.1:{self.server.server_port}/klines"

    def close(self):
        self.server.shutdown()
        self.server.server_close()  # release the listening socket


def test_fetch_klines_http_retry_ladder_and_parse(spark):
    """The real HTTP code path end-to-end against a local stub: a 500
    then an empty body are retried, the third attempt parses; the rows
    feed normalize_klines into the canonical batch; request params carry
    the day's UTC millisecond window."""
    from airflow_crypto_btc_spark.pipeline import fetch_klines_http

    stub = _KlinesStub(["500", "empty", "ok"])
    try:
        rows = fetch_klines_http(
            "BTCUSDT", "2024-01-01",
            base_url=stub.url, backoff_s=0.01,
        )
        assert len(rows) == 2 and rows[0][4] == "42050.5"
        assert len(stub.requests) == 3  # 500 → empty → ok
        p = stub.requests[0]
        assert p["symbol"] == "BTCUSDT" and p["interval"] == "1h"
        assert p["startTime"] == "1704067200000"
        assert p["endTime"] == str(1704067200000 + 86_400_000 - 1)
        batch = normalize_klines(spark, rows).collect()
        assert [r["ts_utc"] for r in batch] == [
            "2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z",
        ]
        assert [r["price"] for r in batch] == [42050.5, 42150.0]
    finally:
        stub.close()


def test_fetch_klines_http_exhausts_attempts(spark):
    from airflow_crypto_btc_spark.pipeline import fetch_klines_http

    stub = _KlinesStub(["500"])
    try:
        with pytest.raises(RuntimeError, match="failed after 3"):
            fetch_klines_http(
                "BTCUSDT", "2024-01-01",
                attempts=3, base_url=stub.url, backoff_s=0.01,
            )
        assert len(stub.requests) == 3
    finally:
        stub.close()
