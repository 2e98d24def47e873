"""Incremental day-fold pipeline — the reference's whole DAG as one driver.

Reference lifecycle (``/root/reference/dags/dag_btc_daily.py:446-451``)::

    extract → load_raw → compute_daily_metrics → enrich_indicators
            → plot_report → quality_checks

re-expressed Spark-first (SURVEY §2.12, §7 step 8):

- Each stage builds a *lazy* DataFrame plan; stage boundaries that the
  reference realizes as XCom dicts + files on a shared volume become plain
  return values + parquet partitions in a warehouse directory.
- The unit of work is one logical day (the reference's ``catchup=True``
  daily schedule, ``:15-16``); re-running any day is idempotent because
  every writer is a merge (S5 first-writer-wins, S8 last-writer-wins) or an
  atomic staged overwrite (S7).
- Scale shape: ``raw_prices`` is stored day-partitioned
  (``date=YYYY-MM-DD/`` subdirs), so a day re-run touches exactly one
  partition — reads prune to it, and the merge swap rewrites only it.  The
  indicator pass runs over the *aggregated* daily table (365 rows/asset/yr),
  never the raw events, so its cost is independent of raw volume.
- A day is about 24 rows, so its cost is the number of Spark jobs it runs.
  Per stage, counted by job group, a new day (``daily_metrics`` already
  there) runs extract 4, load_raw 2, compute_daily_metrics 4,
  enrich_indicators 2, plot_report 1, quality_checks 4 (17); a re-run of
  the day runs 0/3/4/2/1/4 (14).  No stage runs a pre-pass job for its
  empty guard; ``tests/test_pipeline.py`` pins these counts.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from airflow_crypto_btc_spark.operators.indicators import (
    trailing_days_slice,
    with_indicators,
)
from airflow_crypto_btc_spark.operators.merge import (
    append_ignore,
    dedup_keep_first,
    upsert_by_key,
)
from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
from airflow_crypto_btc_spark.plans.quality import (
    CheckResult,
    check_artifact_nonempty,
    check_day_metrics,
    check_min_rows,
)

# --------------------------------------------------------------------- schemas

OHLC_COLS = ("open", "high", "low", "close")
INDICATOR_COLS = ("ret", "ma7", "ma30", "vol30")

#: Canonical fact-table schema (reference DDL ``:138-144``) + day partition col.
RAW_PRICES_SCHEMA = StructType(
    [
        StructField("ts_utc", StringType()),  # ISO-8601 Z string, see F2
        StructField("asset", StringType()),
        StructField("price", DoubleType()),
    ]
)

#: ``daily_metrics`` (reference DDL ``:203-217``), declared so that no
#: read of it runs a schema-inference job.
DAILY_METRICS_SCHEMA = StructType(
    [StructField("date", DateType()), StructField("asset", StringType())]
    + [StructField(c, DoubleType()) for c in (*OHLC_COLS, *INDICATOR_COLS)]
)

#: Day-CSV interchange schema (reference ``:92-95``): explicit, never inferred.
DAY_CSV_SCHEMA = StructType(
    [
        StructField("ts_utc", StringType()),
        StructField("price", DoubleType()),
    ]
)

#: Binance klines page: 12 columns, numerics arrive as strings (S2,
#: reference ``:76-80``).
KLINES_COLUMNS = (
    "open_time",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "close_time",
    "quote_volume",
    "trades",
    "taker_base",
    "taker_quote",
    "ignore",
)

# ------------------------------------------------------------------- warehouse


@dataclass
class Warehouse:
    """Directory layout standing in for the reference's shared volume +
    SQLite file (``crypto.db``, reference ``:120``; volume map
    ``docker/docker-compose.yml:11-15``)."""

    root: str

    @property
    def data_dir(self) -> str:  # per-day CSV extracts (reference DATA_DIR)
        return os.path.join(self.root, "data")

    @property
    def reports_dir(self) -> str:  # report artifacts (reference REPORTS_DIR)
        return os.path.join(self.root, "reports")

    @property
    def raw_prices(self) -> str:
        return os.path.join(self.root, "raw_prices")

    @property
    def daily_metrics(self) -> str:
        return os.path.join(self.root, "daily_metrics")

    def day_csv(self, day: str, asset: str = "BTC-USD") -> str:
        # path scheme mirrors reference ``:49`` (btc_prices_<day>.csv);
        # the asset component generalizes the reference's single-asset
        # layout so one day's extracts for different assets never collide
        # with each other's idempotency short-circuit
        safe = asset.replace("/", "_")
        return os.path.join(self.data_dir, f"prices_{safe}_{day}.csv")

    def day_partition(self, day: str) -> str:
        return os.path.join(self.raw_prices, f"date={day}")

    def report_png(self, day: str) -> str:
        return os.path.join(self.reports_dir, f"daily_{day}.png")


def _swap_into_place(staging: str, final: str) -> None:
    """Atomic-rename commit: readers see the old snapshot or the new one,
    never a half-written directory (S7 transactional swap, ``:287-295``)."""
    tomb = final + ".old-" + uuid.uuid4().hex[:8]
    if os.path.exists(final):
        os.rename(final, tomb)
    os.rename(staging, final)
    if os.path.exists(tomb):
        shutil.rmtree(tomb)


def overwrite_staged(
    df: DataFrame, final_path: str, rows: Observation, empty_error: str
) -> None:
    """S7 for a path that ``df``'s plan may itself be reading: stage the new
    snapshot to a sibling dir, then rename-swap.  ``mode("overwrite")``
    directly would delete the input files before the job reads them.

    P7 empty guard without a pre-pass job: ``rows`` observes a ``rows``
    count in ``df``'s plan and is read after the staged write.  When the
    count is 0, or the write fails, the staging dir is deleted and nothing
    is swapped.  The observation must not sit inside a shuffle map stage:
    when such a stage comes out empty, AQE replaces it with an empty
    relation, observation and all, and ``rows`` then holds no row."""
    staging = final_path + ".staging-" + uuid.uuid4().hex[:8]
    try:
        df.write.mode("overwrite").parquet(staging)
        if not rows.get["rows"]:
            raise ValueError(empty_error)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    _swap_into_place(staging, final_path)


# ----------------------------------------------------------------- ingest (S1)


def normalize_klines(
    spark: SparkSession,
    rows: Sequence[Sequence],
    asset: str = "BTC-USD",
) -> DataFrame:
    """Klines page → canonical ``(ts_utc, asset, price)`` batch.

    Mirrors reference ``:76-94``: the page becomes an Arrow table of the 12
    named string columns plus its row position ``pos`` (S2), read by the JVM
    with no Python worker.  Then epoch-ms → UTC timestamp (F1), ISO-8601 Z
    string form (F2), string→double cast (F3), keep-first dedup on ts by
    page position (D1, ``drop_duplicates`` keep='first'), sort by ts (O1).
    All JVM-side expressions — no Python UDFs.
    """
    import pyarrow as pa

    for r in rows:
        if len(r) != len(KLINES_COLUMNS):
            raise ValueError(
                f"klines rows must have {len(KLINES_COLUMNS)} fields: {r!r}"
            )
    page = pa.table(
        {
            c: pa.array([str(r[i]) for r in rows], pa.string())
            for i, c in enumerate(KLINES_COLUMNS)
        }
        | {"pos": pa.array(range(len(rows)), pa.int64())}
    )
    batch = (
        spark.createDataFrame(page)
        .select(
            F.date_format(
                F.timestamp_millis(F.col("open_time").cast("long")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("ts_utc"),
            F.col("close").cast("double").alias("price"),
            "pos",
        )
        .transform(lambda d: dedup_keep_first(d, ["ts_utc"], "pos"))
        .withColumn("asset", F.lit(asset))
        .select("ts_utc", "asset", "price")
        .orderBy("ts_utc")
    )
    return batch


def fetch_klines_http(
    symbol: str,
    day: str,
    interval: str = "1h",
    timeout_s: int = 60,
    attempts: int = 4,
    base_url: str = "https://api.binance.com/api/v3/klines",
    backoff_s: float = 2.0,
) -> list[list]:
    """S1 adapter: REST GET of Binance klines with the reference's retry
    ladder (4 attempts, linear 2/4/6/8 s backoff, 60 s timeout — reference
    ``:64-104``).  Driver-side by design: at scale, land pages to object
    storage and ``spark.read.json`` them; never fan HTTP out of executors.

    ``base_url`` / ``backoff_s`` exist for the endpoint seam:
    tests/test_pipeline.py exercises the FULL ladder (5xx retry, empty
    body retry, success parse, exhaustion) against a local stub HTTP
    server, so the code path that talks to the real endpoint is covered
    without network access.  The public internet path differs only in
    the hostname.
    """
    import datetime as dt

    import requests  # baked into the container; no pip install

    start = dt.datetime.strptime(day, "%Y-%m-%d").replace(
        tzinfo=dt.timezone.utc
    )
    params = {
        "symbol": symbol,
        "interval": interval,
        "startTime": int(start.timestamp() * 1000),
        "endTime": int((start + dt.timedelta(days=1)).timestamp() * 1000) - 1,
        "limit": 1000,
    }
    last_err: Exception | None = None
    for attempt in range(1, attempts + 1):
        try:
            r = requests.get(base_url, params=params, timeout=timeout_s)
            if r.status_code != 200:
                raise RuntimeError(f"klines HTTP {r.status_code}")
            body = r.json()
            if not body:
                raise RuntimeError("klines empty body")
            return body
        except Exception as exc:  # noqa: BLE001 — retry ladder
            last_err = exc
            if attempt < attempts:
                time.sleep(backoff_s * attempt)
    raise RuntimeError(f"klines fetch failed after {attempts}") from last_err


# ------------------------------------------------------------------ stages 1-6


def extract(
    spark: SparkSession,
    wh: Warehouse,
    day: str,
    source: DataFrame,
    asset: str = "BTC-USD",
) -> str:
    """Stage 1 (reference ``:26-104``): land the day's ``(ts_utc, price)``
    batch as a CSV artifact.  Idempotency short-circuit: skip if the day's
    CSV already exists non-empty (``:52-53``)."""
    path = wh.day_csv(day, asset)
    if check_artifact_nonempty(path).passed:
        return path
    os.makedirs(wh.data_dir, exist_ok=True)
    pdf = source.select("ts_utc", "price").toPandas()  # ≤ ~24 rows/day/asset
    pdf.to_csv(path, index=False)
    return path


def load_raw(
    spark: SparkSession,
    wh: Warehouse,
    day: str,
    asset: str = "BTC-USD",
) -> DataFrame:
    """Stage 2 (reference ``:106-161``): CSV → ``raw_prices`` with
    INSERT-OR-IGNORE semantics (S5).  Only the day's partition is read and
    rewritten — the anti-join never touches other days.  Both branches
    stage the partition and swap it in (S7)."""
    csv = (
        spark.read.option("header", True)
        .schema(DAY_CSV_SCHEMA)
        .csv(wh.day_csv(day, asset))
    )
    # P7 empty guard, reference ``:126-127``: keep-first rows per key are
    # counted above the dedup's shuffle (see overwrite_staged)
    rows = Observation()
    incoming = dedup_keep_first(
        csv.select("ts_utc", F.lit(asset).alias("asset"), "price"),
        ("ts_utc", "asset"),
        "ts_utc",
    ).observe(rows, F.count(F.lit(1)).alias("rows"))

    part = wh.day_partition(day)
    if os.path.exists(part):
        existing = spark.read.schema(RAW_PRICES_SCHEMA).parquet(part)
        merged = append_ignore(
            existing,
            incoming,
            key_cols=("ts_utc", "asset"),
            broadcast_incoming=True,
        )
    else:
        merged = incoming
    overwrite_staged(merged, part, rows, f"empty day CSV for {day}")
    return read_raw_day(spark, wh, day)


def read_raw_range(
    spark: SparkSession, wh: Warehouse, lo_day: str, hi_day: str
) -> DataFrame:
    """Multi-day analytical scan of ``raw_prices`` via Hive-style partition
    discovery: the ``date=<day>`` directory layout becomes a real ``date``
    partition column and the range predicate is resolved at PLANNING time
    (``PartitionFilters`` in the scan node — directories outside the range
    are never listed into tasks, let alone read).

    This is the 100 TB path the day-granular layout exists for (SURVEY
    §4.3): a year-long backfill query over a petabyte table costs only the
    days it touches.  ``read_raw_day`` stays the single-partition fast
    path for the per-day pipeline fold.  The data columns are declared, so
    planning runs no schema-inference job; ``date`` is still discovered from
    the directory names.
    """
    df = (
        spark.read.schema(RAW_PRICES_SCHEMA)
        .option("basePath", wh.raw_prices)
        .parquet(wh.raw_prices)
    )
    return df.filter(
        (F.col("date") >= F.lit(lo_day).cast("date"))
        & (F.col("date") <= F.lit(hi_day).cast("date"))
    )


def read_raw_day(spark: SparkSession, wh: Warehouse, day: str) -> DataFrame:
    """Partition-pruned day slice of ``raw_prices`` (P3+P4: the reference's
    ``asset=? AND ts_utc BETWEEN day 00:00:00Z AND 23:59:59Z``, ``:185``)."""
    return (
        spark.read.schema(RAW_PRICES_SCHEMA)
        .parquet(wh.day_partition(day))
        .withColumn("date", F.lit(day).cast("date"))
    )


def read_daily_metrics(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """The ``daily_metrics`` table under its declared schema."""
    return spark.read.schema(DAILY_METRICS_SCHEMA).parquet(wh.daily_metrics)


def compute_daily_metrics(
    spark: SparkSession, wh: Warehouse, day: str, asset: str = "BTC-USD"
) -> DataFrame:
    """Stage 3 (reference ``:163-233``): day slice → OHLC row (A1 via
    min_by/max_by) → keyed upsert into ``daily_metrics`` (S8: OHLC columns
    last-writer-wins, indicator columns untouched)."""
    day_rows = read_raw_day(spark, wh, day).filter(F.col("asset") == asset)
    ohlc = (
        daily_ohlc(
            day_rows, ts_col="ts_utc", price_col="price", key_cols=("asset",)
        )
        .withColumn("date", F.lit(day).cast("date"))
        .select("date", "asset", *OHLC_COLS, "n_obs")
    )

    if os.path.exists(wh.daily_metrics):
        existing = read_daily_metrics(spark, wh).withColumn(
            "n_obs", F.lit(None).cast("long")
        )
        merged = upsert_by_key(
            existing,
            ohlc,
            key_cols=("date", "asset"),
            update_cols=(*OHLC_COLS, "n_obs"),
        )
    else:
        merged = ohlc.select(
            "date",
            "asset",
            *OHLC_COLS,
            *[F.lit(None).cast("double").alias(c) for c in INDICATOR_COLS],
            "n_obs",
        )
    # P7, reference ``:191-193``: the day's OHLC row carries its non-null
    # n_obs through the upsert's shuffle and is counted above it (see
    # overwrite_staged)
    rows = Observation()
    overwrite_staged(
        merged.observe(rows, F.count("n_obs").alias("rows")).select(
            *DAILY_METRICS_SCHEMA.names
        ),
        wh.daily_metrics,
        rows,
        f"no rows for {asset} on {day}",
    )
    return read_daily_metrics(spark, wh)


def enrich_indicators(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """Stage 4 (reference ``:235-297``): recompute ret/ma7/ma30/vol30 over
    the full daily history and transactionally rewrite the table.  The input
    is the *aggregated* table (rows = days×assets), so "full history" is
    cheap regardless of raw-event volume; parallelism = #assets."""
    enriched = with_indicators(
        read_daily_metrics(spark, wh).drop(*INDICATOR_COLS),
        date_col="date",
        close_col="close",
        key_cols=("asset",),
    ).select("date", "asset", *OHLC_COLS, *INDICATOR_COLS)
    # P7, reference ``:259-261``: counted above the indicator windows'
    # shuffle, which keep every row (see overwrite_staged)
    rows = Observation()
    overwrite_staged(
        enriched.observe(rows, F.count(F.lit(1)).alias("rows")),
        wh.daily_metrics,
        rows,
        "daily_metrics is empty",
    )
    return read_daily_metrics(spark, wh)


def plot_report(
    spark: SparkSession, wh: Warehouse, day: str, window_days: int = 60
) -> str:
    """Stage 5 (reference ``:299-371``): last-60-day close/ma7/ma30 chart.
    Driver-side sink by design — Arrow ``toPandas()`` on a ≤60-row slice.
    matplotlib is preferred when present; without it the chart is rasterized
    by the stdlib PNG renderer (``functions/rasterplot.py``, zlib+struct),
    so S9 produces a real PNG in every environment. A CSV twin with the
    exact window data is written alongside either way, so the numbers
    behind the raster stay machine-readable.
    """
    os.makedirs(wh.reports_dir, exist_ok=True)
    metrics = read_daily_metrics(spark, wh)
    window = trailing_days_slice(metrics, day, days=window_days)
    # ≤ window_days rows: sorted on the driver, not by a Spark range sort
    pdf = (
        window.select("date", "close", "ma7", "ma30")
        .toPandas()
        .sort_values("date", ignore_index=True)
    )
    if pdf.empty:  # P7, reference ``:331-332, :344-345``
        raise ValueError(f"no report window data ending {day}")
    out = wh.report_png(day)
    pdf.to_csv(out.replace(".png", ".csv"), index=False)
    title = f"daily close / ma7 / ma30 through {day}"
    try:
        import matplotlib  # noqa: F401 — preferred renderer when present

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        fig, ax = plt.subplots(figsize=(10, 5))
        for col in ("close", "ma7", "ma30"):
            ax.plot(pdf["date"], pdf[col], label=col)
        ax.legend()
        ax.set_title(title)
        fig.savefig(out, dpi=140)
        plt.close(fig)
    except ImportError:
        from .functions.rasterplot import render_line_chart

        render_line_chart(
            out,
            [str(d) for d in pdf["date"]],
            {c: pdf[c].tolist() for c in ("close", "ma7", "ma30")},
            title=title,
        )
    return out


def quality_checks(
    spark: SparkSession,
    wh: Warehouse,
    day: str,
    report_path: str,
    asset: str = "BTC-USD",
    min_day_rows: int = 20,
) -> list[CheckResult]:
    """Stage 6 (reference ``:373-443``): Q1-Q5 as one report; raises on the
    first failure like the reference's asserts."""
    metrics = read_daily_metrics(spark, wh)
    day_rows = read_raw_day(spark, wh, day).filter(F.col("asset") == asset)
    ohlc_not_null, indicator_completeness = check_day_metrics(  # Q3, Q4
        metrics, day, OHLC_COLS
    )
    results = [
        check_artifact_nonempty(wh.day_csv(day, asset), "day_csv"),  # Q1
        check_min_rows(day_rows, min_day_rows, "day_rowcount"),  # Q2
        ohlc_not_null,
        indicator_completeness,
        check_artifact_nonempty(report_path, "report"),  # Q5
    ]
    for r in results:
        r.raise_if_failed()
    return results


# ---------------------------------------------------------------- orchestrator


def with_retries(
    fn: Callable[[], object], attempts: int = 3, delay_s: float = 0.0
):
    """Task-level retry wrapper (reference default_args ``retries=2``,
    ``:17`` — 3 total attempts)."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001
            last = exc
            if attempt < attempts - 1 and delay_s:
                time.sleep(delay_s)
    raise last  # type: ignore[misc]


@dataclass
class RunResult:
    day: str
    csv_path: str
    report_path: str
    checks: list[CheckResult] = field(default_factory=list)


def run_day(
    spark: SparkSession,
    wh: Warehouse,
    day: str,
    source: DataFrame,
    asset: str = "BTC-USD",
    min_day_rows: int = 20,
    retries: int = 1,
) -> RunResult:
    """One logical day through all six stages — re-run safe (S5/S8/S7 merge
    discipline), mirroring one Airflow DAG run of the reference."""

    def _go() -> RunResult:
        csv_path = extract(spark, wh, day, source, asset=asset)
        load_raw(spark, wh, day, asset=asset)
        compute_daily_metrics(spark, wh, day, asset=asset)
        enrich_indicators(spark, wh)
        report = plot_report(spark, wh, day)
        checks = quality_checks(
            spark, wh, day, report, asset=asset, min_day_rows=min_day_rows
        )
        return RunResult(day, csv_path, report, checks)

    return with_retries(_go, attempts=retries)  # type: ignore[return-value]


def run_range(
    spark: SparkSession,
    wh: Warehouse,
    days: Sequence[str],
    source_for_day: Callable[[str], DataFrame],
    **kwargs,
) -> list[RunResult]:
    """Backfill loop = the reference's ``catchup=True`` (``:15-16``)."""
    return [
        run_day(spark, wh, d, source_for_day(d), **kwargs) for d in days
    ]
