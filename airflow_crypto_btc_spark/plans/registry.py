"""Query registry: every implemented operator from SURVEY.md §2 as a named
(spark_plan, oracle_sql) pair.

The driver contract (``__spark_entry__.py``) runs each Spark plan at sf0.01
and hash-compares it with the DuckDB oracle (row-count + schema +
order-insensitive value hash).  Two float-determinism rules keep the
comparison exact:

- **Group sums** are computed as ``SUM(CAST(x AS DECIMAL(38,6)))`` then cast
  back to double: decimal addition is associative, so shuffle order cannot
  change the result (plain double sums differ in the last ulps between
  engines).
- **Windowed means/stddevs** are rounded to 6 decimals on BOTH sides:
  Spark evaluates sliding frames by in-order re-accumulation while DuckDB
  uses segment trees, so the addition tree differs; the true values agree to
  ~1e-12 relative error and round identically at 1e-6.

Every computed column is aliased identically in the Spark plan and the SQL
(driver compares by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.indicators import with_indicators
from airflow_crypto_btc_spark.operators.merge import (
    append_ignore,
    dedup_keep_first,
    upsert_by_key,
)
from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
from airflow_crypto_btc_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    sql: str  # DuckDB oracle: same columns, same rows as ``fn``


def _dec_sum(col, alias: str, scale: int = 6):
    """Order-insensitive exact sum of doubles: per-row cast to decimal (a
    deterministic rounding both engines share), associative decimal sum,
    cast back to double."""
    return F.sum(col.cast(f"decimal(38,{scale})")).cast("double").alias(alias)


def _ts_bound(df: DataFrame, col: str, value: str):
    """Literal with the same type as df[col] — robust whether parquet
    timestamps surface as TIMESTAMP or TIMESTAMP_NTZ."""
    return F.lit(value).cast(df.schema[col].dataType)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base: per-(event_type, day) OHLC — `events` plays the klines /
    raw_prices role (FIXTURES.md role mapping)."""
    return daily_ohlc(
        _events(spark, sf_dir), ts_col="ts", price_col="value",
        key_cols=("event_type",),
    )


# DuckDB rendering of the same daily-OHLC base (reference A1 semantics:
# open/close are order-deterministic arg_min/arg_max, not positional).
_SQL_DAILY = """
    SELECT
      event_type,
      CAST(ts AS DATE)   AS date,
      arg_min(value, ts) AS open,
      max(value)         AS high,
      min(value)         AS low,
      arg_max(value, ts) AS close,
      count(value)       AS n_obs
    FROM events
    GROUP BY 1, 2
"""

_SQL_RET = f"""
    SELECT *,
      close / lag(close) OVER (PARTITION BY event_type ORDER BY date) - 1.0
        AS ret_raw
    FROM ({_SQL_DAILY})
"""


# --------------------------------------------------------------------------
# A1 + W1-W4 fused: the flagship plan (SURVEY §7 "minimum end-to-end slice")
# --------------------------------------------------------------------------

def flagship_daily_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_daily_metrics + enrich_indicators fused into one lazy plan
    (reference :163-233 and :235-297): scan → agg → shared-window indicators.
    One shuffle for the groupBy, one exchange+sort for the window family."""
    out = with_indicators(_events_daily(spark, sf_dir), key_cols=("event_type",))
    return out.select(
        "event_type", "date", "open", "high", "low", "close", "n_obs",
        F.round("ret", 6).alias("ret"),
        F.round("ma7", 6).alias("ma7"),
        F.round("ma30", 6).alias("ma30"),
        F.round("vol30", 6).alias("vol30"),
    )


_SQL_FLAGSHIP = f"""
    SELECT event_type, date, open, high, low, close, n_obs,
      round(ret_raw, 6) AS ret,
      round(CASE WHEN count(close) OVER w7 >= 7
                 THEN avg(close) OVER w7 END, 6) AS ma7,
      round(CASE WHEN count(close) OVER w30 >= 30
                 THEN avg(close) OVER w30 END, 6) AS ma30,
      round(CASE WHEN count(ret_raw) OVER w30 >= 30
                 THEN stddev_samp(ret_raw) OVER w30 END, 6) AS vol30
    FROM ({_SQL_RET})
    WINDOW
      w7 AS (PARTITION BY event_type ORDER BY date
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
      w30 AS (PARTITION BY event_type ORDER BY date
              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Individual operators (SURVEY §2 names)
# --------------------------------------------------------------------------

def q_agg_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_daily(spark, sf_dir)


def q_win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("date")
    return _events_daily(spark, sf_dir).select(
        "event_type", "date", "close",
        (F.col("close") / F.lag("close", 1).over(w) - F.lit(1.0)).alias("ret"),
    )


def _one_indicator(spark, sf_dir, window: int, agg: str, alias: str):
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("date")
    daily = _events_daily(spark, sf_dir)
    if agg == "stddev_ret":
        daily = daily.withColumn(
            "ret",
            F.round(F.col("close") / F.lag("close", 1).over(w) - 1.0, 6),
        )
        target, fn = F.col("ret"), F.stddev_samp
        extra = ["ret"]
    else:
        target, fn = F.col("close"), F.avg
        extra = []
    frame = w.rowsBetween(-(window - 1), 0)
    gated = F.when(F.count(target).over(frame) >= window, fn(target).over(frame))
    return daily.select(
        "event_type", "date", "close", *extra,
        F.round(gated, 6).alias(alias),
    )


def q_win_ma7(spark, sf_dir):
    return _one_indicator(spark, sf_dir, 7, "avg", "ma7")


def q_win_ma30(spark, sf_dir):
    return _one_indicator(spark, sf_dir, 30, "avg", "ma30")


def q_win_vol30(spark, sf_dir):
    return _one_indicator(spark, sf_dir, 30, "stddev_ret", "vol30")


def q_win_vol10(spark, sf_dir):
    """Same W4 kernel with a 10-row window so the null→non-null transition
    and the stddev_samp value are actually exercised on the 30-day fixture
    (vol30 stays all-null there — 30 non-null rets need day 31)."""
    return _one_indicator(spark, sf_dir, 10, "stddev_ret", "vol10")


def _sql_one_indicator(window: int, agg: str, alias: str) -> str:
    if agg == "stddev_ret":
        return f"""
        SELECT event_type, date, close, ret,
          round(CASE WHEN count(ret) OVER f >= {window}
                     THEN stddev_samp(ret) OVER f END, 6) AS {alias}
        FROM (SELECT event_type, date, close, round(ret_raw, 6) AS ret
              FROM ({_SQL_RET}))
        WINDOW f AS (PARTITION BY event_type ORDER BY date
                     ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)
        """
    return f"""
    SELECT event_type, date, close,
      round(CASE WHEN count(close) OVER f >= {window}
                 THEN avg(close) OVER f END, 6) AS {alias}
    FROM ({_SQL_DAILY})
    WINDOW f AS (PARTITION BY event_type ORDER BY date
                 ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW)
    """


def q_filter_between_ts(spark, sf_dir):
    """P4 with the scale-correct half-open bound (SURVEY §7 hard-part 4:
    `>= day AND < day+1`, not string BETWEEN 23:59:59)."""
    ev = _events(spark, sf_dir)
    return ev.filter(
        (F.col("ts") >= _ts_bound(ev, "ts", "2024-01-05 00:00:00"))
        & (F.col("ts") < _ts_bound(ev, "ts", "2024-01-11 00:00:00"))
        & (F.col("event_type") == "purchase")
    ).select("event_id", "ts", "user_id", "value")


_SQL_FILTER_BETWEEN_TS = """
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-11 00:00:00'
      AND event_type = 'purchase'
"""


def q_project_filter_literal(spark, sf_dir):
    """P1 + P2 + P3: column subset/reorder, constant dimension column,
    equality predicate (reference :92, :130-131, :185)."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withColumn("asset", F.lit("BTC-USD"))
        .select("ts", "asset", "value")
    )


_SQL_PROJECT_FILTER_LITERAL = """
    SELECT ts, 'BTC-USD' AS asset, value
    FROM events WHERE event_type = 'click'
"""


def q_filter_point_lookup(spark, sf_dir):
    """P5: PK lookup in the daily metrics state (reference :414-417)."""
    return _events_daily(spark, sf_dir).filter(
        F.col("date") == F.lit("2024-01-15").cast("date")
    )


_SQL_FILTER_POINT_LOOKUP = f"""
    SELECT * FROM ({_SQL_DAILY}) WHERE date = DATE '2024-01-15'
"""


def q_filter_trailing_window(spark, sf_dir):
    """P6/W5: last-7-calendar-days slice, inclusive both ends
    (reference :339-341 uses 60 days; 7 here so the slice is non-trivial on
    the 30-day fixture)."""
    from airflow_crypto_btc_spark.operators.indicators import (
        trailing_days_slice,
    )

    return trailing_days_slice(
        _events_daily(spark, sf_dir), end_date="2024-01-30", days=7
    )


_SQL_FILTER_TRAILING_WINDOW = f"""
    SELECT * FROM ({_SQL_DAILY})
    WHERE date BETWEEN DATE '2024-01-30' - INTERVAL 7 DAY AND DATE '2024-01-30'
"""


def q_dedup_keep_first(spark, sf_dir):
    """D1: keep-first dedup made deterministic with row_number (reference
    :93 relies on frame order; after a shuffle that's gone)."""
    return dedup_keep_first(
        _events(spark, sf_dir),
        key_cols=("user_id", "event_type"),
        order_col=("ts", "event_id"),
    ).select("user_id", "event_type", "event_id", "ts", "value")


_SQL_DEDUP_KEEP_FIRST = """
    SELECT user_id, event_type, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


def q_agg_count_filtered(spark, sf_dir):
    """A2 / Q2 input: day row-count for one key (reference :399-411)."""
    ev = _events(spark, sf_dir)
    return (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.to_date("ts") == F.lit("2024-01-15").cast("date"))
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


_SQL_AGG_COUNT_FILTERED = """
    SELECT event_type, count(*) AS n
    FROM events
    WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
"""


def q_agg_count_total(spark, sf_dir):
    """A3: history-length gate input (reference :427-429)."""
    return _events_daily(spark, sf_dir).agg(F.count("*").alias("n"))


_SQL_AGG_COUNT_TOTAL = f"SELECT count(*) AS n FROM ({_SQL_DAILY})"


def q_agg_extrema(spark, sf_dir):
    """A4: max/min of a numeric column per key (reference :197-198)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.max("value").alias("vmax"),
            F.min("value").alias("vmin"),
            F.count("value").alias("n"),
        )
    )


_SQL_AGG_EXTREMA = """
    SELECT event_type, max(value) AS vmax, min(value) AS vmin,
           count(value) AS n
    FROM events GROUP BY event_type
"""


def q_first_last_by_order(spark, sf_dir):
    """O2: order-deterministic first/last (min_by/max_by, never F.first/
    F.last which are shuffle-nondeterministic — SURVEY §4.2 item 3)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.min_by("value", "ts").alias("first_value"),
            F.max_by("value", "ts").alias("last_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


_SQL_FIRST_LAST_BY_ORDER = """
    SELECT event_type,
           arg_min(value, ts) AS first_value,
           arg_max(value, ts) AS last_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Merge writers queried as state (S5 / S8) — SURVEY §7 step 9
# --------------------------------------------------------------------------

def q_sink_table_append_ignore(spark, sf_dir):
    """S5 first-writer-wins merge: existing = days 1-15, incoming = days
    10-30 with values doubled.  Overlap days 10-15 must keep ORIGINAL values
    (existing wins); only 16-30 arrive doubled."""
    ev = _events(spark, sf_dir).select("ts", "event_type", "value")
    cut = _ts_bound(ev, "ts", "2024-01-16 00:00:00")
    lo = _ts_bound(ev, "ts", "2024-01-10 00:00:00")
    existing = ev.filter(F.col("ts") < cut)
    incoming = ev.filter(F.col("ts") >= lo).withColumn(
        "value", F.col("value") * 2.0
    )
    return append_ignore(
        existing, incoming, key_cols=("ts", "event_type"),
        broadcast_incoming=False,
    )


_SQL_SINK_TABLE_APPEND_IGNORE = """
    WITH existing AS (
      SELECT ts, event_type, value FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ), incoming AS (
      SELECT ts, event_type, value * 2.0 AS value FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    )
    SELECT * FROM existing
    UNION ALL
    SELECT i.* FROM incoming i
    WHERE NOT EXISTS (
      SELECT 1 FROM existing e
      WHERE e.ts = i.ts AND e.event_type = i.event_type)
"""


def q_sink_table_upsert(spark, sf_dir):
    """S8 last-writer-wins keyed upsert: incoming OHLC (+10) for days 15-25
    overwrites open/high/low/close; untouched columns (n_obs here, playing
    the ret/ma7/... role of reference :219-230) keep their existing value
    and are NULL for brand-new keys."""
    daily = _events_daily(spark, sf_dir)
    existing = daily.filter(F.col("date") <= F.lit("2024-01-20").cast("date"))
    incoming = (
        daily.filter(
            F.col("date").between(
                F.lit("2024-01-15").cast("date"),
                F.lit("2024-01-25").cast("date"),
            )
        )
        .select(
            "event_type", "date",
            (F.col("open") + 10.0).alias("open"),
            (F.col("high") + 10.0).alias("high"),
            (F.col("low") + 10.0).alias("low"),
            (F.col("close") + 10.0).alias("close"),
        )
    )
    return upsert_by_key(
        existing, incoming, key_cols=("event_type", "date"),
        update_cols=("open", "high", "low", "close"),
    )


_SQL_SINK_TABLE_UPSERT = f"""
    WITH daily AS ({_SQL_DAILY}),
    e AS (SELECT * FROM daily WHERE date <= DATE '2024-01-20'),
    i AS (
      SELECT event_type, date, open + 10.0 AS open, high + 10.0 AS high,
             low + 10.0 AS low, close + 10.0 AS close
      FROM daily
      WHERE date BETWEEN DATE '2024-01-15' AND DATE '2024-01-25'
    )
    SELECT
      COALESCE(e.event_type, i.event_type) AS event_type,
      COALESCE(e.date, i.date)             AS date,
      CASE WHEN i.date IS NOT NULL THEN i.open  ELSE e.open  END AS open,
      CASE WHEN i.date IS NOT NULL THEN i.high  ELSE e.high  END AS high,
      CASE WHEN i.date IS NOT NULL THEN i.low   ELSE e.low   END AS low,
      CASE WHEN i.date IS NOT NULL THEN i.close ELSE e.close END AS close,
      e.n_obs AS n_obs
    FROM e FULL OUTER JOIN i
      ON e.event_type = i.event_type AND e.date = i.date
"""


# --------------------------------------------------------------------------
# Relational join surface (SURVEY §2.3 — required by merge semantics and the
# star-schema correctness harness; broadcast hints for dimension joins)
# --------------------------------------------------------------------------

def q_join_broadcast_region_revenue(spark, sf_dir):
    """Star join orders→customer→nation→region with explicit broadcast of
    every dimension: at 100 TB the fact side streams, dims ship to every
    executor, zero shuffle for the join itself (only the final groupBy)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            _dec_sum(F.col("o_totalprice"), "total_revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_SQL_JOIN_BROADCAST_REGION_REVENUE = """
    SELECT r_name,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        AS total_revenue,
      count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
"""


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem: the canonical
    scan→filter→wide-agg plan; partial aggregation map-side, decimal sums
    for order-insensitive exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    charge = disc_price * (1.0 + F.col("l_tax"))
    cut = _ts_bound(li, "l_shipdate", "2001-06-01 00:00:00")
    out = (
        li.filter(F.col("l_shipdate") <= cut)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price"),
            _dec_sum(charge, "sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn(
            "avg_price", F.col("sum_base_price") / F.col("count_order")
        )
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order",
    )


_SQL_Q1_PRICING_SUMMARY = """
    WITH agg AS (
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
          AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                      AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                      AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
           sum_disc_price, sum_charge,
           sum_qty / count_order AS avg_qty,
           sum_base_price / count_order AS avg_price,
           count_order
    FROM agg
"""


def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped: selective dim filter → fact join → agg → top-k.
    Deterministic top-k tie-break on the key so LIMIT is stable."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut_o = _ts_bound(orders, "o_orderdate", "1998-06-01 00:00:00")
    cut_l = _ts_bound(li, "l_shipdate", "1998-06-01 00:00:00")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > cut_l)
        .join(
            orders.filter(F.col("o_orderdate") < cut_o),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(_dec_sum(disc_price, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_SQL_Q3_SHIPPING_PRIORITY = """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5-shaped multi-join (fact ⋈ orders ⋈ customer ⋈ supplier ⋈
    nation ⋈ region) with the local-supplier condition
    c_nationkey = s_nationkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lo = _ts_bound(orders, "o_orderdate", "1996-01-01 00:00:00")
    hi = _ts_bound(orders, "o_orderdate", "1998-01-01 00:00:00")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .groupBy("r_name", "n_name")
        .agg(_dec_sum(disc_price, "revenue"), F.count("*").alias("n_items"))
    )


_SQL_Q5_NATION_REVENUE = """
    SELECT r_name, n_name,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r_name, n_name
"""


def q_agg_count_distinct(spark, sf_dir):
    """Distinct aggregation (engine join/agg surface beyond the reference)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_SQL_AGG_COUNT_DISTINCT = """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

REGISTRY: dict[str, QuerySpec] = {
    "flagship_daily_indicators": QuerySpec(
        flagship_daily_indicators, _SQL_FLAGSHIP
    ),
    "agg_ohlc_daily": QuerySpec(q_agg_ohlc_daily, _SQL_DAILY),
    "win_pct_change": QuerySpec(
        q_win_pct_change,
        f"SELECT event_type, date, close, ret_raw AS ret FROM ({_SQL_RET})",
    ),
    "win_ma7": QuerySpec(q_win_ma7, _sql_one_indicator(7, "avg", "ma7")),
    "win_ma30": QuerySpec(q_win_ma30, _sql_one_indicator(30, "avg", "ma30")),
    "win_vol30": QuerySpec(
        q_win_vol30, _sql_one_indicator(30, "stddev_ret", "vol30")
    ),
    "win_vol10": QuerySpec(
        q_win_vol10, _sql_one_indicator(10, "stddev_ret", "vol10")
    ),
    "filter_between_ts": QuerySpec(q_filter_between_ts, _SQL_FILTER_BETWEEN_TS),
    "project_filter_literal": QuerySpec(
        q_project_filter_literal, _SQL_PROJECT_FILTER_LITERAL
    ),
    "filter_point_lookup": QuerySpec(
        q_filter_point_lookup, _SQL_FILTER_POINT_LOOKUP
    ),
    "filter_trailing_window": QuerySpec(
        q_filter_trailing_window, _SQL_FILTER_TRAILING_WINDOW
    ),
    "dedup_keep_first": QuerySpec(q_dedup_keep_first, _SQL_DEDUP_KEEP_FIRST),
    "agg_count_filtered": QuerySpec(
        q_agg_count_filtered, _SQL_AGG_COUNT_FILTERED
    ),
    "agg_count_total": QuerySpec(q_agg_count_total, _SQL_AGG_COUNT_TOTAL),
    "agg_extrema": QuerySpec(q_agg_extrema, _SQL_AGG_EXTREMA),
    "first_last_by_order": QuerySpec(
        q_first_last_by_order, _SQL_FIRST_LAST_BY_ORDER
    ),
    "sink_table_append_ignore": QuerySpec(
        q_sink_table_append_ignore, _SQL_SINK_TABLE_APPEND_IGNORE
    ),
    "sink_table_upsert": QuerySpec(q_sink_table_upsert, _SQL_SINK_TABLE_UPSERT),
    "join_broadcast_region_revenue": QuerySpec(
        q_join_broadcast_region_revenue, _SQL_JOIN_BROADCAST_REGION_REVENUE
    ),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, _SQL_Q1_PRICING_SUMMARY),
    "q3_shipping_priority": QuerySpec(
        q3_shipping_priority, _SQL_Q3_SHIPPING_PRIORITY
    ),
    "q5_nation_revenue": QuerySpec(q5_nation_revenue, _SQL_Q5_NATION_REVENUE),
    "agg_count_distinct": QuerySpec(
        q_agg_count_distinct, _SQL_AGG_COUNT_DISTINCT
    ),
}
