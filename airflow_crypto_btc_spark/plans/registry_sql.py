"""Advanced-SQL query wave — dialect-neutral SQL texts run by Spark
(Catalyst, over registered views) and by DuckDB as their own oracle.  Every
entry but one is a SHARED STRING that both engines execute verbatim; the
recursive return index runs the same recursive text in Spark over a
materialized base (``b`` checkpointed once), from the same two string parts
its oracle text is joined from.  This pins down the engine's ANSI-SQL
surface (SURVEY §3 entry point 2) far beyond the basic select/join/group
core:

- ``WITH RECURSIVE`` (new in Spark 4) — compounded return index, the
  recursive time-series fold previously expressible only via
  applyInPandas (cf. registry_ta.ewm_macd).
- ``GROUP BY GROUPING SETS`` — mixed-granularity rollup in one pass.
- aggregate ``FILTER (WHERE ...)`` clauses — conditional aggregation
  without CASE scaffolding.
- correlated ``LATERAL`` subqueries with ORDER BY + LIMIT — per-row top-k
  without a window function.
- window value functions (first/last/nth_value, offset defaults).
- null-handling scalars incl. ``IS NOT DISTINCT FROM``.

Recursion-depth note: the recursive entries recurse once per day of
history per key (30 here; bounded by calendar days, not data volume —
Spark's default cteRecursionLevelLimit of 100 needs raising for
multi-year backfills, documented in SCALING.md).
"""

from __future__ import annotations

from airflow_crypto_btc_spark.plans.registry import QuerySpec
from airflow_crypto_btc_spark.sources.tables import register_views


def _shared(sql: str):
    def fn(spark, sf_dir, _sql=sql):
        register_views(spark, sf_dir)
        return spark.sql(_sql)

    return QuerySpec(fn, sql)


# Compounded return index: idx_1 = 1; idx_t = idx_{t-1} * close_t/close_{t-1}
# — the recursive fold both engines run from the same text.  ``b`` numbers
# the daily closes per event type; the recursion joins each day to the next.
_RETURN_INDEX_BASE = """
      SELECT event_type, date, close,
        row_number() OVER (PARTITION BY event_type ORDER BY date) AS rn
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS date,
               max_by(value, ts) AS close
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
      )
"""
_RETURN_INDEX_REC = """
    rec AS (
      SELECT event_type, date, close, rn, CAST(1.0 AS DOUBLE) AS ret_index
      FROM b WHERE rn = 1
      UNION ALL
      SELECT b.event_type, b.date, b.close, b.rn,
        r.ret_index * (b.close / r.close)
      FROM b JOIN rec r
        ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, date, close, round(ret_index, 6) AS ret_index
    FROM rec
"""
_SQL_RECURSIVE_RETURN_INDEX = (
    "\n    WITH RECURSIVE b AS (" + _RETURN_INDEX_BASE + "    ),"
    + _RETURN_INDEX_REC
)


def _recursive_return_index(spark, sf_dir):
    """The recursion over ``b`` checkpointed once: inlined, Spark re-runs
    the ``events`` aggregate and its window on every iteration.  The
    formatter's temp view for ``{b}`` is uniquely named and dropped once
    the query is analyzed."""
    register_views(spark, sf_dir)
    base = spark.sql(_RETURN_INDEX_BASE).localCheckpoint()
    return spark.sql(
        "WITH RECURSIVE b AS (SELECT * FROM {b})," + _RETURN_INDEX_REC,
        b=base,
    )


# Mixed-granularity revenue: (nation, yr), (nation), (yr), () in ONE pass.
# Group keys stay nullable (null marks the rolled-up level); yr is cast to
# double so both engines surface the nullable year identically.
_SQL_GROUPING_SETS = """
    WITH base AS (
      SELECT n.n_name AS nation,
        CAST(year(o.o_orderdate) AS DOUBLE) AS yr,
        l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation, yr,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM base
    GROUP BY GROUPING SETS ((nation, yr), (nation), (yr), ())
"""


# Conditional aggregation via the standard FILTER clause.
_SQL_FILTERED_AGGREGATES = """
    SELECT l_returnflag,
      CAST(count(*) AS BIGINT) AS n_all,
      CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
           FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted,
      min(l_shipdate) FILTER (WHERE l_linestatus = 'F') AS first_open_ship,
      max(l_shipdate) FILTER (WHERE l_linestatus = 'O') AS last_o_ship
    FROM lineitem
    GROUP BY l_returnflag
"""


# Correlated LATERAL with ORDER BY + LIMIT: top-2 customers per nation
# without a window function; deterministic tie-break on name.
_SQL_LATERAL_TOPK = """
    SELECT n.n_name AS nation, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name
      LIMIT 2
    ) t
"""


# Window value functions over the keyed daily series: anchored first value,
# running last, 3rd order statistic to date, offset defaults.
_SQL_WINDOW_VALUE_BATTERY = """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS date,
             max_by(value, ts) AS close
      FROM events
      GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, date, close,
      first_value(close) OVER wf AS first_close,
      last_value(close)  OVER wf AS running_close,
      nth_value(close, 3) OVER wf AS third_close,
      lag(close, 2, -1.0)  OVER w AS close_lag2,
      lead(close, 2, -1.0) OVER w AS close_lead2
    FROM d
    WINDOW
      wf AS (PARTITION BY event_type ORDER BY date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w AS (PARTITION BY event_type ORDER BY date)
"""


# Null-handling scalars over an outer join's null-bearing columns.
_SQL_NULL_BATTERY = """
    WITH j AS (
      SELECT c.c_custkey, c.c_acctbal, o.o_totalprice
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT c_custkey,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(coalesce(o_totalprice, 0.0) AS DECIMAL(38,6)))
           AS DOUBLE) AS total_spend,
      CAST(count(o_totalprice) AS BIGINT) AS n_orders,
      bool_or(o_totalprice IS NULL) AS has_no_order_row,
      bool_and(o_totalprice IS NOT DISTINCT FROM o_totalprice)
        AS nullsafe_selfeq,
      max(nullif(o_totalprice, 0.0)) AS max_nonzero_price
    FROM j
    GROUP BY c_custkey
"""


SQL_REGISTRY: dict[str, QuerySpec] = {
    "sql_recursive_return_index": QuerySpec(
        _recursive_return_index, _SQL_RECURSIVE_RETURN_INDEX
    ),
    "sql_grouping_sets": _shared(_SQL_GROUPING_SETS),
    "sql_filtered_aggregates": _shared(_SQL_FILTERED_AGGREGATES),
    "sql_lateral_topk": _shared(_SQL_LATERAL_TOPK),
    "sql_window_value_battery": _shared(_SQL_WINDOW_VALUE_BATTERY),
    "sql_null_battery": _shared(_SQL_NULL_BATTERY),
}
