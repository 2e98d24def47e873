"""Advanced-SQL wave (plans/registry_sql.py): each shared-string query is
cross-validated against an independent DataFrame-API or pandas
re-implementation (the DuckDB oracle match is the driver's job; these
tests pin the semantics a second way)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.plans.registry_sql import SQL_REGISTRY
from airflow_crypto_btc_spark.sources.tables import load_table, register_views


def _run(spark, sf_dir, name):
    return SQL_REGISTRY[name].fn(spark, sf_dir).toPandas()


def test_recursive_return_index_is_cumulative_product(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_recursive_return_index")
    for et, g in got.groupby("event_type"):
        g = g.sort_values("date").reset_index(drop=True)
        ratios = (g["close"] / g["close"].shift(1)).fillna(1.0)
        np.testing.assert_allclose(
            g["ret_index"], ratios.cumprod().round(6), rtol=1e-6
        )
        assert g["ret_index"].iloc[0] == 1.0


# The oracle text as both engines ran it verbatim before the Spark side
# materialized ``b``: the oracle must not drift with that change.
_SHARED_RETURN_INDEX_SQL = """
    WITH RECURSIVE b AS (
      SELECT event_type, date, close,
        row_number() OVER (PARTITION BY event_type ORDER BY date) AS rn
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS date,
               max_by(value, ts) AS close
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
      )
    ),
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


def test_recursive_return_index_materialized_base_matches_inline(
    spark, sf_dir
):
    """The entry runs its oracle text's recursion over ``b`` checkpointed
    once: the same rows as the text run inline, in fewer jobs, and no
    temp view left behind."""
    spec = SQL_REGISTRY["sql_recursive_return_index"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(group, build):
        sc.setJobGroup(group, group)
        try:
            rows = sorted(map(tuple, build().collect()))
            return rows, len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    register_views(spark, sf_dir)
    views = sorted(t.name for t in spark.catalog.listTables())
    want, inline_jobs = run("recursive-inline", lambda: spark.sql(spec.sql))
    got, entry_jobs = run("recursive-entry", lambda: spec.fn(spark, sf_dir))
    assert got == want
    assert len(got) > 0
    assert entry_jobs < inline_jobs
    assert sorted(t.name for t in spark.catalog.listTables()) == views
    assert spec.sql == _SHARED_RETURN_INDEX_SQL


def test_grouping_sets_totals_consistent(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_grouping_sets")
    grand = got[got["nation"].isna() & got["yr"].isna()]
    assert len(grand) == 1
    by_nation = got[got["nation"].notna() & got["yr"].isna()]
    by_year = got[got["nation"].isna() & got["yr"].notna()]
    cells = got[got["nation"].notna() & got["yr"].notna()]
    for sub in (by_nation, by_year, cells):
        assert sub["n_items"].sum() == grand["n_items"].iloc[0]
        assert abs(sub["revenue"].sum() - grand["revenue"].iloc[0]) < 1e-3


def test_lateral_topk_matches_window_rank(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_lateral_topk")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_name")
    )
    want = (
        cust.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .select(F.col("n_name").alias("nation"), "c_name", "c_acctbal")
        .toPandas()
    )
    key = ["nation", "c_name", "c_acctbal"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def test_filtered_aggregates_match_case_when(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_filtered_aggregates")
    li = load_table(spark, sf_dir, "lineitem")
    want = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
        )
        .toPandas()
        .set_index("l_returnflag")["n_bulk"]
    )
    for _, r in got.iterrows():
        assert r["n_bulk"] == want[r["l_returnflag"]]


def test_null_battery_idle_customers(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_null_battery")
    idle = got[got["has_no_order_row"]]
    assert (idle["n_orders"] == 0).all()
    assert (idle["total_spend"] == 0.0).all()
    assert got["nullsafe_selfeq"].all()  # x IS NOT DISTINCT FROM x is true


def test_window_value_battery_third_value_gate(spark, sf_dir):
    got = _run(spark, sf_dir, "sql_window_value_battery")
    for et, g in got.groupby("event_type"):
        g = g.sort_values("date").reset_index(drop=True)
        assert g["third_close"].iloc[:2].isna().all()
        if len(g) >= 3:
            assert (g["third_close"].iloc[2:] == g["close"].iloc[2]).all()
        assert (g["first_close"] == g["close"].iloc[0]).all()
        assert (g["running_close"] == g["close"]).all()
        assert (g["close_lag2"].iloc[:2] == -1.0).all()
