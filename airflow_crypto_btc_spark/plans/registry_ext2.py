"""Round-2 surface extensions: date/array scalar batteries and two
curation sampling operators (Efraimidis-Spirakis weighted reservoir and
configured-mixture quota sampling).

Determinism rules as in plans/registry.py; the weighted-sample libm ``pow``
is rounded to 12 decimals before ranking with a doc_id tie-break so both
engines make the identical top-k cut.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from airflow_crypto_btc_spark.plans.registry import QuerySpec
from airflow_crypto_btc_spark.sources.tables import load_table


# ---------------------------------------------------- date function battery


def q_scalar_date_battery(spark, sf_dir):
    """Calendar scalar functions over the distinct shipdate domain:
    month bounds, parts, ISO week, clamped month arithmetic, day diffs.
    Distinct-first keeps the battery O(|dates|), not O(|lineitem|)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(F.to_date("l_shipdate").alias("d")).distinct()
    return d.select(
        "d",
        F.last_day("d").alias("month_end"),
        F.trunc("d", "month").alias("month_start"),
        F.year("d").cast("long").alias("yr"),
        F.quarter("d").cast("long").alias("qtr"),
        F.month("d").cast("long").alias("mo"),
        F.dayofmonth("d").cast("long").alias("dom"),
        F.dayofweek("d").cast("long").alias("dow"),
        F.dayofyear("d").cast("long").alias("doy"),
        F.weekofyear("d").cast("long").alias("iso_week"),
        F.add_months("d", 3).alias("plus_3m"),
        F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
    )


_SQL_SCALAR_DATE_BATTERY = """
    WITH d AS (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem)
    SELECT d,
      last_day(d) AS month_end,
      CAST(date_trunc('month', d) AS DATE) AS month_start,
      CAST(year(d) AS BIGINT) AS yr,
      CAST(quarter(d) AS BIGINT) AS qtr,
      CAST(month(d) AS BIGINT) AS mo,
      CAST(day(d) AS BIGINT) AS dom,
      CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
      CAST(dayofyear(d) AS BIGINT) AS doy,
      CAST(weekofyear(d) AS BIGINT) AS iso_week,
      CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3m,
      CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT)
        AS days_since_95
    FROM d
"""


# ---------------------------------------------------- array function battery


def q_scalar_array_battery(spark, sf_dir):
    """Array higher-order surface over document token arrays: slicing,
    reversal, set ops vs a literal stopword array, membership/position —
    all JVM-side array expressions, zero shuffles."""
    from airflow_crypto_btc_spark.operators.text import with_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = with_tokens(docs).select("doc_id", "tokens")
    stop = "array('the', 'a', 'of', 'and')"
    return t.select(
        "doc_id",
        F.expr("size(tokens)").cast("long").alias("n_tokens"),
        F.expr("array_join(slice(tokens, 1, 5), ' ')").alias("first5"),
        F.expr(
            "CASE WHEN size(tokens) >= 3 "
            "THEN array_join(slice(tokens, -3, 3), ' ') END"
        ).alias("last3"),
        F.expr("size(array_distinct(tokens))").cast("long").alias("n_types"),
        F.expr("element_at(reverse(tokens), 1)").alias("last_token"),
        F.expr("array_contains(tokens, 'the')").alias("has_the"),
        F.expr("array_position(tokens, 'the')").cast("long").alias("pos_the"),
        F.expr(
            "array_join(array_sort(array_distinct("
            f"array_intersect(tokens, {stop}))), ',')"
        ).alias("stop_overlap"),
    )


_SQL_SCALAR_ARRAY_BATTERY = """
    WITH t AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
          AS tokens
      FROM documents
    )
    SELECT doc_id,
      CAST(len(tokens) AS BIGINT) AS n_tokens,
      array_to_string(list_slice(tokens, 1, 5), ' ') AS first5,
      CASE WHEN len(tokens) >= 3
           THEN array_to_string(list_slice(tokens, -3, -1), ' ')
      END AS last3,
      CAST(len(list_distinct(tokens)) AS BIGINT) AS n_types,
      tokens[-1] AS last_token,
      list_contains(tokens, 'the') AS has_the,
      CAST(coalesce(list_position(tokens, 'the'), 0) AS BIGINT) AS pos_the,
      coalesce(array_to_string(list_sort(list_distinct(
        list_intersect(tokens, ['the', 'a', 'of', 'and']))), ','), '')
        AS stop_overlap
    FROM t
"""


# ------------------------------------- weighted reservoir sample (A-ES key)


def q_curate_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement: rank by
    ``u^(1/w)`` with a deterministic per-doc uniform (md5-derived) and
    weight = document length.  One global top-k over a derived key — at
    scale this is a per-partition partial top-k + tiny final merge (Spark's
    TakeOrderedAndProject), never a full sort."""
    from airflow_crypto_btc_spark.functions.hashing import hex8_to_bigint_sql

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = hex8_to_bigint_sql("md5(concat(cast(doc_id as string), ':ws'))")
    u = f"(({h}) + 0.5) / 4294967296.0"
    key = F.round(
        F.pow(F.expr(u), F.lit(1.0) / F.col("n_chars").cast("double")), 12
    )
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(20)
    )


_SQL_CURATE_WEIGHTED_SAMPLE = """
    SELECT doc_id, source, n_chars,
      round(pow(
        (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8))::BIGINT
         + 0.5) / 4294967296.0,
        1.0 / CAST(n_chars AS DOUBLE)), 12) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY es_key DESC, doc_id
    LIMIT 20
"""


# ------------------------------------------------ mixture quota sampling


def q_curate_mixture(spark, sf_dir):
    """Training-mixture construction: per-language quotas (out of a
    100-doc budget) filled by deterministic hash rank — the data-mixing
    step of a pretraining pipeline.  The quota table is a broadcast
    dimension; ranking is one window per language partition."""
    from airflow_crypto_btc_spark.functions.hashing import hex8_to_bigint_sql

    quotas = [("en", 40), ("zh", 25), ("fr", 15), ("es", 10), ("de", 10)]
    docs = load_table(spark, sf_dir, "documents")
    qdf = docs.sparkSession.createDataFrame(quotas, "lang string, quota int")
    h = hex8_to_bigint_sql("md5(concat(cast(doc_id as string), ':mx'))")
    w = Window.partitionBy("lang").orderBy(F.expr(h), F.col("doc_id"))
    ranked = docs.select("doc_id", "lang").withColumn(
        "mix_rank", F.row_number().over(w).cast("long")
    )
    return (
        ranked.join(F.broadcast(qdf), "lang")
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "lang", "mix_rank")
    )


_SQL_CURATE_MIXTURE = """
    WITH ranked AS (
      SELECT doc_id, lang,
        row_number() OVER (
          PARTITION BY lang
          ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mx'),
                    1, 8))::BIGINT, doc_id) AS mix_rank
      FROM documents
    )
    SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank
    FROM ranked
    JOIN (VALUES ('en', 40), ('zh', 25), ('fr', 15), ('es', 10), ('de', 10))
      AS q(lang2, quota) ON lang = lang2
    WHERE mix_rank <= quota
"""


# --------------------------------------------- SQL-text entry point (§3.2)

# ONE dialect-neutral ANSI string executed verbatim by BOTH engines —
# Spark's Catalyst path via spark.sql over registered views (the reference's
# pd.read_sql_query lifecycle, /root/reference/dags/dag_btc_daily.py:181-190)
# and DuckDB as the oracle.  Decimal-cast sums + deterministic rank
# tie-breaks per the registry float rules.
_SHARED_SQL_MONTHLY_RANK = """
    WITH rev AS (
      SELECT n.n_name AS nation,
        CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, CAST(date_trunc('month', o.o_orderdate) AS DATE)
    )
    SELECT nation, month, revenue,
      CAST(row_number() OVER (
        PARTITION BY month ORDER BY revenue DESC, nation) AS BIGINT) AS rnk
    FROM rev
"""


def q_sql_text_entrypoint(spark, sf_dir):
    """SURVEY §3 entry point 2 — the SQL-string lifecycle: text → Catalyst
    parse/analyze/optimize over registered views.  The exact same string is
    the DuckDB oracle, proving the engine speaks portable ANSI SQL."""
    from airflow_crypto_btc_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL_MONTHLY_RANK)


# ------------------------------------------- mergeable HLL sketch rollup


def q_approx_hll_users_rollup(spark, sf_dir):
    """Two-level distinct counting with mergeable Datasketches HLL: one
    sketch per (event_type, day) partition, then a union-merge per
    event_type — the pattern that makes incremental/rollup distinct counts
    possible at 100 TB (per-partition sketches persist; a new day unions
    in O(sketch) instead of rescanning history).  ORACLE-BACKED via the
    bounds technique (round 13): the Datasketches registers are not
    DuckDB-replayable and the fixture cardinalities (15–1500 users/type)
    sit in the sketch's exact sparse regime, so the hashable contract is
    the rollup's ENVELOPE — exact per-type distinct count, the number of
    daily sketches merged, and a boolean the hash checks (|merged
    estimate − exact| ≤ max(1, 5% · exact)).  A union-merge bug flips
    the boolean; tests/test_analytics.py additionally bounds the raw
    estimate."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("date"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("approx_users"),
        F.count("*").cast("long").alias("n_days_merged"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_users_exact",
        "n_days_merged",
        (
            F.abs(F.col("approx_users") - F.col("n_users_exact"))
            <= F.greatest(F.lit(1.0), 0.05 * F.col("n_users_exact"))
        ).alias("approx_within_5pct"),
    )


_SQL_APPROX_HLL_USERS_ROLLUP = """
    SELECT event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
      CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days_merged,
      TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
"""


# --------------------------------------------- declarative DQ expectation suite


def q_dq_expectation_suite(spark, sf_dir):
    """Great-Expectations-style declarative rule suite evaluated in ONE
    aggregation pass (the reference's quality_checks stage,
    `/root/reference/dags/dag_btc_daily.py:373-443`, generalized to a rule
    table): each rule row carries its metric, threshold, and verdict.
    One single-row aggregate + a stack unpivot; the scan count is a
    constant of the suite (2, from the two distinct-aggregates), never a
    function of how many rules it evaluates."""
    ev = load_table(spark, sf_dir, "events")
    allowed = "('click','view','purchase','signup','error')"
    m = ev.agg(
        F.count("*").cast("double").alias("row_count"),
        (F.count("ts") * F.lit(1.0) / F.count("*")).alias("ts_not_null"),
        (
            F.count(F.when(F.expr(f"event_type IN {allowed}"), 1))
            * F.lit(1.0)
            / F.count("*")
        ).alias("type_valid"),
        F.countDistinct("user_id").cast("double").alias("distinct_users"),
        F.datediff(
            F.to_date(F.max("ts")), F.lit("2024-01-01").cast("date")
        ).cast("double").alias("freshness_days"),
        (
            F.lit(1.0)
            - F.countDistinct("event_id") * F.lit(1.0) / F.count("*")
        ).alias("dup_rate"),
    )
    rules = [
        ("row_count_min", "row_count", 1000.0, ">="),
        ("ts_not_null_frac", "ts_not_null", 1.0, ">="),
        ("event_type_valid_frac", "type_valid", 1.0, ">="),
        ("distinct_users_min", "distinct_users", 10.0, ">="),
        ("freshness_days_min", "freshness_days", 25.0, ">="),
        ("event_id_dup_rate_max", "dup_rate", 0.0, "<="),
    ]
    stack_args = ", ".join(
        f"'{name}', round({col}, 6), cast({thr} as double), "
        + (f"{col} >= {thr}" if op == ">=" else f"{col} <= {thr}")
        for name, col, thr, op in rules
    )
    return m.selectExpr(
        f"stack({len(rules)}, {stack_args}) "
        "as (rule, metric, threshold, passed)"
    )


_SQL_DQ_EXPECTATION_SUITE = """
    WITH m AS (
      SELECT
        CAST(count(*) AS DOUBLE) AS row_count,
        count(ts) * 1.0 / count(*) AS ts_not_null,
        count(*) FILTER (WHERE event_type IN
          ('click','view','purchase','signup','error')) * 1.0 / count(*)
          AS type_valid,
        CAST(count(DISTINCT user_id) AS DOUBLE) AS distinct_users,
        CAST(date_diff('day', DATE '2024-01-01', CAST(max(ts) AS DATE))
             AS DOUBLE) AS freshness_days,
        1.0 - count(DISTINCT event_id) * 1.0 / count(*) AS dup_rate
      FROM events
    )
    SELECT 'row_count_min' AS rule, round(row_count, 6) AS metric,
           CAST(1000.0 AS DOUBLE) AS threshold, row_count >= 1000.0 AS passed
    FROM m
    UNION ALL SELECT 'ts_not_null_frac', round(ts_not_null, 6),
           1.0, ts_not_null >= 1.0 FROM m
    UNION ALL SELECT 'event_type_valid_frac', round(type_valid, 6),
           1.0, type_valid >= 1.0 FROM m
    UNION ALL SELECT 'distinct_users_min', round(distinct_users, 6),
           10.0, distinct_users >= 10.0 FROM m
    UNION ALL SELECT 'freshness_days_min', round(freshness_days, 6),
           25.0, freshness_days >= 25.0 FROM m
    UNION ALL SELECT 'event_id_dup_rate_max', round(dup_rate, 6),
           0.0, dup_rate <= 0.0 FROM m
"""


# ------------------------------------------------ blocked fuzzy-match join

#: edit-distance bound shared by the Spark plan and its oracle
_FUZZY_MAX_EDITS = 1


def q_fuzzy_name_pairs(spark, sf_dir):
    """Entity-resolution pattern: candidate pairs by cheap blocking key
    (name prefix), exact Levenshtein ≤ ``_FUZZY_MAX_EDITS`` inside each
    block.  Blocking turns the O(n²) all-pairs edit-distance into
    O(Σ block²) with bounded blocks — the standard scale path for fuzzy
    joins; the equi-join on the block key shuffles both sides once."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.expr("substr(c_name, 10, 7)").alias("blk")
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(b, "blk").filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
    # banded threshold form (Spark 3.5+): O(len·k) instead of O(len²)
    # per pair and early-exits past the bound, returning -1 for pairs
    # beyond it — those are exactly the rows the bound filter drops, and
    # surviving rows carry the true distance, so output is identical
    # to the unbounded form (the oracle computes the unbounded one)
    lev = F.expr(f"levenshtein(a.c_name, b.c_name, {_FUZZY_MAX_EDITS})")
    return (
        pairs.withColumn("lev", lev)
        .filter((F.col("lev") >= 0) & (F.col("lev") <= _FUZZY_MAX_EDITS))
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("lev").cast("long").alias("lev"),
        )
    )


_SQL_FUZZY_NAME_PAIRS = f"""
    WITH c AS (
      SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {_FUZZY_MAX_EDITS}
"""


# --------------------------------------------- error-safe scalar battery


def q_scalar_try_battery(spark, sf_dir):
    """ANSI-mode error-safe scalars: Spark 4 runs ANSI by default, where
    bare division-by-zero and malformed casts THROW; the try_* family
    yields null instead.  The oracle mirrors with TRY_CAST and guarded
    division (DuckDB's double division is non-ANSI IEEE).  Exercised on
    real data plus literal poison values."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("try_divide(value, value - value)").alias("div_by_zero"),
        F.expr("try_divide(value, 2.0)").alias("safe_half"),
        F.expr("try_cast(props AS INT)").alias("json_as_int"),
        F.expr("try_cast(substr(cast(ts as string), 1, 10) AS DATE)")
        .alias("ts_prefix_date"),
    )


_SQL_SCALAR_TRY_BATTERY = """
    SELECT event_id,
      CASE WHEN value - value <> 0.0 THEN value / (value - value)
      END AS div_by_zero,
      value / 2.0 AS safe_half,
      TRY_CAST(props AS INTEGER) AS json_as_int,
      TRY_CAST(substr(CAST(ts AS VARCHAR), 1, 10) AS DATE)
        AS ts_prefix_date
    FROM events
"""


# --------------------------------------------- nested struct build/unnest


def q_nested_struct_roundtrip(spark, sf_dir):
    """Nested-type surface: collect each order's lineitems into a sorted
    array of structs, compute on the nested value (size, struct field
    access via element_at, higher-order sum over struct fields), i.e. the
    document-model round trip relational → nested → scalars.  The oracle
    states the same VALUES relationally (min_by / count / decimal sum) —
    the comparison pins semantics, not representation."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("l_linenumber", "l_partkey", "l_quantity")
                )
            ).alias("items")
        )
    )
    return nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.col("items")[0]["l_partkey"].alias("first_part"),
        F.element_at("items", -1)["l_linenumber"]
        .cast("long")
        .alias("last_line"),
        F.expr(
            "cast(aggregate(items, cast(0 as decimal(38,6)), "
            "(acc, x) -> acc + cast(x.l_quantity as decimal(38,6))) "
            "as double)"
        ).alias("total_qty"),
    )


_SQL_NESTED_STRUCT_ROUNDTRIP = """
    SELECT l_orderkey,
      CAST(count(*) AS BIGINT) AS n_items,
      min_by(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey)
        AS first_part,
      CAST(max(l_linenumber) AS BIGINT) AS last_line,
      CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
"""


# ------------------------------------------- keyless binned range join


def q_join_range_binned(spark, sf_dir):
    """Keyless interval join on the binned scale path
    (operators/physical.binned_range_join): audit windows derived from
    the data (every 3rd day, 2-day spans) counted against ALL events by
    timestamp containment — no equi-key exists, yet the plan is a hash
    join on day bins, never a nested loop.  The oracle states the naive
    range join (DuckDB's IEJoin handles it natively)."""
    from airflow_crypto_btc_spark.operators.physical import binned_range_join

    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(F.to_date("ts").alias("d"))
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(
            F.explode(F.expr("sequence(mn, mx, interval 3 days)")).alias(
                "start_day"
            )
        )
        .select(
            "start_day",
            F.date_add("start_day", 1).alias("end_day"),
        )
    )
    joined = binned_range_join(ev, days)
    return joined.groupBy("start_day", "end_day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_value"),
    )


_SQL_JOIN_RANGE_BINNED = """
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
      FROM events
    ),
    w AS (
      SELECT CAST(g AS DATE) AS start_day,
             CAST(g AS DATE) + 1 AS end_day
      FROM (
        SELECT unnest(generate_series(CAST(mn AS TIMESTAMP),
                                      CAST(mx AS TIMESTAMP),
                                      INTERVAL 3 DAY)) AS g
        FROM b
      )
    )
    SELECT w.start_day, w.end_day,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM w JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN w.start_day AND w.end_day
    GROUP BY 1, 2
"""


# --------------------------------------------- cumulative distinct users


def q_cumulative_distinct_users(spark, sf_dir):
    """Running distinct-user count by day — the count-distinct-over-window
    problem, solved the scalable way: distinct-over-window is not
    directly computable, but first-seen dates are (one aggregate), and
    their running sum IS the cumulative distinct count.  Daily actives
    ride the same day aggregate."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(day).alias("first_day"))
        .groupBy("first_day")
        .agg(F.count("*").alias("new_users"))
    )
    actives = (
        ev.select(day.alias("d"), "user_id")
        .distinct()
        .groupBy("d")
        .agg(F.count("*").alias("active_users"))
    )
    joined = actives.join(
        firsts, actives["d"] == firsts["first_day"], "left"
    ).select(
        "d",
        F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
        F.col("active_users").cast("long").alias("active_users"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return joined.withColumn(
        "cum_distinct_users", F.sum("new_users").over(w).cast("long")
    )


_SQL_CUMULATIVE_DISTINCT_USERS = """
    WITH firsts AS (
      SELECT first_day, count(*) AS new_users FROM (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
      ) GROUP BY 1
    ),
    actives AS (
      SELECT d, count(*) AS active_users FROM (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
      ) GROUP BY 1
    )
    SELECT a.d,
      CAST(coalesce(f.new_users, 0) AS BIGINT) AS new_users,
      CAST(a.active_users AS BIGINT) AS active_users,
      CAST(sum(coalesce(f.new_users, 0)) OVER (
        ORDER BY a.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS cum_distinct_users
    FROM actives a LEFT JOIN firsts f ON a.d = f.first_day
"""


# ------------------------------------------------ regex scalar battery


def q_scalar_regex_battery(spark, sf_dir):
    """Regex scalar surface on real text: extract-all with counts, first
    match, membership, global replace length delta.  Patterns stick to
    the POSIX-class core both engines' regex dialects (Java vs RE2) agree
    on."""
    docs = load_table(spark, sf_dir, "documents")
    pat = "[a-z]*a[a-z]*"  # tokens containing an 'a'
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{pat}', 0))")
        .cast("long")
        .alias("n_a_tokens"),
        F.expr(f"regexp_extract(text, '{pat}', 0)").alias("first_a_token"),
        F.expr("text rlike '[0-9]'").alias("has_digit"),
        (
            F.length("text")
            - F.length(F.expr("regexp_replace(text, '[aeiou]', '')"))
        )
        .cast("long")
        .alias("n_vowels"),
    )


_SQL_SCALAR_REGEX_BATTERY = """
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[a-z]*a[a-z]*'))
           AS BIGINT) AS n_a_tokens,
      coalesce(regexp_extract(text, '[a-z]*a[a-z]*'), '')
        AS first_a_token,
      regexp_matches(text, '[0-9]') AS has_digit,
      CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
           AS BIGINT) AS n_vowels
    FROM documents
"""


# ------------------------------------------------ session path analysis


def q_session_paths(spark, sf_dir):
    """Top user journeys: the first three event types of every session
    (30-min gap), counted across all sessions.  Order inside a session is
    pinned by (ts, event_id); the path string is built from a SORTED
    struct array, never from collect_list's arrival order — the
    determinism rule every order-sensitive aggregation here follows."""
    from airflow_crypto_btc_spark.operators.asof import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, ts_col="ts", key_cols=("user_id",)).select(
        F.col("user_id").alias("s_uid"),
        "session_start",
        "session_end",
    )
    tagged = ev.join(
        sess,
        (ev["user_id"] == sess["s_uid"])
        & ev["ts"].between(sess["session_start"], sess["session_end"]),
    ).select(
        F.col("s_uid").alias("uid"),
        "session_start",
        "ts",
        "event_id",
        "event_type",
    )
    arr = F.expr(
        "transform(array_sort(collect_list(struct(ts, event_id, "
        "event_type))), x -> x.event_type)"
    )
    paths = (
        tagged.groupBy("uid", "session_start")
        .agg(arr.alias("steps"))
        .select(
            F.expr(
                "array_join(slice(steps, 1, 3), '>')"
            ).alias("path3")
        )
    )
    return (
        paths.groupBy("path3")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path3"))
        .limit(10)
    )


_SQL_SESSION_PATHS = """
    WITH flags AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  <= INTERVAL 30 MINUTE
             THEN 0 ELSE 1 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    ),
    ranked AS (
      SELECT user_id, sid, event_type,
        row_number() OVER (PARTITION BY user_id, sid
                           ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, sid,
        string_agg(event_type, '>' ORDER BY rn) AS path3
      FROM ranked WHERE rn <= 3
      GROUP BY 1, 2
    )
    SELECT path3, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY 1
    ORDER BY n_sessions DESC, path3
    LIMIT 10
"""


EXT2_REGISTRY: dict[str, QuerySpec] = {
    "scalar_regex_battery": QuerySpec(
        q_scalar_regex_battery, _SQL_SCALAR_REGEX_BATTERY
    ),
    "session_paths": QuerySpec(q_session_paths, _SQL_SESSION_PATHS),
    "join_range_binned": QuerySpec(
        q_join_range_binned, _SQL_JOIN_RANGE_BINNED
    ),
    "cumulative_distinct_users": QuerySpec(
        q_cumulative_distinct_users, _SQL_CUMULATIVE_DISTINCT_USERS
    ),
    "scalar_try_battery": QuerySpec(
        q_scalar_try_battery, _SQL_SCALAR_TRY_BATTERY
    ),
    "nested_struct_roundtrip": QuerySpec(
        q_nested_struct_roundtrip, _SQL_NESTED_STRUCT_ROUNDTRIP
    ),
    "dq_expectation_suite": QuerySpec(
        q_dq_expectation_suite, _SQL_DQ_EXPECTATION_SUITE
    ),
    "fuzzy_name_pairs": QuerySpec(q_fuzzy_name_pairs, _SQL_FUZZY_NAME_PAIRS),
    "sql_text_entrypoint": QuerySpec(
        q_sql_text_entrypoint, _SHARED_SQL_MONTHLY_RANK
    ),
    "approx_hll_users_rollup": QuerySpec(
        q_approx_hll_users_rollup, _SQL_APPROX_HLL_USERS_ROLLUP
    ),
    "scalar_date_battery": QuerySpec(
        q_scalar_date_battery, _SQL_SCALAR_DATE_BATTERY
    ),
    "scalar_array_battery": QuerySpec(
        q_scalar_array_battery, _SQL_SCALAR_ARRAY_BATTERY
    ),
    "curate_weighted_sample": QuerySpec(
        q_curate_weighted_sample, _SQL_CURATE_WEIGHTED_SAMPLE
    ),
    "curate_mixture": QuerySpec(q_curate_mixture, _SQL_CURATE_MIXTURE),
}
