"""Physical-layout operators: skew-salted aggregation and bucketed
co-located joins.

These are the knobs a 100 TB deployment turns that small-scale code never
needs — shipped as first-class operators with equivalence tests so they are
*provably* semantics-preserving:

- **Salted aggregation**: a skewed group key (one entity with 100× the
  rows) makes one reducer the straggler.  Two-phase aggregation shards each
  key across ``salt`` sub-keys (map-side partials per shard, then a final
  combine) so the hot key's work spreads over ``salt`` reducers.  AQE's
  skew-join splitting handles *joins*; this handles *aggregations*, which
  AQE does not re-shard.
- **Bucketed tables**: pre-shuffling both sides of a recurring equi-join
  into the same bucket layout (``bucketBy`` + ``sortBy``) makes every later
  join on that key exchange-free — the classic amortization for fact-fact
  joins run daily.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: agg name → (partial expr builder, final expr builder).  Each aggregate
#: must decompose into a per-shard partial and an associative final combine.
_DECOMPOSABLE = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


#: Shuffle-exchange markers in an executed-plan string.  Matched
#: specifically (not the bare substring "Exchange") so a plan whose only
#: exchange is a BroadcastExchange/ReusedExchange still gets the
#: partition-count probe — its kernel input may well be one scan
#: partition that deserves widening.
_SHUFFLE_MARKERS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange RoundRobinPartitioning",
    "Exchange SinglePartition",
)


def widen_small_input(df, min_bytes_per_task: int = 16 << 10):
    """Give a Python (Arrow) kernel enough parallelism to saturate the
    session — but no more than its input can pay for: a small table
    often arrives as ONE parquet file = one input partition, and
    ``mapInPandas`` inherits that — running the vectorized kernel on a
    single core of N (measured 1.5 s → 0.7 s for the md5 LSH prep at
    sf0.1 after widening).

    The width is COST-BASED, not unconditional: the scan's estimated
    ``sizeInBytes`` is divided by ``min_bytes_per_task`` and clamped to
    the default parallelism, so a kilobyte-scale input is never
    round-robin-shuffled into 32 near-empty Python workers whose fixed
    per-task cost exceeds the kernel win.  Callers tune the floor to
    their kernel's per-byte cost: the md5 kernels in ``dedup`` (many
    hashes per input byte) pass their own small floor; the PQ encode
    and scoring kernels keep the default.

    Guards:

    - plans already containing a SHUFFLE exchange are returned
      untouched — their kernel input carries post-shuffle parallelism,
      AND probing them with ``df.rdd`` under AQE would EXECUTE the
      upstream shuffle stages just to count partitions (double work per
      streaming batch).  Broadcast-only exchanges fall through to the
      probe: building the (small) broadcast side early is harmless.
    - non-JVM sessions (Spark Connect) have no ``_jdf`` — the probe is
      skipped entirely and the input passes through unchanged, which is
      always semantics-preserving.
    - an input already at (or above) the cost-based width passes
      through with no added shuffle — the at-scale multi-file case.
      The round-robin shuffle, when it happens, moves only the
      kernel's projected columns of a small input."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        size = int(qe.optimizedPlan().stats().sizeInBytes())
    except Exception:  # Spark Connect / non-JVM session: no cheap probe
        return df
    if any(marker in plan for marker in _SHUFFLE_MARKERS):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    width = min(target, max(1, -(-size // max(1, min_bytes_per_task))))
    if width <= 1 or df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width)


def salted_aggregate(
    df: DataFrame,
    key_cols: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe groupBy.

    ``aggs`` is a list of (column, agg_name, alias) with agg_name in
    {sum, count, min, max} — the decomposable aggregates.  Equivalent to
    ``df.groupBy(keys).agg(...)`` for any input (see
    tests/test_physical.py), but the first shuffle key is
    ``keys + salt_shard`` so a pathologically hot key fans out over
    ``salt`` reducers instead of one.

    avg/stddev callers: decompose into sum+count (avg) or
    sum+sum-of-squares+count (stddev) and finish with column arithmetic.
    """
    keys = list(key_cols)
    shard = (F.rand(seed=0) * salt).cast("int").alias("__shard")
    partials, finals = [], []
    for col, name, alias in aggs:
        if name not in _DECOMPOSABLE:
            raise ValueError(
                f"{name} is not decomposable; use sum/count/min/max"
            )
        partial_fn, final_fn = _DECOMPOSABLE[name]
        partials.append(partial_fn(F.col(col)).alias(f"__p_{alias}"))
        finals.append(final_fn(F.col(f"__p_{alias}")).alias(alias))
    return (
        df.withColumn("__shard", shard)
        .groupBy(*keys, "__shard")
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join key.
    Spark's bucketing lives in the session catalog (``saveAsTable``), not
    plain parquet paths — both sides of a later join on ``bucket_cols``
    then read pre-shuffled and the join plans with zero Exchange."""
    writer = df.write.mode("overwrite").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def bucketed_join_is_exchange_free(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str]
) -> tuple[DataFrame, bool]:
    """Join two bucketed tables and report whether the plan is free of
    *shuffle* exchanges (bucket layouts matched — the sort-merge join reads
    both sides pre-partitioned).  Note the planner prefers a broadcast join
    when one side is small enough, which bypasses bucketing entirely — the
    layout pays off on big-big joins."""
    joined = spark.table(left_table).join(
        spark.table(right_table), list(on)
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    return joined, "Exchange hashpartitioning" not in plan


def binned_range_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_day",
    end_col: str = "end_day",
    bin_col: str = "_bin",
) -> DataFrame:
    """Keyless interval join without a nested-loop plan: explode each
    interval into its covered day bins, equi-join facts on their day bin,
    then re-check the exact range predicate.

    A pure ``ts BETWEEN start AND end`` join with no equi-key compiles to
    BroadcastNestedLoopJoin / CartesianProduct — O(|facts|·|intervals|)
    comparisons, a non-starter at 100 TB.  Binning turns it into a hash
    join whose probe work is O(|facts| + Σ interval_days), at the cost of
    replicating each interval once per covered bin (bounded by interval
    length — choose bin granularity accordingly).  Tested equivalent to
    the naive join and asserted BNLJ-free (tests/test_physical.py)."""
    day = F.to_date(F.col(ts_col))
    exploded = intervals.withColumn(
        bin_col,
        F.explode(F.sequence(F.col(start_col), F.col(end_col))),
    )
    return (
        facts.withColumn(bin_col, day)
        .join(exploded, bin_col)
        .filter(day.between(F.col(start_col), F.col(end_col)))
        .drop(bin_col)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
) -> DataFrame:
    """Skew-proof inner equi-join: replicate the small side ``salt`` times
    and scatter the big side's hot keys across salt shards, so no single
    reducer owns a hot key's entire row set.

    AQE's skew-join splitting usually makes this unnecessary — but AQE
    only splits *sort-merge* join partitions; a forced shuffle-hash join,
    a disabled-AQE deployment, or an aggregation-after-join pipeline that
    must keep the salted partitioning still wants the explicit form.
    Equivalence with the plain join is tested, not assumed."""
    # deterministic sharding: hash of the whole row, not rand(), so the
    # join is replayable and retry-safe.  pmod, not abs(...)%: abs throws
    # on Int32.MinValue under ANSI and yields a negative (match-less,
    # silently dropped) shard with ANSI off.
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt)),
    )
    replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")
