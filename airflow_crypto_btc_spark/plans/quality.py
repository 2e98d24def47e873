"""Data-quality checks as a first-class engine module (SURVEY §2.11).

The reference's signature feature is ``quality_checks``
(``/root/reference/dags/dag_btc_daily.py:373-443``): a pipeline stage that
hard-fails on invariant violations.  The engine renders each rule as a
DataFrame assertion that returns a (check, passed, observed, expected) row —
composable into one report and cheap at scale (counts aggregate map-side;
point lookups prune to one partition when state is date-partitioned).

| rule | reference | engine |
| Q1/Q5 artifact exists & non-empty   | :394-395, :439-441 | path check |
| Q2 day row-count ≥ threshold        | :398-411           | filtered count |
| Q3 OHLC non-null for the day        | :413-424           | one aggregate |
| Q4 indicator completeness gate      | :426-435           | (same), gated |
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    check: str
    passed: bool
    observed: str
    expected: str

    def raise_if_failed(self) -> "CheckResult":
        if not self.passed:
            raise AssertionError(
                f"DQ check '{self.check}' failed: observed={self.observed}, "
                f"expected={self.expected}"
            )
        return self


def check_artifact_nonempty(path: str, name: str = "artifact") -> CheckResult:
    """Q1/Q5: file (or directory) exists and is non-empty; a ``.png``
    artifact must additionally open with the PNG signature (Q5 now always
    receives a real raster — the stdlib renderer covers matplotlib-less
    environments)."""
    size = 0
    ok_format = True
    if os.path.isfile(path):
        size = os.path.getsize(path)
        if path.endswith(".png"):
            with open(path, "rb") as fh:
                ok_format = fh.read(8) == b"\x89PNG\r\n\x1a\n"
    elif os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
    return CheckResult(
        f"{name}_nonempty",
        size > 0 and ok_format,
        f"bytes={size} format_ok={ok_format}",
        "bytes>0 and magic matches",
    )


def check_min_rows(
    df: DataFrame, min_rows: int, name: str = "rowcount"
) -> CheckResult:
    """Q2-style threshold: ``df`` (already filtered to the slice under test)
    has at least ``min_rows`` rows.  Uses ``limit(min_rows).count()`` so the
    scan can stop early instead of counting the world."""
    n = df.limit(min_rows).count()
    return CheckResult(name, n >= min_rows, f"rows>={n}", f"rows>={min_rows}")


def check_day_metrics(
    metrics: DataFrame,
    day: str,
    ohlc_cols: Sequence[str],
    history_min: int = 30,
    indicator_cols: Sequence[str] = ("ma30", "vol30"),
) -> tuple[CheckResult, CheckResult]:
    """Q3 and Q4 of ``day`` from one aggregate over the ``metrics`` table
    (``date`` column plus ``ohlc_cols`` and ``indicator_cols``).

    - Q3 ``ohlc_not_null`` (reference ``:413-424``): no nulls in
      ``ohlc_cols`` among the day's rows.
    - Q4 ``indicator_completeness`` (reference ``:426-435``): only once the
      table holds ≥ ``history_min`` rows must the day's row be present with
      non-null ``indicator_cols``.
    """
    on_day = F.col("date") == F.lit(day).cast("date")
    row = metrics.agg(
        F.count(F.lit(1)).alias("__total"),
        F.count_if(on_day).alias("__day_rows"),
        *[
            F.count_if(on_day & F.col(c).isNull()).alias(c)
            for c in (*ohlc_cols, *indicator_cols)
        ],
    ).collect()[0]

    bad_ohlc = {c: row[c] for c in ohlc_cols if row[c] > 0}
    q3 = CheckResult(
        "ohlc_not_null",
        not bad_ohlc,
        f"null_counts={bad_ohlc or 0}",
        "no nulls",
    )

    total, present = row["__total"], row["__day_rows"] > 0
    if total < history_min:
        return q3, CheckResult(
            "indicator_completeness",
            True,
            f"history={total}<{history_min} (gate inactive)",
            "gate inactive or indicators non-null",
        )
    bad = [c for c in indicator_cols if row[c] > 0]
    return q3, CheckResult(
        "indicator_completeness",
        present and not bad,
        f"history={total}, day_row={'present' if present else 'MISSING'}, "
        f"null={bad}",
        f"{tuple(indicator_cols)} non-null once history>={history_min}",
    )


def observed_metrics(df, name: str = "dq"):
    """In-flight data-quality metrics via ``df.observe`` — the zero-cost
    observability channel: metrics are accumulated DURING the action that
    already runs (no second scan, unlike a separate quality query), and
    the same call works on streaming DataFrames (metrics surface per
    micro-batch in StreamingQueryProgress.observedMetrics).

    Returns (instrumented_df, observation).  Batch: after any action on
    the instrumented frame, ``observation.get`` yields the metric dict.
    Streaming: ``Observation`` handles are batch-only, so the metrics are
    registered under the NAME (second return is None) and read from each
    micro-batch's ``observedMetrics[name]`` in the query progress."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    ]
    if df.isStreaming:
        return df.observe(name, *metrics), None
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
