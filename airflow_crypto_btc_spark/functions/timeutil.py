"""Scalar time/cast helpers (operators F1-F8, SURVEY §2.8).

All are thin wrappers over native ``pyspark.sql.functions`` — zero Python
UDFs, so every expression stays inside whole-stage codegen (the reference's
entire scalar surface maps to JVM built-ins; SURVEY §2.10).

Reference citations:
- F1 epoch-ms → UTC ts: ``/root/reference/dags/dag_btc_daily.py:83-84``
- F2 ISO-8601 format ``%Y-%m-%dT%H:%M:%SZ``: ``:85``
- F3 string → double cast: ``:89``
- F4 date → ``YYYY-MM-DD``: ``:37``
- F6 date arithmetic (±days, end-of-day ms): ``:43, :47, :340``
- F8 pct-change kernel ``a/b - 1``: ``:264``
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def epoch_ms_to_ts(col: Column | str) -> Column:
    """F1: Binance ``open_time`` ms-epoch → timestamp (UTC session tz)."""
    return F.timestamp_millis(F.col(col) if isinstance(col, str) else col)


def ts_to_iso(col: Column | str) -> Column:
    """F2: timestamp → ``2024-01-02T03:04:05Z`` string; ISO strings sort
    lexicographically = chronologically, which the reference exploits for
    BETWEEN predicates (``:185``)."""
    return F.date_format(col, ISO_FMT)


def cast_double(col: Column | str) -> Column:
    """F3: numeric-as-string (Binance klines) → double."""
    return (F.col(col) if isinstance(col, str) else col).cast("double")


def date_str(col: Column | str) -> Column:
    """F4: date → ``YYYY-MM-DD`` string."""
    return F.date_format(col, "yyyy-MM-dd")


def pct_change(col: Column, lag_col: Column) -> Column:
    """F8: simple-return kernel ``a/b - 1``.  Note the 0-divisor edge: pandas
    yields ``inf``; Spark double division yields ``Infinity`` for x/0 with
    x≠0 and ``null`` for 0/0 (SURVEY §7 hard-part 5)."""
    return col / lag_col - F.lit(1.0)
