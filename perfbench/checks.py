"""Output references, computed outside the timed region.

- Catalog entries: the DuckDB oracle (``QuerySpec.sql``) over the same
  parquet files, compared by row count plus an order-insensitive hash of
  canonical cell values (floats by ``repr``, so the match is exact).
- Pipeline days: OHLC and ret/ma7/ma30/vol30 recomputed in pandas with
  the reference DAG's formulas, plus the Q4 verdict those values imply.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Cell canon of ``tools/oracle_check.py``: timestamps at µs, floats
    by ``repr`` with NaN and None unified, everything else by ``str``."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.map(
                lambda v: "null"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else repr(float(v))
            )
        elif s.dtype == object:
            pdf[c] = s.map(lambda v: "null" if v is None else str(v))
        else:
            pdf[c] = s.astype(str)
    return pdf


def digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name."""
    canon = _canon(pdf)
    rows = sorted("\x1f".join(r) for r in canon.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(canon.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        return digest(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()


# ----------------------------------------------------------------- pipeline

OHLC = ("open", "high", "low", "close")
INDICATORS = ("ret", "ma7", "ma30", "vol30")


def reference_metrics(pages: dict[str, list[list]], days: list[str]) -> pd.DataFrame:
    """``daily_metrics`` as the reference DAG computes it for ``days``:
    keep-first dedup on open_time, OHLC in time order, then pct_change,
    rolling(7/30).mean and rolling(30).std (ddof=1) over the day rows."""
    recs = []
    for d in days:
        seen: dict[int, float] = {}
        for r in pages[d]:
            seen.setdefault(int(r[0]), float(r[4]))
        px = [seen[t] for t in sorted(seen)]
        recs.append({"date": d, "open": px[0], "high": max(px),
                     "low": min(px), "close": px[-1]})
    df = pd.DataFrame(recs)
    df["ret"] = df["close"].pct_change()
    df["ma7"] = df["close"].rolling(7, min_periods=7).mean()
    df["ma30"] = df["close"].rolling(30, min_periods=30).mean()
    df["vol30"] = df["ret"].rolling(30, min_periods=30).std()
    return df


def expected_dq_failure(ref: pd.DataFrame, day: str) -> str | None:
    """The Q4 gate on the reference table: once history holds 30 rows,
    the day's ma30 and vol30 must be non-null."""
    if len(ref) < 30:
        return None
    row = ref[ref["date"] == day].iloc[0]
    if pd.isna(row["ma30"]) or pd.isna(row["vol30"]):
        return "indicator_completeness"
    return None


def compare_metrics(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems between the warehouse's ``daily_metrics`` and the
    reference.  OHLC must match exactly; indicators to 1e-9 relative,
    since Spark's windowed sums and pandas' rolling sums add in
    different orders."""
    got = got.assign(date=got["date"].astype(str)).sort_values("date")
    want = want.sort_values("date")
    if list(got["date"]) != list(want["date"]):
        return [f"dates differ: {list(got['date'])[-3:]} vs {list(want['date'])[-3:]}"]
    problems = []
    for c in OHLC + INDICATORS:
        for d, a, b in zip(want["date"], got[c], want[c]):
            if pd.isna(a) and pd.isna(b):
                continue
            tol = 0.0 if c in OHLC else 1e-9 * max(1.0, abs(b))
            if pd.isna(a) or pd.isna(b) or abs(a - b) > tol:
                problems.append(f"{d} {c}: got {a!r} want {b!r}")
    return problems[:5]

