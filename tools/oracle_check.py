"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet fixtures, then compares row count, column set, and
(order-insensitively) every value — *exactly*, not approximately, so that any
reasonable driver-side hash also matches.

Usage:  python tools/oracle_check.py [sf_dir] [query ...]

With no query names every catalog entry runs; an unknown name is an error.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values to hashable canon forms,
    sort rows — mirrors an order-insensitive value hash."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            # exact float canon: repr of the double; NaN/None unified
            df[c] = s.map(
                lambda v: "null"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else repr(float(v))
            )
        elif s.dtype == object:
            df[c] = s.map(lambda v: "null" if v is None else str(v))
        else:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_df, oracle_df) -> list[str]:
    problems: list[str] = []
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns differ: spark={s_cols} oracle={o_cols}")
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(
            f"row count differs: spark={len(spark_df)} oracle={len(oracle_df)}"
        )
    a, b = _canon(spark_df), _canon(oracle_df)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        diff = pd.concat(
            [a[neq].head(3).add_prefix("spark_"),
             b[neq].head(3).add_prefix("oracle_")],
            axis=1,
        )
        problems.append(f"values differ on {int(neq.sum())} rows:\n{diff}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    # the checkout this tool sits in, wherever it is run from
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as e
    from airflow_crypto_btc_spark.session import get_spark

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    if only:
        qs = {n: qs[n] for n in only}

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"  {p}")
        else:
            print(f"PASS {name}: {len(sdf)} rows")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
