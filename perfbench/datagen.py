"""Seeded input generators.  The same seed gives byte-identical inputs.

Shapes follow FIXTURES.md: hourly klines pages (A1) for the pipeline,
TPC-H-ish star tables plus an ``events`` stream for the analytics
catalog, and a ``documents`` / ``embeddings`` corpus drawn the way
``tools/gen_sf1.py`` draws it (31-word Zipf vocabulary, exact and near
duplicates, unit vectors in 10 label clusters).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2024, 1, 1)
_MS_DAY = 86_400_000
_EPOCH = dt.date(1970, 1, 1)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def day_str(i: int) -> str:
    """ISO date of pipeline day ``i`` (1-based)."""
    return (DAY0 + dt.timedelta(days=i - 1)).isoformat()


# ------------------------------------------------------------------ klines


def klines(seed: int, n_days: int) -> dict[str, list[list]]:
    """Binance-shaped hourly pages per day: 12 columns, numerics as
    strings.  About one day in six loses 1-4 hours (20-23 rows, still
    above the Q2 floor); about one day in three re-delivers one candle
    verbatim at the end of the page (a duplicate ``open_time``)."""
    rng = np.random.default_rng([seed, 1])
    price = 42_000.0
    pages: dict[str, list[list]] = {}
    for d in range(1, n_days + 1):
        day_ms = (DAY0 + dt.timedelta(days=d - 1) - _EPOCH).days * _MS_DAY
        hours = list(range(24))
        if rng.random() < 1 / 6:
            drop = rng.choice(24, size=int(rng.integers(1, 5)), replace=False)
            hours = [h for h in hours if h not in set(drop.tolist())]
        rows = []
        for h in hours:
            o = price
            price = max(1.0, price * float(np.exp(rng.normal(0, 0.004))))
            hi = max(o, price) * (1 + abs(rng.normal(0, 0.001)))
            lo = min(o, price) * (1 - abs(rng.normal(0, 0.001)))
            vol = float(rng.uniform(50, 500))
            t = day_ms + h * 3_600_000
            rows.append([
                t, f"{o:.2f}", f"{hi:.2f}", f"{lo:.2f}", f"{price:.2f}",
                f"{vol:.4f}", t + 3_599_999, f"{vol * price:.2f}",
                int(rng.integers(1_000, 9_000)), f"{vol / 2:.4f}",
                f"{vol * price / 2:.2f}", "0",
            ])
        if rng.random() < 1 / 3:
            rows.append(list(rows[int(rng.integers(0, len(rows)))]))
        pages[day_str(d)] = rows
    return pages


# ---------------------------------------------------------------- warehouse

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "small", "large", "black", "white"]
_THINGS = ["ring", "widget", "bolt", "nut", "gear", "spring"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _ts_ms(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    """Whole-day timestamps (ms precision) uniform in [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, size=n)
    base = np.datetime64(lo.isoformat(), "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(seed: int, scale: float, event_days: int, n_docs: int) -> dict[str, pa.Table]:
    """The ten catalog tables at ``scale`` (1.0 ~ TPC-H sf0.01: 60k
    lineitem rows, 10k events) with events spread over ``event_days``
    days from 2024-01-01, and ``n_docs`` documents and vectors."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(1_500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2_000 * scale))
    n_ord = max(200, int(15_000 * scale))
    n_line = 4 * n_ord
    n_users = max(20, int(150 * scale))
    n_ev = max(1_000, int(10_000 * scale))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_COLORS[int(a)]} {_THINGS[int(b)]}"
            for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 6, n_part))
        ],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
        "o_orderdate": _ts_ms(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_ms(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    # events in NANOSECOND parquet timestamps, like the fixture
    lo_ns = 1_704_067_200_000_000_000
    ts = np.sort(rng.integers(lo_ns, lo_ns + event_days * 86_400 * 10**9, n_ev))
    ts = ts // 1_000 * 1_000  # µs-exact so both engines truncate alike
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 100, n_ev),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = documents(rng, n_docs)
    out["embeddings"] = embeddings(rng, n_docs)
    return out


def documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    w = 1.0 / np.arange(1, len(vocab) + 1)
    w /= w.sum()
    texts = [
        " ".join(vocab[rng.choice(len(vocab), size=int(k), p=w)])
        for k in rng.integers(8, 100, size=n)
    ]
    head = max(10, n // 10)
    for i in rng.choice(np.arange(head, n), size=n // 50, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, head))]  # exact dup
    for i in rng.choice(np.arange(head, n), size=n // 50, replace=False):
        words = texts[int(rng.integers(0, head))].split()
        for _ in range(3):  # near dup: a few substitutions
            words[int(rng.integers(0, len(words)))] = str(
                vocab[int(rng.integers(0, len(vocab)))]
            )
        texts[int(i)] = " ".join(words)
    langs = np.array(["en", "fr", "de", "es", "zh"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, size=n, p=[0.44, 0.13, 0.14, 0.14, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, size=n)
    vecs = centers[lab] + 0.35 * rng.normal(size=(n, dim))
    for i in rng.choice(n, size=n // 50, replace=False):
        vecs[int(i)] = vecs[int(rng.integers(0, n))] + 1e-3 * rng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(
            vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
        ),
        "label": lab.astype(np.int32),
    })


def write_tables(tbls: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
