"""Property-based tests (hypothesis): the engine's exact-semantics claims
hold on arbitrary inputs, not just the fixtures.

- indicators == pandas pct_change / rolling(min_periods) / std(ddof=1)
- merge writers: append_ignore idempotent + first-writer-wins,
  upsert last-writer-wins on update_cols only
- asof_join == pandas.merge_asof (backward, by-key)

Examples are kept small (Spark job per example); 5 examples per property
still covers degenerate shapes (empty, single row, all-duplicate keys).

Round-5 additions (appended below): OHLC merge==recompute on random
splits with tied boundary timestamps, Arrow-vs-HOF minhash/simhash
kernel parity on arbitrary unicode text, and label-prop vs two-star
connected components vs a driver-side union-find on random graphs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

closes = st.lists(
    st.floats(
        min_value=0.1, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=40,
)


@given(closes=closes)
@SETTINGS
def test_indicators_match_pandas(spark, closes):
    from airflow_crypto_btc_spark.operators.indicators import with_indicators

    pdf = pd.DataFrame(
        {
            "asset": "A",
            "date": pd.date_range("2024-01-01", periods=len(closes)).date,
            "close": closes,
        }
    )
    got = (
        with_indicators(
            spark.createDataFrame(pdf), key_cols=("asset",)
        )
        .orderBy("date")
        .toPandas()
    )
    s = pd.Series(closes)
    exp_ret = s.pct_change()
    exp_ma7 = s.rolling(7, min_periods=7).mean()
    exp_ma30 = s.rolling(30, min_periods=30).mean()
    exp_vol30 = exp_ret.rolling(30, min_periods=30).std()  # ddof=1
    for col, exp in (
        ("ret", exp_ret),
        ("ma7", exp_ma7),
        ("ma30", exp_ma30),
        ("vol30", exp_vol30),
    ):
        np.testing.assert_allclose(
            got[col].to_numpy(dtype=float),
            exp.to_numpy(dtype=float),
            rtol=1e-9,
            equal_nan=True,
            err_msg=col,
        )


kv_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100)),
    min_size=0,
    max_size=20,
)


@given(existing=kv_rows, incoming=kv_rows)
@SETTINGS
def test_append_ignore_first_writer_wins_and_idempotent(
    spark, existing, incoming
):
    from airflow_crypto_btc_spark.operators.merge import append_ignore

    schema = "k int, seq int, v int"
    e = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(existing)], schema
    )
    i_ = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(incoming)], schema
    )
    once = append_ignore(e, i_, key_cols=("k",), order_col="seq").toPandas()
    twice = append_ignore(
        spark.createDataFrame(once, schema), i_, key_cols=("k",),
        order_col="seq",
    ).toPandas()

    # idempotent: reapplying the same batch changes nothing
    key = ["k", "seq", "v"]
    pd.testing.assert_frame_equal(
        once.sort_values(key).reset_index(drop=True),
        twice.sort_values(key).reset_index(drop=True),
    )
    # first-writer-wins: every existing row survives untouched, and a key
    # never appears more than once unless it was already duplicated
    e_pdf = e.toPandas()
    merged_keys = set(once["k"])
    assert set(e_pdf["k"]).issubset(merged_keys)
    new_keys = merged_keys - set(e_pdf["k"])
    for k in new_keys:
        assert (once["k"] == k).sum() == 1  # intra-batch dedup keep-first
        first_seq = min(s for (kk, s, v) in i_.collect() if kk == k)
        assert once.loc[once["k"] == k, "seq"].iloc[0] == first_seq


asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
    min_size=0,
    max_size=15,
)


@given(left=asof_rows, right=asof_rows)
@SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    import datetime as dt

    from airflow_crypto_btc_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)

    def ts(m):
        return base + dt.timedelta(minutes=m)

    lpdf = pd.DataFrame(
        [
            {"g": g, "ts": ts(m), "lv": float(v), "rid": i}
            for i, (g, m, v) in enumerate(left)
        ]
    )
    # dedupe right on (g, ts): merge_asof picks the LAST of equal
    # timestamps while the engine's window picks a deterministic one —
    # equal-ts right rows are ambiguous by construction, so drop them
    rpdf = (
        pd.DataFrame(
            [
                {"g": g, "ts": ts(m), "rv": float(v)}
                for (g, m, v) in right
            ]
        ).drop_duplicates(subset=["g", "ts"], keep="last")
        if right
        else pd.DataFrame(
            {
                "g": pd.Series(dtype="int64"),
                "ts": pd.Series(dtype="datetime64[ns]"),
                "rv": pd.Series(dtype="float64"),
            }
        )
    )
    if lpdf.empty:
        return

    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf, "g int, ts timestamp, rv double"),
            left_ts="ts",
            right_ts="ts",
            by=("g",),
            value_cols=("rv",),
        )
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf.sort_values("ts"),
        on="ts",
        by="g",
        direction="backward",
    ).sort_values("rid").reset_index(drop=True)
    np.testing.assert_allclose(
        got["r_rv"].to_numpy(dtype=float),
        exp["rv"].to_numpy(dtype=float),
        equal_nan=True,
    )


@given(closes=closes)
@SETTINGS
def test_rsi_bounded_and_ewm_matches_pandas(spark, closes):
    """RSI stays in [0, 100] wherever defined, and the EWM recursion
    matches pandas ewm(adjust=False) on arbitrary positive series."""
    from airflow_crypto_btc_spark.operators.ta import ewm_indicators, with_rsi

    pdf = pd.DataFrame(
        {
            "event_type": "A",
            "date": pd.date_range("2024-01-01", periods=len(closes)).date,
            "close": closes,
        }
    )
    df = spark.createDataFrame(pdf)
    rsi = (
        with_rsi(df).orderBy("date").toPandas()["rsi14"].dropna()
    )
    assert ((rsi >= 0) & (rsi <= 100)).all()

    got = ewm_indicators(df).orderBy("date").toPandas()
    e12 = pdf["close"].ewm(span=12, adjust=False).mean()
    np.testing.assert_allclose(got["ema_fast"], e12, rtol=1e-9)


@given(closes=closes)
@SETTINGS
def test_gap_fill_identity_on_dense_series(spark, closes):
    """Gap-filling an already-dense daily series is the identity: no gap
    rows, ffill == close everywhere."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    pdf = pd.DataFrame(
        {
            "event_type": "A",
            "date": pd.date_range("2024-01-01", periods=len(closes)).date,
            "close": closes,
        }
    )
    d = spark.createDataFrame(pdf)
    spine = (
        d.groupBy("event_type")
        .agg(F.min("date").alias("mn"), F.max("date").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("date"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        spine.join(d, ["event_type", "date"], "left")
        .select(
            "close",
            F.last("close", ignorenulls=True).over(w).alias("ffill"),
            F.col("close").isNull().alias("is_gap"),
        )
        .toPandas()
    )
    assert not out["is_gap"].any()
    assert (out["ffill"] == out["close"]).all()


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),                      # key
        st.integers(min_value=0, max_value=96),           # hour offset
        st.floats(
            min_value=0.1,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=events_strategy, split=st.integers(min_value=0, max_value=96))
@SETTINGS
def test_ohlc_state_merge_is_full_recompute(spark, rows, split):
    """merge(state(x), state(y)) == state(x ∪ y) on ARBITRARY event sets
    and an arbitrary split point — the algebra incremental rollup
    maintenance rests on (operators/incremental.py), including degenerate
    shapes: one-sided splits, duplicate timestamps resolved by the same
    min_by/max_by tie rules on both paths, single-row days."""
    import datetime as dt

    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
        state_to_ohlc,
    )
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc

    base = dt.datetime(2024, 1, 1)
    data = [
        (k, base + dt.timedelta(hours=h), v) for k, h, v in rows
    ]
    # dedupe (key, ts) so min_by/max_by ties cannot differ between paths
    data = list({(k, ts): (k, ts, v) for k, ts, v in data}.values())
    df = spark.createDataFrame(
        data, "event_type string, ts timestamp, value double"
    )
    cut = base + dt.timedelta(hours=split)
    a, b = df.filter(F.col("ts") < cut), df.filter(F.col("ts") >= cut)
    merged = state_to_ohlc(merge_ohlc_states(ohlc_state(a), ohlc_state(b)))
    full = daily_ohlc(df)
    key = lambda r: (r["event_type"], str(r["date"]))  # noqa: E731
    got = {key(r): (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
           for r in merged.collect()}
    want = {key(r): (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
            for r in full.collect()}
    assert got == want


_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------------------- OHLC merge

_events = st.lists(
    st.tuples(
        st.sampled_from(["purchase", "view"]),
        st.integers(min_value=0, max_value=72),  # hour offset: forces ties
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_events, cut=st.integers(min_value=0, max_value=72))
@settings(**_SETTINGS)
def test_ohlc_merge_equals_recompute_on_random_events(spark, rows, cut):
    """merge(state(x), state(y)) == state(x ∪ y) for EVERY split of every
    event multiset — including duplicate rows and tied boundary
    timestamps (hour-granularity offsets make ties common)."""
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
        state_to_ohlc,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (etype, base + dt.timedelta(hours=h), v) for etype, h, v in rows
    ]
    schema = "event_type string, ts timestamp, value double"
    df = spark.createDataFrame(data, schema)
    a = df.filter(f"hour(ts) + (dayofmonth(ts) - 1) * 24 < {cut}")
    b = df.filter(f"hour(ts) + (dayofmonth(ts) - 1) * 24 >= {cut}")
    merged = state_to_ohlc(merge_ohlc_states(ohlc_state(a), ohlc_state(b)))
    full = state_to_ohlc(ohlc_state(df))

    def rows_of(d):
        return sorted(
            (r["event_type"], str(r["date"]), r["open"], r["high"],
             r["low"], r["close"], r["n_obs"])
            for r in d.collect()
        )

    assert rows_of(merged) == rows_of(full)


# ----------------------------------------------------------- kernel parity

# whitespace zoo: ASCII ws (split points for BOTH engines) + unicode ws
# (U+00A0 NBSP, U+3000 ideographic space — split by Python \s but NOT by
# Java \s, the documented tokenization trap) + CJK and accented text
_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(
            list("abc ABC\t\n 　日本語éü0123.")
        ),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@given(texts=_texts)
@settings(**_SETTINGS)
def test_minhash_kernels_agree_on_arbitrary_text(spark, texts):
    """The Arrow prep kernel and the JVM-expression reference must emit
    identical (band_keys, set_size) for ANY document — the tokenizer
    parity (Java \\s vs Python \\s) is exactly what random unicode
    whitespace attacks."""
    from pyspark.sql import functions as F

    from kernel_reference import minhash_signatures_hof

    from airflow_crypto_btc_spark.operators.dedup import minhash_prep

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    hof = minhash_signatures_hof(df).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, 3), b -> "
            "md5(array_join(slice(sig, b * 3 + 1, 3), '')))"
        ).alias("band_keys"),
        "set_size",
    )
    fast = minhash_prep(df).select(
        F.col("id").alias("doc_id"), "band_keys", "set_size"
    )
    lhs = {r["doc_id"]: (r["band_keys"], r["set_size"])
           for r in hof.collect()}
    rhs = {r["doc_id"]: (r["band_keys"], r["set_size"])
           for r in fast.collect()}
    assert lhs == rhs


@given(texts=_texts)
@settings(**_SETTINGS)
def test_simhash_twin_agrees_on_arbitrary_text(spark, texts):
    from kernel_reference import simhash_fingerprints_hof

    from airflow_crypto_btc_spark.operators.dedup import (
        simhash_fingerprints,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    lhs = {r["doc_id"]: r["simhash"]
           for r in simhash_fingerprints_hof(df).collect()}
    rhs = {r["doc_id"]: r["simhash"]
           for r in simhash_fingerprints(df).collect()}
    assert lhs == rhs


# ----------------------------------------------------- connected components

_graphs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=0,
    max_size=25,
)


@given(edges=_graphs)
@settings(**_SETTINGS)
def test_cc_algorithms_agree_on_random_graphs(spark, edges):
    """label propagation and two-star must produce identical min-id
    labelings on arbitrary graphs (self-loops, duplicate and reversed
    edges included) — and both must equal a driver-side union-find."""
    from airflow_crypto_btc_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(31)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )

    # reference: union-find on the driver
    parent = list(range(31))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in (edges or [(0, 0)]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(31)}

    for algo in ("label_prop", "two_star"):
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(
                docs, pairs, algorithm=algo
            ).collect()
        }
        assert got == want, algo


# random word-ish docs: overlapping content across corpus/incoming by
# construction (small vocabulary → frequent exact-content collisions)
_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1,
        max_size=6,
    ).map(" ".join),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(corpus_texts=_doc_texts, incoming_texts=_doc_texts)
def test_bloom_novelty_always_equals_anti_join(
    spark, corpus_texts, incoming_texts
):
    """PROPERTY: for any corpus/incoming pair (heavy content overlap by
    construction), bloom-pruned novelty equals the plain exact anti-join
    on normalized content — the bloom can only move rows between the
    certain and verified paths, never change the answer."""
    from airflow_crypto_btc_spark.operators.bloom import novel_documents
    from airflow_crypto_btc_spark.operators.dedup import NORMALIZED_TEXT

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), schema
    )
    incoming = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(incoming_texts)], schema
    )
    # tiny filter (64 bits) forces heavy false-positive traffic through
    # the verify join — the property must hold regardless
    got = {
        r["id"]
        for r in novel_documents(corpus, incoming, n_bits=64).collect()
    }
    norm = f"md5({NORMALIZED_TEXT.format(col='text')})"
    want = {
        r["doc_id"]
        for r in incoming.selectExpr("doc_id", f"{norm} AS d")
        .join(
            corpus.selectExpr(f"{norm} AS d").distinct(), "d", "left_anti"
        )
        .collect()
    }
    assert got == want


@SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abc XY.@-+0123456789\t\n")
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_scrub_pii_idempotent_on_arbitrary_text(spark, texts):
    """PROPERTY: scrubbing is a fixed point on arbitrary text (digits,
    separators, @-signs in random arrangements) — placeholders never
    re-match any rule."""
    from airflow_crypto_btc_spark.operators.text import scrub_pii

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = scrub_pii(docs).selectExpr("doc_id", "clean_text AS text")
    first = {r["doc_id"]: r["clean_text"] for r in scrub_pii(docs).collect()}
    again = scrub_pii(once).collect()
    for r in again:
        assert r["clean_text"] == first[r["doc_id"]]
        assert (r["n_emails"], r["n_phones"], r["n_ips"], r["n_ids"]) == (
            0, 0, 0, 0,
        )


@given(
    s=st.integers(min_value=-(10**15), max_value=10**15),
    n=st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=500, deadline=None)
def test_integer_micro_unit_mean_rounds_half_away(s, n):
    """PROPERTY: the integer tie-break both engines replay —
    sign(s) * ((2·|s| + n) div (2·n)) — equals round-half-away-from-zero
    of the exact rational s/n for EVERY (sum, count), including the
    .5 ties that double/libm arithmetic splits nondeterministically
    (the unigram-LM mean and q2 unit-cost doctrine)."""
    from fractions import Fraction

    a = abs(s)
    m = (2 * a + n) // (2 * n)
    got = -m if s < 0 else m
    frac = Fraction(abs(s), n)
    floor, rem = divmod(frac.numerator, frac.denominator)
    half = Fraction(rem, frac.denominator) >= Fraction(1, 2)
    want_mag = floor + (1 if half else 0)
    want = -want_mag if s < 0 else want_mag
    assert got == want


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=50),
        min_size=1,
        max_size=30,
    ),
    ranges=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=55),
            st.integers(min_value=-5, max_value=55),
        ).map(lambda t: (min(t), max(t))),
        min_size=0,
        max_size=6,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_multi_range_prune_equals_filtered_full_read(
    spark, tmp_path_factory, vals, ranges, parts
):
    """PROPERTY: for ANY committed layout and ANY range list,
    read_snapshot(prune=(col, ranges)) followed by the caller's own row
    filter returns exactly the rows of an unpruned read under the same
    filter — pruning is a correct-by-construction superset at every
    file boundary, including empty range lists and ranges that miss
    every file."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        read_snapshot,
    )

    table = str(tmp_path_factory.mktemp("prop") / "tbl")
    # spread the values across several commits so file stats partition
    # the domain in an input-dependent way
    chunk = max(1, len(vals) // parts)
    for i in range(0, len(vals), chunk):
        df = spark.createDataFrame(
            [(v,) for v in vals[i:i + chunk]], "k bigint"
        )
        append(spark, df, table)

    cond = None
    for lo, hi in ranges:
        c = (F.col("k") >= lo) & (F.col("k") <= hi)
        cond = c if cond is None else (cond | c)
    if cond is None:
        cond = F.lit(False)  # empty probe set matches nothing

    pruned = sorted(
        r["k"]
        for r in read_snapshot(spark, table, prune=("k", list(ranges)))
        .filter(cond)
        .collect()
    )
    full = sorted(
        r["k"]
        for r in read_snapshot(spark, table).filter(cond).collect()
    )
    assert pruned == full
