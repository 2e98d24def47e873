"""Incremental rollup maintenance: the merge algebra and the snapshot-table
maintenance loop (operators/incremental.py)."""

import datetime as dt

from pyspark.sql import functions as F


def _rows(df):
    return {
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    }


def test_merge_equals_full_recompute(spark, sf_dir):
    """merge(state(x), state(y)) == state(x ∪ y) — the property that makes
    O(|delta|) maintenance correct."""
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
        state_to_ohlc,
    )
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
    from airflow_crypto_btc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.dayofmonth("ts") <= 10)
    b = ev.filter(F.dayofmonth("ts").between(11, 20))
    c = ev.filter(F.dayofmonth("ts") > 20)
    merged = state_to_ohlc(
        merge_ohlc_states(ohlc_state(a), ohlc_state(b), ohlc_state(c))
    )
    full = daily_ohlc(ev)
    assert _rows(merged) == _rows(full)


def test_merge_is_commutative(spark, sf_dir):
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
        state_to_ohlc,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ohlc_state(ev.filter(F.dayofmonth("ts") <= 15))
    b = ohlc_state(ev.filter(F.dayofmonth("ts") > 15))
    ab = state_to_ohlc(merge_ohlc_states(a, b))
    ba = state_to_ohlc(merge_ohlc_states(b, a))
    assert _rows(ab) == _rows(ba)


def _mk_events(spark, day, values):
    return spark.createDataFrame(
        [
            ("purchase", dt.datetime(2024, 1, day, h), float(v))
            for h, v in enumerate(values, start=1)
        ],
        "event_type string, ts timestamp, value double",
    )


def test_maintenance_loop_matches_full_recompute(spark, tmp_path):
    """Three appends to the base snapshot table, three maintenance steps:
    the state table must serve exactly daily_ohlc(all rows), the delta
    scan must touch only files appended since the last step, and an
    idempotent re-run of a span must not change the state."""
    from airflow_crypto_btc_spark.operators.incremental import (
        maintain_ohlc_rollup,
        state_to_ohlc,
    )
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        read_snapshot,
    )

    base = str(tmp_path / "events_tbl")
    state = str(tmp_path / "ohlc_state")

    batches = [
        _mk_events(spark, 1, [10.0, 12.0, 11.0]),
        # day 1 gets LATE rows (new close, new high) + day 2 opens
        _mk_events(spark, 2, [20.0, 19.0]).unionByName(
            spark.createDataFrame(
                [("purchase", dt.datetime(2024, 1, 1, 9), 15.0)],
                "event_type string, ts timestamp, value double",
            )
        ),
        _mk_events(spark, 3, [30.0]),
    ]
    seen = None
    for i, b in enumerate(batches):
        append(spark, b, base)
        version = maintain_ohlc_rollup(spark, base, state)
        seen = b if seen is None else seen.unionByName(b)
        got = _rows(state_to_ohlc(read_snapshot(spark, state)))
        want = _rows(daily_ohlc(seen))
        assert got == want, f"mismatch after batch {i}"

    # late row merged into day 1: close follows the max ts, high updated
    d1 = {
        str(r["date"]): r
        for r in state_to_ohlc(read_snapshot(spark, state)).collect()
    }
    assert d1["2024-01-01"]["close"] == 15.0
    assert d1["2024-01-01"]["high"] == 15.0
    assert d1["2024-01-01"]["open"] == 10.0
    assert d1["2024-01-01"]["n_obs"] == 4

    # the consumed base version is recorded in the STATE table's log, so a
    # retry (e.g. after a crash before any caller-side bookkeeping) sees
    # the mark and applies nothing — n_obs would double-count otherwise
    from airflow_crypto_btc_spark.operators.incremental import (
        rollup_high_water_mark,
    )

    assert rollup_high_water_mark(state) == version
    before = _rows(state_to_ohlc(read_snapshot(spark, state)))
    assert maintain_ohlc_rollup(spark, base, state) == version
    assert maintain_ohlc_rollup(spark, base, state) == version
    after = _rows(state_to_ohlc(read_snapshot(spark, state)))
    assert before == after


def test_maintenance_reads_only_appended_files(spark, tmp_path):
    """The delta feeding a maintenance step comes from the commit-log fast
    path: only files added after from_version are opened."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        snapshot_changes,
    )

    import json as _json

    from airflow_crypto_btc_spark.sources.snapshot_table import _log_path

    base = str(tmp_path / "events_tbl")
    v1 = append(spark, _mk_events(spark, 1, [10.0, 12.0]), base)
    v2 = append(spark, _mk_events(spark, 2, [20.0]), base)
    with open(_log_path(base, v1)) as fh:
        v1_files = set(_json.load(fh)["add"])
    with open(_log_path(base, v2)) as fh:
        v2_files = set(_json.load(fh)["add"])
    delta = snapshot_changes(spark, base, from_version=v1)
    opened = {
        p.split("/data/")[1].split("/")[0] for p in delta.inputFiles()
    }
    assert opened and opened <= v2_files
    assert not opened & v1_files  # history files never touched


def test_ndv_sketch_merge_equals_full_sketch(spark, sf_dir):
    """HLL register-maxima are order/partitioning independent: the merged
    split-sketch estimate must EQUAL the full-data sketch estimate (not
    just approximate it), and both must sit within ~3*1.04/sqrt(2^12)
    of the exact distinct count."""
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ndv_states,
        ndv_state,
        state_to_ndv,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    merged = state_to_ndv(merge_ndv_states(ndv_state(a), ndv_state(b)))
    full = state_to_ndv(ndv_state(ev))
    assert _rows(merged) == _rows(full)

    exact = {
        (r["event_type"], r["date"]): r["exact"]
        for r in ev.groupBy(
            "event_type", F.to_date("ts").alias("date")
        )
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    rse = 3 * 1.04 / (2**12) ** 0.5  # lg_k=12 -> ~1.6% at 3 sigma
    for r in merged.collect():
        e = exact[(r["event_type"], r["date"])]
        assert abs(r["ndv"] - e) <= max(2.0, rse * e)


def test_tied_timestamp_open_close_deterministic(spark):
    """Rows tying on the boundary timestamp resolve deterministically
    (min price at open, max price at close) in BOTH the direct state and
    any split/merge of it — bare min_by/max_by on the timestamp would make
    the pick partitioning-dependent."""
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
        state_to_ohlc,
    )

    t0 = dt.datetime(2024, 3, 1, 9)
    t1 = dt.datetime(2024, 3, 1, 17)
    rows = [
        ("purchase", t0, 7.0),
        ("purchase", t0, 3.0),   # ties the open ts — open must be 3.0
        ("purchase", t1, 5.0),
        ("purchase", t1, 9.0),   # ties the close ts — close must be 9.0
    ]
    schema = "event_type string, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)
    direct = state_to_ohlc(ohlc_state(df)).collect()[0]
    assert (direct["open"], direct["close"]) == (3.0, 9.0)

    # every 2-row split must merge to the same answer
    import itertools

    for picks in itertools.combinations(range(4), 2):
        a = spark.createDataFrame([rows[i] for i in picks], schema)
        b = spark.createDataFrame(
            [rows[i] for i in range(4) if i not in picks], schema
        )
        got = state_to_ohlc(
            merge_ohlc_states(ohlc_state(a), ohlc_state(b))
        ).collect()[0]
        assert (got["open"], got["close"]) == (3.0, 9.0), picks


def test_maintenance_span_pinned_against_racing_append(spark, tmp_path, monkeypatch):
    """An append landing AFTER the head read but BEFORE the change read
    must not be folded early: the folded span has to match the version the
    txn mark records, or the next run re-folds those rows (double-counted
    n_obs).  Simulates the race by injecting the append inside the head
    read; pins the to_version= fix."""
    from airflow_crypto_btc_spark.operators import incremental as inc
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
    from airflow_crypto_btc_spark.sources import snapshot_table as st

    base = str(tmp_path / "events_tbl")
    state = str(tmp_path / "ohlc_state")
    st.append(spark, _mk_events(spark, 1, [10.0, 12.0]), base)

    real = st.current_snapshot
    fired = {"done": False}

    def racing(table, version=None):
        snap = real(table, version)
        if table == base and version is None and not fired["done"]:
            fired["done"] = True  # append lands just after the head read
            st.append(spark, _mk_events(spark, 2, [20.0, 21.0]), base)
        return snap

    monkeypatch.setattr(st, "current_snapshot", racing)
    head = inc.maintain_ohlc_rollup(spark, base, state)
    monkeypatch.setattr(st, "current_snapshot", real)

    # only the pre-race span is folded, and the mark matches it
    assert inc.rollup_high_water_mark(state) == head
    assert real(base).version == head + 1
    day1 = inc.state_to_ohlc(st.read_snapshot(spark, state)).collect()
    assert {str(r["date"]) for r in day1} == {"2024-01-01"}

    # the next run folds the racing batch exactly once
    inc.maintain_ohlc_rollup(spark, base, state)
    got = _rows(inc.state_to_ohlc(st.read_snapshot(spark, state)))
    want = _rows(daily_ohlc(st.read_snapshot(spark, base)))
    assert got == want


def test_maintenance_guard_rejects_concurrent_writer(spark, tmp_path, monkeypatch):
    """Defence-in-depth check: if another run advances the high-water mark
    between this run's read and its commit, the commit is rejected with
    CommitConflictError instead of double-folding the overlap."""
    import pytest

    from airflow_crypto_btc_spark.operators import incremental as inc
    from airflow_crypto_btc_spark.sources import snapshot_table as st

    base = str(tmp_path / "events_tbl")
    state = str(tmp_path / "ohlc_state")
    st.append(spark, _mk_events(spark, 1, [10.0]), base)
    inc.maintain_ohlc_rollup(spark, base, state)
    st.append(spark, _mk_events(spark, 2, [20.0]), base)

    real_hwm = inc.rollup_high_water_mark
    calls = {"n": 0}

    def shifting(table):
        calls["n"] += 1
        if calls["n"] == 1:  # the initial read
            return real_hwm(table)
        return real_hwm(table) + 1  # a racer advanced it since

    monkeypatch.setattr(inc, "rollup_high_water_mark", shifting)
    with pytest.raises(st.CommitConflictError):
        inc.maintain_ohlc_rollup(spark, base, state)


def test_maintenance_cas_closes_check_to_commit_window(
    spark, tmp_path, monkeypatch
):
    """The round-7 TOCTOU: a racer that commits to the STATE table after
    this run's guard check but before its commit does NOT move the
    high-water mark, so the mark re-check alone cannot see it.  The
    expect_version CAS must reject the commit anyway — and the retried
    run must converge to the exact batch result."""
    import pytest

    from airflow_crypto_btc_spark.operators import incremental as inc
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc
    from airflow_crypto_btc_spark.sources import snapshot_table as st

    base = str(tmp_path / "events_tbl")
    state = str(tmp_path / "ohlc_state")
    st.append(spark, _mk_events(spark, 1, [10.0, 11.0]), base)
    inc.maintain_ohlc_rollup(spark, base, state)
    # the second span carries a LATE day-1 event so the delta overlaps
    # existing state and the merge path (the racer's seam) actually
    # runs — a pure-insert delta would skip the merge entirely under
    # the round-13 file narrowing.  Hour 5: must not collide with the
    # seeded hours 1-2, or the day's open/close tie-breaks
    # nondeterministically between merge and recompute.
    late = spark.createDataFrame(
        [("purchase", dt.datetime(2024, 1, 1, 5), 12.0)],
        "event_type string, ts timestamp, value double",
    )
    st.append(
        spark,
        late.unionByName(_mk_events(spark, 2, [20.0])),
        base,
    )

    real_merge = inc.merge_ohlc_states
    fired = {"done": False}

    def racing_merge(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        if not fired["done"]:
            fired["done"] = True
            # the racer: a NON-maintenance state commit (no mark move) —
            # e.g. a compaction or manual repair landing mid-run
            st.append(
                spark,
                st.read_snapshot(spark, state).limit(0),
                state,
            )
        return out

    monkeypatch.setattr(inc, "merge_ohlc_states", racing_merge)
    with pytest.raises(st.CommitConflictError):
        inc.maintain_ohlc_rollup(spark, base, state)
    monkeypatch.setattr(inc, "merge_ohlc_states", real_merge)

    # nothing was folded by the losing run; the retry converges exactly
    inc.maintain_ohlc_rollup(spark, base, state)
    got = _rows(inc.state_to_ohlc(st.read_snapshot(spark, state)))
    want = _rows(daily_ohlc(st.read_snapshot(spark, base)))
    assert got == want


def test_commit_expect_version_cas_semantics(spark, tmp_path):
    """expect_version commits succeed only from the exact version read
    and raise CommitConflictError (never silently retry-next) after any
    interleaved commit."""
    import pytest

    from airflow_crypto_btc_spark.sources import snapshot_table as st

    t = str(tmp_path / "cas_tbl")
    df = _mk_events(spark, 1, [1.0])
    v0 = st.append(spark, df, t, expect_version=-1)  # bootstrap CAS
    assert v0 == 0
    v1 = st.append(spark, df, t, expect_version=v0)
    assert v1 == 1
    with pytest.raises(st.CommitConflictError):
        st.append(spark, df, t, expect_version=v0)  # stale read
    # plain commits still retry past contention as before
    assert st.append(spark, df, t) == 2
