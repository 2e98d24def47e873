"""The streaming sink contract's shared pieces: ``fold_base`` (the
anchored or pre-fold read), ``fresh_rows`` (the insert-only front end)
and ``maintain`` (cadence compaction)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources import snapshot_table as st
from airflow_crypto_btc_spark.streaming import snapshot_sink


def _ids(df):
    return sorted(r[0] for r in df.select("k").collect())


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS k", "id * 10 AS v")


def test_fold_base_fresh_plain_append_and_own_txn(spark, tmp_path):
    t = str(tmp_path / "t")
    # fresh table: no version, no frame
    assert st.fold_base(spark, t, "q:0") == (-1, None)

    # after a plain append: the current version, read pinned at it
    st.append(spark, _rows(spark, 0, 3), t, txn_id="q:0")
    v, base = st.fold_base(spark, t, "q:1")
    assert v == 0 and _ids(base) == [0, 1, 2]
    st.append(spark, _rows(spark, 3, 5), t)  # lands after the read
    assert _ids(base) == [0, 1, 2]

    # its own txn landed (a replay): the pre-fold version and frame
    st.append(spark, _rows(spark, 5, 6), t, txn_id="q:1")
    st.append(spark, _rows(spark, 6, 7), t)
    assert st.fold_base(spark, t, "q:1")[0] == 1
    assert _ids(st.fold_base(spark, t, "q:1")[1]) == [0, 1, 2, 3, 4]


def test_fold_base_pre_fold_version_without_parts(spark, tmp_path):
    t = str(tmp_path / "t")
    st.append(spark, _rows(spark, 0, 2), t, txn_id="q:0")
    assert st.fold_base(spark, t, "q:0") == (-1, None)


def test_fresh_rows_keeps_first_by_order_and_drops_committed(spark):
    batch = spark.range(6).selectExpr("id % 3 AS k", "id AS v")
    committed = spark.range(1).selectExpr("id AS seen")
    got = snapshot_sink.fresh_rows(
        batch, "k", F.col("v").desc(), committed, "seen"
    )
    assert sorted(map(tuple, got.select("k", "v").collect())) == [
        (1, 4), (2, 5)
    ]


def test_maintain_off_cadence_commits_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in (0, 2):
        st.append(spark, _rows(spark, lo, lo + 2), t)
    for every in (None, 3):
        assert not snapshot_sink.maintain(spark, 0, every, 1, {t: None})
    assert st.current_snapshot(t).version == 1


def test_maintain_skips_a_table_without_live_parts(spark, tmp_path):
    t = str(tmp_path / "never_written")
    assert snapshot_sink.maintain(spark, 1, 2, 1, {t: ["k"]})
    assert st.current_snapshot(t).version == -1


def test_maintain_clusters_only_on_logged_columns(spark, tmp_path):
    clustered, plain = str(tmp_path / "c"), str(tmp_path / "p")
    for t in (clustered, plain):
        for lo in (0, 50, 100):
            st.append(spark, _rows(spark, lo, lo + 50), t)
    assert snapshot_sink.maintain(
        spark, 0, 1, 2, {clustered: ["k", "gone"], plain: ["gone"]}
    )
    # "gone" is not in either logged schema: the first table Z-orders on
    # k alone (one range part per partition), the second compacts plain
    snap = st.current_snapshot(clustered)
    assert len(snap.files) == 2 and all("/__pid=" in f for f in snap.files)
    lo_hi = sorted(tuple(snap.stats[f]["k"]) for f in snap.files)
    assert lo_hi[0][1] < lo_hi[1][0]
    snap = st.current_snapshot(plain)
    assert len(snap.files) == 1 and "/__pid=" not in snap.files[0]
    for t in (clustered, plain):
        assert _ids(st.read_snapshot(spark, t)) == list(range(150))


def test_maintain_propagates_compact_failure_on_a_live_table(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    st.append(spark, _rows(spark, 0, 2), t)

    def failing(*a, **k):
        raise ValueError("compaction failed")

    monkeypatch.setattr(snapshot_sink, "compact", failing)
    with pytest.raises(ValueError, match="compaction failed"):
        snapshot_sink.maintain(spark, 0, 1, 1, {t: None})
