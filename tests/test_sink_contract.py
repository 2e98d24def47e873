"""The streaming sink contract's shared pieces: ``fold_base`` (the
anchored or pre-fold read), ``fresh_rows`` (the insert-only front end),
``maintain`` (cadence compaction) and the frozen-input pin (``pin`` plus
``assert_pinned``)."""

from __future__ import annotations

import ast
import pathlib

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


# ------------------------------------------------------- frozen inputs
def test_pin_checks_agree_keys_then_source(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    st.append(spark, _rows(spark, 0, 2), a,
              meta={"source_version": "v1", "quantizer": "q1"})
    st.append(spark, _rows(spark, 0, 2), b,
              meta={"source_version": "v1", "quantizer": "q2"})
    # only the agree keys are compared: the default is source_version
    sa, sb = st.pin("index", a, b, expect_source="v1")
    assert (sa.table, sb.table, sa.version) == (a, b, 0)
    with pytest.raises(ValueError, match="index tables disagree"):
        st.pin("index", a, b, agree=("source_version", "quantizer"))
    with pytest.raises(ValueError, match="stale index"):
        st.pin("index", a, b, expect_source="v2")
    assert st.pin("index", a, expect_source=None, agree=None)[0].meta


def test_assert_pinned_refuses_any_new_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    st.append(spark, _rows(spark, 0, 2), t, meta={"source_version": "v1"})
    [snap] = st.pin("model", t)
    snapshot_sink.assert_pinned("model", snap)
    st.append(spark, _rows(spark, 2, 3), t)  # same meta, new commit
    with pytest.raises(ValueError, match="model changed under a running"):
        snapshot_sink.assert_pinned("model", snap)


def _rebuild_right_after_pin(monkeypatch, last_table, rebuild):
    """Wrap ``snapshot_table.current_snapshot`` once: the first replay of
    ``last_table`` (the last table a serve path pins) returns, then a
    new generation commits before the serve reads any row."""
    real = st.current_snapshot
    fired = []

    def racing(table, version=None):
        snap = real(table, version)
        if table == last_table and version is None and not fired:
            fired.append(snap.version)
            rebuild()
        return snap

    monkeypatch.setattr(st, "current_snapshot", racing)
    return fired


def test_pinned_read_serves_the_pinned_generation(
    spark, tmp_path, monkeypatch
):
    """A rebuild committing between a serve path's pin and its read is
    not served: the rows come from the commit whose meta was checked."""
    from airflow_crypto_btc_spark.operators import search as S
    from airflow_crypto_btc_spark.operators.vocab import (
        build_bpe_table,
        load_bpe_merges,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # one table: the BPE merge list, retrained on another corpus
    bpe = str(tmp_path / "bpe")
    gen1 = build_bpe_table(
        spark, docs([(1, "ab ab abc"), (2, "bc abc ab")]), bpe,
        merges=3, source_version="v1",
    )
    fired = _rebuild_right_after_pin(
        monkeypatch, bpe, lambda: build_bpe_table(
            spark, docs([(1, "xy xyz yz"), (2, "xyz xy")]), bpe,
            merges=3, source_version="v1",
        ),
    )
    assert load_bpe_merges(spark, bpe, expect_source="v1") == [
        tuple(m) for m in gen1
    ]
    assert fired == [0] and st.current_snapshot(bpe).version == 1
    monkeypatch.undo()

    # two tables: the BM25 index, a second generation appended to both
    corpus = docs([(0, "alpha beta gamma"), (1, "beta gamma delta")])
    q = spark.createDataFrame(
        [(1, "beta"), (2, "delta")], "query_id bigint, token string"
    )
    post, dlen = str(tmp_path / "post"), str(tmp_path / "dlen")
    S.build_bm25_index(spark, corpus, post, dlen, source_version="v1")
    fired = _rebuild_right_after_pin(
        monkeypatch, dlen, lambda: S.build_bm25_index(
            spark, docs([(2, "beta beta delta"), (3, "delta")]), post,
            dlen, source_version="v1",
        ),
    )
    served = S.bm25_topk_from_index(spark, post, dlen, q, expect_source="v1")
    assert fired == [0]
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, S.bm25_topk(corpus, q).collect())
    )


def _package_modules():
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "airflow_crypto_btc_spark"
    for path in sorted(pkg.rglob("*.py")):
        yield path.relative_to(pkg).as_posix(), ast.parse(path.read_text())


def test_generation_decision_lives_in_one_module():
    """Only ``sources/snapshot_table.py`` reads ``source_version`` off
    commit meta, and only ``streaming/snapshot_sink.py`` raises "changed
    under a running": every frozen model or index goes through ``pin``
    and ``assert_pinned`` (writing ``meta={"source_version": ...}`` is
    a builder's business and allowed)."""
    readers, raisers = [], []
    for name, tree in _package_modules():
        for node in ast.walk(tree):
            key = None
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and node.args
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and isinstance(
                node.ctx, ast.Load
            ):
                key = node.slice
            if isinstance(key, ast.Constant) and key.value == "source_version":
                readers.append(f"{name}:{node.lineno}")
            if isinstance(node, ast.Raise) and any(
                isinstance(c, ast.Constant)
                and isinstance(c.value, str)
                and "changed under a running" in c.value
                for c in ast.walk(node)
            ):
                raisers.append(f"{name}:{node.lineno}")
    assert {r.split(":")[0] for r in readers} == {
        "sources/snapshot_table.py"
    }, readers
    assert {r.split(":")[0] for r in raisers} == {
        "streaming/snapshot_sink.py"
    }, raisers
