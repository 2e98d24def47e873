"""Streaming semantic-index sink: drained labelings equal the one-shot
batch semantic purge under the frozen quantizer, replays fold nothing,
out-of-order ids quarantine or refuse, a quantizer rebuild stops the
stream, compaction bounds part counts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.similarity import (
    build_semantic_index,
    semantic_purge,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    current_snapshot,
    read_snapshot,
    read_snapshot_or_none,
)
from airflow_crypto_btc_spark.streaming.semantic_stream import (
    semantic_index_sink,
)

N, DIM = 60, 16


def _vectors(spark):
    rng = np.random.RandomState(7)
    V = rng.randn(N, DIM).astype(np.float64)
    V[45] = V[3] + rng.randn(DIM) * 0.001   # stream dup of an OLD doc
    V[52] = V[47] + rng.randn(DIM) * 0.001  # dup across stream batches
    rows = [(i, V[i].tolist()) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _build(spark, df, tmp_path, old_filter="vec_id < 40"):
    ct, mt = str(tmp_path / "cent"), str(tmp_path / "members")
    build_semantic_index(
        spark, df.filter(old_filter), ct, mt, source_version="v1",
        centroid_filter="vec_id % 7 = 2",
    )
    return ct, mt


def test_streaming_semantic_matches_batch(spark, tmp_path):
    df = _vectors(spark)
    ct, mt = _build(spark, df, tmp_path)
    lt = str(tmp_path / "labels")
    sink = semantic_index_sink(
        ct, mt, lt, query_name="sem", cosine_threshold=0.5,
        expect_source="v1",
    )
    sink(df.filter("vec_id >= 40 AND vec_id < 50"), 0)
    sink(df.filter("vec_id >= 50"), 1)
    # streamed labelings ∪ the old corpus's labeling == one-shot purge
    # of the FULL corpus under the frozen (old-corpus) quantizer
    seeds = df.filter("vec_id < 40 AND vec_id % 7 = 2").selectExpr(
        "vec_id AS cid", "embedding AS ce"
    )
    want = {
        r["vec_id"]: (r["cid"], r["dup_of"], r["keep"])
        for r in semantic_purge(
            df, centroids=seeds, cosine_threshold=0.5
        ).collect()
    }
    old = semantic_purge(
        df.filter("vec_id < 40"), centroids=seeds, cosine_threshold=0.5
    ).collect()
    streamed = read_snapshot(spark, lt).collect()
    got = {
        r["vec_id"]: (r["cid"], r["dup_of"], r["keep"])
        for r in old + streamed
    }
    assert got == want and len(got) == N
    # the planted dups were caught: 45 against the OLD corpus, 52
    # against an earlier STREAM batch
    assert got[45] == (want[45][0], 3, False)
    assert got[52][1] == 47 and not got[52][2]
    # members table holds every vector once, high-water mark advanced
    assert sorted(
        r["id"] for r in read_snapshot(spark, mt).collect()
    ) == list(range(N))
    assert current_snapshot(mt).meta["max_id"] == N - 1
    # replay folds nothing
    lv, mv = current_snapshot(lt).version, current_snapshot(mt).version
    sink(df.filter("vec_id >= 50"), 1)
    assert current_snapshot(lt).version == lv
    assert current_snapshot(mt).version == mv


def test_streaming_semantic_out_of_order_ids(spark, tmp_path):
    df = _vectors(spark)
    # id 10 is BELOW the high-water mark (39) but never indexed — the
    # genuinely-out-of-order case, distinct from re-delivery of an
    # indexed id
    ct, mt = _build(
        spark, df, tmp_path, old_filter="vec_id < 40 AND vec_id <> 10"
    )
    lt, qt = str(tmp_path / "labels"), str(tmp_path / "quar")
    # without a quarantine table: refused loudly
    strict = semantic_index_sink(
        ct, mt, lt, query_name="strict", cosine_threshold=0.5
    )
    with pytest.raises(ValueError, match="high-water mark"):
        strict(df.filter("vec_id = 10"), 0)
    # with one: diverted, the rest of the batch still lands
    sink = semantic_index_sink(
        ct, mt, lt, query_name="sem", cosine_threshold=0.5,
        quarantine_table=qt,
    )
    sink(df.filter("vec_id = 10 OR vec_id = 41"), 0)
    quar = read_snapshot(spark, qt).collect()
    assert [(r["id"], r["high_water_mark"]) for r in quar] == [(10, 39)]
    assert [
        r["vec_id"] for r in read_snapshot(spark, lt).collect()
    ] == [41]
    assert 10 not in {
        r["id"] for r in read_snapshot(spark, mt).collect()
    }
    # an id the index ALREADY holds is re-delivery, not out-of-order:
    # anti-joined away, no new quarantine row
    sink(df.filter("vec_id = 5"), 1)
    assert len(read_snapshot(spark, qt).collect()) == 1


def test_streaming_semantic_frozen_quantizer_refusals(spark, tmp_path):
    df = _vectors(spark)
    ct, mt = _build(spark, df, tmp_path)
    lt = str(tmp_path / "labels")
    # construction-time source pin
    with pytest.raises(ValueError, match="stale semantic quantizer"):
        semantic_index_sink(
            ct, mt, lt, query_name="sem", expect_source="v2"
        )
    sink = semantic_index_sink(
        ct, mt, lt, query_name="sem", cosine_threshold=0.5,
        expect_source="v1",
    )
    sink(df.filter("vec_id >= 40 AND vec_id < 50"), 0)
    # quantizer rebuilt (same meta, new commit) under the running
    # stream: the per-batch version assertion must stop it
    build_semantic_index(
        spark, df.filter("vec_id < 40"), ct,
        str(tmp_path / "members_scratch"), source_version="v1",
        centroid_filter="vec_id % 7 = 2",
    )
    members_v = current_snapshot(mt).version
    with pytest.raises(ValueError, match="changed under a running"):
        sink(df.filter("vec_id >= 50"), 1)
    assert current_snapshot(mt).version == members_v  # nothing landed


def test_streaming_semantic_compaction_bounds_parts(spark, tmp_path):
    import glob
    import os

    df = _vectors(spark)
    ct, mt = _build(spark, df, tmp_path, old_filter="vec_id < 20")
    lt = str(tmp_path / "labels")
    sink = semantic_index_sink(
        ct, mt, lt, query_name="sem", cosine_threshold=0.5,
        compact_every=4, compact_target_parts=1,
    )
    for i, lo in enumerate(range(20, 60, 5)):
        sink(df.filter(f"vec_id >= {lo} AND vec_id < {lo + 5}"), i)
    assert len(read_snapshot(spark, mt).collect()) == N
    live = read_snapshot_or_none(spark, mt).inputFiles()
    assert len(live) <= 2  # compacted after batches 4 and 8


def test_streaming_semantic_crash_between_appends_replays_clean(
    spark, tmp_path, monkeypatch
):
    """Crash after the members fold but before the labels append (the
    round-9 members-first CAS order): the replay finds its members txn
    already committed and must recompute the labeling against the
    PRE-FOLD members snapshot (time travel) — the live table now holds
    the batch's own members, and labeling against it would let batch
    rows claim each other as committed neighbors."""
    from airflow_crypto_btc_spark.streaming import semantic_stream as sms

    df = _vectors(spark)
    ct, mt = _build(spark, df, tmp_path)
    lt = str(tmp_path / "labels")
    sink = semantic_index_sink(
        ct, mt, lt, query_name="crash", cosine_threshold=0.5,
    )
    sink(df.filter("vec_id >= 40 AND vec_id < 50"), 0)
    real_append = sms.append
    calls = {"n": 0}

    def crashing_append(spark_, d, table, txn_id=None, meta=None, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # after members (the fold), before labels
            raise RuntimeError("simulated crash")
        return real_append(
            spark_, d, table, txn_id=txn_id, meta=meta, **kw
        )

    monkeypatch.setattr(sms, "append", crashing_append)
    batch1 = df.filter("vec_id >= 50")
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(batch1, 1)
    monkeypatch.setattr(sms, "append", real_append)
    sink(batch1, 1)  # replay
    seeds = df.filter("vec_id < 40 AND vec_id % 7 = 2").selectExpr(
        "vec_id AS cid", "embedding AS ce"
    )
    want = {
        r["vec_id"]: (r["cid"], r["dup_of"], r["keep"])
        for r in semantic_purge(
            df, centroids=seeds, cosine_threshold=0.5
        ).collect()
        if r["vec_id"] >= 40
    }
    streamed = read_snapshot(spark, lt).collect()
    assert len(streamed) == len(want)  # exactly once, crash included
    assert {
        r["vec_id"]: (r["cid"], r["dup_of"], r["keep"]) for r in streamed
    } == want
    assert sorted(
        r["id"] for r in read_snapshot(spark, mt).collect()
    ) == list(range(N))
    assert current_snapshot(mt).meta["max_id"] == N - 1
