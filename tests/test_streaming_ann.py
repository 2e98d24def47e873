"""Streaming embedding-index sink: drained pairs equal the one-shot
batch near-dup operator, each pair once (later endpoint's batch),
replays and crashes fold nothing, re-delivery is harmless."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.similarity import (
    embedding_near_dup_pairs,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    current_snapshot,
    read_snapshot,
)
from airflow_crypto_btc_spark.streaming.ann_stream import (
    embedding_index_sink,
)


def _vectors(spark, n=40, near_pairs=((3, 17), (8, 25))):
    rng = np.random.RandomState(11)
    V = rng.randn(n, 16).astype(np.float64)
    for a, b in near_pairs:
        V[b] = V[a] + rng.randn(16) * 0.001
    rows = [(i, V[i].tolist()) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_streaming_ann_matches_batch(spark, tmp_path):
    df = _vectors(spark)
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = embedding_index_sink(
        i_tbl, p_tbl, query_name="ann", planes=4, cosine_threshold=0.95
    )
    # near-dup endpoints straddle the batch boundary
    sink(df.filter("vec_id % 2 = 1"), 0)
    sink(df.filter("vec_id % 2 = 0"), 1)
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in read_snapshot(spark, p_tbl).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup_pairs(
            df, planes=4, cosine_threshold=0.95
        ).collect()
    }
    assert got == want and got
    assert {(a, b) for a, b, _ in got} >= {(3, 17), (8, 25)}
    # index holds every vector exactly once
    idx = read_snapshot(spark, i_tbl).collect()
    assert sorted(r["nid"] for r in idx) == list(range(40))
    # replay folds nothing
    v = current_snapshot(p_tbl).version
    sink(df.filter("vec_id % 2 = 0"), 1)
    assert current_snapshot(p_tbl).version == v
    assert len(read_snapshot(spark, i_tbl).collect()) == 40


def test_streaming_ann_crash_between_appends_replays_clean(
    spark, tmp_path, monkeypatch
):
    from airflow_crypto_btc_spark.streaming import ann_stream as ans

    df = _vectors(spark)
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = ans.embedding_index_sink(
        i_tbl, p_tbl, query_name="crash", planes=4,
        cosine_threshold=0.95,
    )
    sink(df.filter("vec_id % 2 = 1"), 0)
    real_append = ans.append
    calls = {"n": 0}

    def crashing_append(spark_, d, table, txn_id=None, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # after the index fold, before pairs — the
            # round-9 index-first CAS order: the replay must probe the
            # PRE-FOLD index (time travel), or the batch's pairs vanish
            raise RuntimeError("simulated crash")
        return real_append(spark_, d, table, txn_id=txn_id, **kw)

    monkeypatch.setattr(ans, "append", crashing_append)
    batch1 = df.filter("vec_id % 2 = 0")
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(batch1, 1)
    monkeypatch.setattr(ans, "append", real_append)
    sink(batch1, 1)  # replay
    got = {
        (r["id_a"], r["id_b"])
        for r in read_snapshot(spark, p_tbl).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, planes=4, cosine_threshold=0.95
        ).collect()
    }
    assert got == want
    assert sorted(
        r["nid"] for r in read_snapshot(spark, i_tbl).collect()
    ) == list(range(40))


def test_streaming_ann_bucket_cap_bounds_probe(spark, tmp_path):
    """Skewed stream: 40% of arriving vectors are one identical vector.
    With a probe cap the hot bucket stops emitting pairs once its
    index ∪ batch population exceeds the cap, while the INDEX still
    commits every row (serving artifact stays complete) and uncrowded
    buckets keep pairing normally across batches."""
    rng = np.random.RandomState(5)
    n, dim = 30, 16
    V = rng.randn(n, dim).astype(np.float64)
    V[:12] = np.full(dim, 2.0)  # hot identical block
    V[20] = V[15] + rng.randn(dim) * 0.001  # benign near-dup pair
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = embedding_index_sink(
        i_tbl, p_tbl, query_name="cap", planes=4,
        cosine_threshold=0.95, max_bucket_size=5,
    )
    sink(df.filter("vec_id % 2 = 1"), 0)
    sink(df.filter("vec_id % 2 = 0"), 1)
    # index is complete regardless of the cap
    assert sorted(
        r["nid"] for r in read_snapshot(spark, i_tbl).collect()
    ) == list(range(n))
    got = {
        (r["id_a"], r["id_b"])
        for r in read_snapshot(spark, p_tbl).collect()
    }
    # the hot block (12 rows, cap 5) never pairs: batch 0 already holds
    # 6 of its members, batch 1 pushes the bucket further over cap
    assert not any(a < 12 and b < 12 for a, b in got)
    # the uncrowded near-dup pair still lands (endpoints straddle the
    # batch boundary: 15 odd, 20 even)
    assert (15, 20) in got
    # the skipped mass is auditable from the committed index rows
    from airflow_crypto_btc_spark.operators.similarity import (
        embedding_near_dup_skipped_buckets,
    )

    report = embedding_near_dup_skipped_buckets(
        read_snapshot(spark, i_tbl).select(
            F.col("nid").alias("vec_id"), F.col("ve").alias("embedding")
        ),
        planes=4,
        max_bucket_size=5,
    ).collect()
    assert report and all(r["bucket_size"] > 5 for r in report)
    assert any(r["bucket_size"] >= 12 for r in report)  # the hot block


def test_streaming_ann_compaction_bounds_parts(spark, tmp_path):
    df = _vectors(spark, n=30, near_pairs=())
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = embedding_index_sink(
        i_tbl, p_tbl, query_name="cmp", planes=4,
        compact_every=3, compact_target_parts=1,
    )
    for i in range(9):
        sink(df.filter(f"vec_id % 9 = {i}"), i)
    assert len(current_snapshot(i_tbl).files) == 1
    assert sorted(
        r["nid"] for r in read_snapshot(spark, i_tbl).collect()
    ) == list(range(30))


def test_streaming_ann_probe_broadcasts_batch_side(spark, tmp_path):
    """Plan discipline: the per-batch pair probe must broadcast the
    BATCH side — the growing index table is never reshuffled per
    micro-batch (regression pin for the review fix; the checkpointed
    batch leaf has no stats, so without the explicit hint the planner
    falls back to a sort-merge join)."""
    from unittest.mock import patch

    from airflow_crypto_btc_spark.streaming import ann_stream as ans

    df = _vectors(spark, n=30, near_pairs=((1, 2),))
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = embedding_index_sink(
        i_tbl, p_tbl, query_name="plan", planes=4, cosine_threshold=0.95
    )
    sink(df.filter("vec_id < 15"), 0)

    captured = {}
    real_append = ans.append

    def capturing_append(spark_, d, table, txn_id=None, **kw):
        if table == p_tbl:
            captured["plan"] = (
                d._jdf.queryExecution().executedPlan().toString()
            )
        return real_append(spark_, d, table, txn_id=txn_id, **kw)

    with patch.object(ans, "append", capturing_append):
        sink(df.filter("vec_id >= 15"), 1)
    plan = captured["plan"]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_streaming_pq_codes_sink_matches_batch_encode(spark, sf_dir, tmp_path):
    """Codes appended by the stream must equal the batch encode of the
    union; replay is a no-op; a stale or mid-stream-changed codebook
    generation is refused."""
    from airflow_crypto_btc_spark.operators.similarity import (
        pq_encode,
        pq_load_codebooks,
        pq_save_index,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table
    from airflow_crypto_btc_spark.streaming.ann_stream import pq_codes_sink

    emb = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "pq")
    # offline: train + encode the "historical" half
    hist = emb.filter("vec_id % 2 = 0")
    pq_save_index(spark, hist, root, source_version="v1", m=8)
    sink = pq_codes_sink(root, query_name="codes", expect_source="v1")
    # stream the other half in two batches (second re-delivers the first)
    b1 = emb.filter("vec_id % 4 = 1")
    b2 = emb.filter("vec_id % 2 = 1")  # includes b1's ids again
    sink(b1, 0)
    sink(b2, 1)
    got = {
        (r["nid"], tuple(r["codes"]))
        for r in read_snapshot(spark, root + "/codes").collect()
    }
    books = pq_load_codebooks(spark, root + "/books")
    want = {
        (r["nid"], tuple(r["codes"]))
        for r in pq_encode(emb, books).collect()
    }
    assert got == want and got
    # replay folds nothing
    v = current_snapshot(root + "/codes").version
    sink(b2, 1)
    assert current_snapshot(root + "/codes").version == v
    # wrong generation refused at construction
    with pytest.raises(ValueError, match="stale PQ codebooks"):
        pq_codes_sink(root, query_name="x", expect_source="v2")
    # mid-stream rebuild refused at the next batch — even with
    # IDENTICAL meta (same corpus tag, retrained books): the guard is
    # the commit VERSION, so any new books commit stops the stream
    from airflow_crypto_btc_spark.operators.similarity import (
        pq_save_codebooks,
        pq_train_codebooks,
    )

    pq_save_codebooks(
        spark, pq_train_codebooks(emb, m=8, sample_cap=50000),
        root + "/books", meta={"source_version": "v1", "m": 8},
    )
    with pytest.raises(ValueError, match="changed under a running"):
        sink(emb.filter("vec_id % 4 = 3"), 2)


def test_streaming_ivfpq_maintains_full_index(spark, tmp_path):
    """The IVF-PQ arrivals sink: streamed codes/lists equal the offline
    frozen-model twins on the union corpus, and from-index serving over
    the maintained index equals the fused pipeline run on the union
    (arrival ids chosen off the seed rule, so the coarse centroid set is
    identical either way).  Replay and re-delivery fold nothing."""
    from airflow_crypto_btc_spark.operators.similarity import (
        ivfpq_save_index,
        ivfpq_topk,
        ivfpq_topk_from_index,
        pq_encode,
        pq_load_codebooks,
    )
    from airflow_crypto_btc_spark.streaming.ann_stream import (
        ivfpq_arrivals_sink,
    )

    reference = _vectors(spark, n=50)
    root = str(tmp_path / "ivfpq")
    ivfpq_save_index(spark, reference, root, "v1", m=4)

    # arrivals: new ids, none matching the seed rule (vec_id % 25 = 7)
    arr_ids = [100, 101, 103, 104, 110, 126]
    rng = np.random.RandomState(7)
    arrivals = spark.createDataFrame(
        [(i, rng.randn(16).tolist()) for i in arr_ids],
        "vec_id long, embedding array<double>",
    )
    sink = ivfpq_arrivals_sink(root, query_name="ivfpq")
    sink(arrivals.filter("vec_id < 105"), 0)
    sink(arrivals.filter("vec_id >= 105"), 1)

    union = reference.unionByName(arrivals)
    books = pq_load_codebooks(spark, str(tmp_path / "ivfpq/books"))
    # codes table == offline frozen-books encode of the union
    got_codes = {
        r["nid"]: tuple(r["codes"])
        for r in read_snapshot(spark, root + "/codes").collect()
    }
    want_codes = {
        r["nid"]: tuple(r["codes"])
        for r in pq_encode(union, books).collect()
    }
    assert got_codes == want_codes
    # from-index serve over the maintained index == fused pipeline on
    # the union (identical centroid seeds by construction)
    served = sorted(
        map(
            tuple,
            ivfpq_topk_from_index(
                spark, root, union, k=5, shortlist=60,
                expect_source="v1",
            ).collect(),
        )
    )
    fused = sorted(
        map(
            tuple,
            ivfpq_topk(
                union, m=4, k=5, shortlist=60, books=books
            ).collect(),
        )
    )
    assert served == fused
    # replay + re-delivery fold nothing (content-level: both tables)
    def _contents():
        return tuple(
            sorted(map(tuple, read_snapshot(spark, root + t).collect()))
            for t in ("/codes", "/lists")
        )

    before = _contents()
    sink(arrivals.filter("vec_id >= 105"), 1)  # replay
    sink(arrivals.filter("vec_id = 100"), 2)   # re-delivery
    assert _contents() == before
    # a centroids-only rebuild between batches (same rows, same meta)
    # stops the stream with nothing landed
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    cent = read_snapshot(spark, root + "/centroids")
    overwrite(
        spark, spark.createDataFrame(cent.collect(), cent.schema),
        root + "/centroids", meta=current_snapshot(root + "/books").meta,
    )
    with pytest.raises(ValueError, match="centroids changed"):
        sink(arrivals.filter("vec_id = 126"), 3)
    assert _contents() == before


def test_streaming_ivfpq_frozen_model_refusals_and_racer(
    spark, tmp_path, monkeypatch
):
    """A centroid re-seed mid-stream is refused (mixed inverted lists);
    a racer committing to the codes table between the sink's read and
    its append loses the CAS with zero side effects."""
    from airflow_crypto_btc_spark.operators.similarity import (
        ivfpq_save_index,
    )
    from airflow_crypto_btc_spark.sources import snapshot_table as st
    from airflow_crypto_btc_spark.streaming import ann_stream

    reference = _vectors(spark, n=50)
    root = str(tmp_path / "ivfpq")
    ivfpq_save_index(spark, reference, root, "v1", m=4)
    with pytest.raises(ValueError, match="stale IVF-PQ index"):
        ann_stream.ivfpq_arrivals_sink(root, "q", expect_source="v2")

    sink = ann_stream.ivfpq_arrivals_sink(root, "q", expect_source="v1")
    rng = np.random.RandomState(3)
    batch = spark.createDataFrame(
        [(200 + i, rng.randn(16).tolist()) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    # frozen-centroid refusal: bump the centroids table version
    st.append(
        spark,
        read_snapshot(spark, root + "/centroids").limit(0),
        root + "/centroids",
    )
    with pytest.raises(ValueError, match="centroids changed"):
        sink(batch, 0)
    # fresh sink against the current generation; racer on codes —
    # injected right after the lists fold_base read (resolved at call
    # time, AFTER the sink captured its CAS anchors)
    sink = ann_stream.ivfpq_arrivals_sink(root, "q", expect_source="v1")
    fired = {"done": False}
    real_read = ann_stream.fold_base

    def racing(spark_, table, txn_id):
        out = real_read(spark_, table, txn_id)
        if not fired["done"]:
            fired["done"] = True
            st.append(
                spark,
                read_snapshot(spark, root + "/codes").limit(0),
                root + "/codes",
            )
        return out

    monkeypatch.setattr(ann_stream, "fold_base", racing)
    with pytest.raises(st.CommitConflictError):
        sink(batch, 0)
    monkeypatch.setattr(ann_stream, "fold_base", real_read)
    # loser landed nothing new beyond the reference build + the racer's
    # empty commit
    assert all(
        r["nid"] < 100
        for r in read_snapshot(spark, root + "/codes").collect()
    )
    sink(batch, 0)  # retry converges
    ids = {
        r["nid"]
        for r in read_snapshot(spark, root + "/lists").collect()
        if r["nid"] >= 100
    }
    assert ids == {200, 201, 202, 203}
