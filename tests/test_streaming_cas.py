"""Round-9 CAS closure for EVERY streaming maintainer: the check-to-commit
window `maintain_ohlc_rollup` closed in round 8 (anchored `expect_version`
commits arbitrated by the log's put-if-absent) is ported to the card-facts,
vocab-encode, shard-assignment, quality-score, gram-index, and quota sinks
(first wave), then to the novelty, semantic, dedup-LSH, embedding-index,
probe-gate, PQ-codes, and IVF-PQ sinks (second wave — multi-commit sinks
flipped to fold-first order, with crash-replays recomputing their
dependent outputs from the fold's pinned record: quota priors in commit
meta, novelty's change feed, semantic/dedup/ANN snapshot time travel).

Each test injects a racer commit between the sink's state read and its
commit — the exact interleaving a high-water-mark or version re-check
alone cannot see — and asserts (a) the sink raises
CommitConflictError instead of silently double-folding, and (b) a
retry from the read converges to the exact batch-twin result.  The
updated crash tests in each sink's own suite cover the replay halves.
"""

from __future__ import annotations

import pytest

from airflow_crypto_btc_spark.sources import snapshot_table as st
from airflow_crypto_btc_spark.sources.snapshot_table import CommitConflictError


def _racer_once(spark, table):
    """Return a side-effect that commits an empty append to `table` the
    first time it fires (a racing writer landing mid-fold: no high-water
    move, no txn id — invisible to every check except the CAS)."""
    fired = {"done": False}

    def _fire():
        if not fired["done"]:
            fired["done"] = True
            st.append(spark, st.read_snapshot(spark, table).limit(0), table)

    return _fire


# --------------------------------------------------------------- card facts
def test_card_sink_cas_rejects_mid_fold_racer(spark, tmp_path, monkeypatch):
    from airflow_crypto_btc_spark.operators.curation import card_facts
    from airflow_crypto_btc_spark.streaming import card_stream

    ft = str(tmp_path / "facts")
    docs = spark.createDataFrame(
        [(i, f"text body {i} alpha beta") for i in range(8)],
        "doc_id long, text string",
    )
    sink = card_stream.card_facts_sink(ft, query_name="card")
    sink(docs.filter("doc_id < 4"), 0)

    fire = _racer_once(spark, ft)
    real = card_stream.card_facts

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(card_stream, "card_facts", racing)
    with pytest.raises(CommitConflictError):
        sink(docs.filter("doc_id >= 4"), 1)
    monkeypatch.setattr(card_stream, "card_facts", real)

    # the losing fold left nothing; the retry converges to the batch twin
    assert len(st.read_snapshot(spark, ft).collect()) == 4
    sink(docs.filter("doc_id >= 4"), 1)
    got = sorted(
        map(tuple, st.read_snapshot(spark, ft).collect())
    )
    want = sorted(map(tuple, card_facts(docs, "text", "doc_id").collect()))
    assert got == want


# ------------------------------------------------------------ vocab encode
def test_vocab_sink_cas_rejects_mid_fold_racer(spark, tmp_path, monkeypatch):
    from airflow_crypto_btc_spark.operators.vocab import build_vocab_table
    from airflow_crypto_btc_spark.streaming import vocab_stream

    vt, et = str(tmp_path / "vocab"), str(tmp_path / "encoded")
    corpus = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c d")], "doc_id long, text string"
    )
    build_vocab_table(spark, corpus, vt, size=3, source_version="v1")
    sink = vocab_stream.encoded_sink(vt, et, query_name="e")
    arrivals = spark.createDataFrame(
        [(10, "a b"), (11, "c d a")], "doc_id long, text string"
    )
    sink(arrivals.filter("doc_id = 10"), 0)

    fire = _racer_once(spark, et)
    real = vocab_stream.encode_from_vocab

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(vocab_stream, "encode_from_vocab", racing)
    with pytest.raises(CommitConflictError):
        sink(arrivals.filter("doc_id = 11"), 1)
    monkeypatch.setattr(vocab_stream, "encode_from_vocab", real)

    ids = [r["doc_id"] for r in st.read_snapshot(spark, et).collect()]
    assert sorted(ids) == [10]  # loser appended nothing
    sink(arrivals.filter("doc_id = 11"), 1)  # retry converges
    ids = [r["doc_id"] for r in st.read_snapshot(spark, et).collect()]
    assert sorted(ids) == [10, 11]  # exactly once, no duplicates


# -------------------------------------------------------- shard assignment
def test_shard_sink_cas_rejects_mid_fold_racer(spark, tmp_path, monkeypatch):
    from airflow_crypto_btc_spark.operators.curation import build_shard_map
    from airflow_crypto_btc_spark.streaming import shard_stream

    mt, at = str(tmp_path / "map"), str(tmp_path / "assign")
    reference = spark.createDataFrame(
        [(i, "tok " * (1 + i % 5)) for i in range(40)],
        "doc_id long, text string",
    )
    build_shard_map(
        spark, reference, mt, source_version="v1", shards=2, oversample=4
    )
    sink = shard_stream.shard_assignments_sink(mt, at, query_name="s")
    sink(reference.filter("doc_id < 20"), 0)

    fire = _racer_once(spark, at)
    real = shard_stream.read_snapshot

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(shard_stream, "read_snapshot", racing)
    with pytest.raises(CommitConflictError):
        sink(reference.filter("doc_id >= 20"), 1)
    monkeypatch.setattr(shard_stream, "read_snapshot", real)

    assert len(st.read_snapshot(spark, at).collect()) == 20
    sink(reference.filter("doc_id >= 20"), 1)
    rows = st.read_snapshot(spark, at).collect()
    assert len(rows) == 40
    assert len({r["doc_id"] for r in rows}) == 40  # no double-assign


# ---------------------------------------------------------- quality scores
def test_scores_sink_cas_rejects_mid_fold_racer(
    spark, tmp_path, monkeypatch
):
    from airflow_crypto_btc_spark.operators.text import build_text_models
    from airflow_crypto_btc_spark.streaming import text_stream

    corpus = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    it, ut = str(tmp_path / "idf"), str(tmp_path / "unigram")
    build_text_models(spark, corpus, it, ut, source_version="v1")
    sc = str(tmp_path / "scores")
    sink = text_stream.quality_scores_sink(ut, sc, query_name="g")
    arrivals = spark.createDataFrame(
        [(100, "the cat"), (101, "the mat sat")],
        "doc_id long, text string",
    )
    sink(arrivals.filter("doc_id = 100"), 0)

    fire = _racer_once(spark, sc)
    real = text_stream.unigram_logprob_from_model

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(text_stream, "unigram_logprob_from_model", racing)
    with pytest.raises(CommitConflictError):
        sink(arrivals.filter("doc_id = 101"), 1)
    monkeypatch.setattr(text_stream, "unigram_logprob_from_model", real)

    assert len(st.read_snapshot(spark, sc).collect()) == 1
    sink(arrivals.filter("doc_id = 101"), 1)
    ids = sorted(r["doc_id"] for r in st.read_snapshot(spark, sc).collect())
    assert ids == [100, 101]


# --------------------------------------------------------------- gram index
def test_gram_sink_cas_rejects_mid_fold_racer(spark, tmp_path, monkeypatch):
    """A racer committing to the gram INDEX between the fold's reads and
    its upsert must lose the CAS — the index can never double-count or
    lose an update — and the retry folds the batch exactly once."""
    from airflow_crypto_btc_spark.operators import text as text_ops
    from airflow_crypto_btc_spark.operators.text import build_gram_index
    from airflow_crypto_btc_spark.streaming.text_stream import (
        gram_index_sink,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    gt = str(tmp_path / "grams")
    build_gram_index(spark, corpus, gt, source_version="v1")
    sc, it = str(tmp_path / "scores"), str(tmp_path / "ids")
    sink = gram_index_sink(gt, sc, it, query_name="g")

    batch = spark.createDataFrame(
        [(10, "a b c d e f g h tail")], "doc_id long, text string"
    )
    fire = _racer_once(spark, gt)
    real = text_ops.dup_coverage_from_index

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(text_ops, "dup_coverage_from_index", racing)
    with pytest.raises(CommitConflictError):
        sink(batch, 0)
    monkeypatch.setattr(text_ops, "dup_coverage_from_index", real)

    before = {
        r["h"]: r["df"] for r in st.read_snapshot(spark, gt).collect()
    }
    sink(batch, 0)  # retry: scores txn skips, grams fold exactly once
    after = {
        r["h"]: r["df"] for r in st.read_snapshot(spark, gt).collect()
    }
    # every gram df grew by at most 1 vs the pre-retry index (the single
    # new doc) — a double-fold would show +2 on the shared grams
    assert all(after[h] - before.get(h, 0) <= 1 for h in after)
    assert len(st.read_snapshot(spark, it).collect()) == 1


# -------------------------------------------------------------------- quota
def test_quota_counts_cas_rejects_mid_fold_racer(
    spark, tmp_path, monkeypatch
):
    """Two gates folding from the same prior counts: exactly one lands.
    The loser aborts BEFORE any of its commits (counts is the first), so
    a retry reproduces the batch twin exactly."""
    from airflow_crypto_btc_spark.operators.curation import quota_decisions
    from airflow_crypto_btc_spark.streaming import quota_stream

    dt, ct, it = (
        str(tmp_path / "dec"), str(tmp_path / "cnt"), str(tmp_path / "ids")
    )
    docs = spark.createDataFrame(
        [(i, "en", f"s{i % 2}") for i in range(12)],
        "doc_id long, lang string, source string",
    )
    sink = quota_stream.domain_quota_sink(dt, ct, it, query_name="q", cap=3)
    sink(docs.filter("doc_id < 6"), 0)

    fire = _racer_once(spark, ct)
    real = quota_stream.upsert

    def racing(*a, **k):
        fire()
        return real(*a, **k)

    monkeypatch.setattr(quota_stream, "upsert", racing)
    with pytest.raises(CommitConflictError):
        sink(docs.filter("doc_id >= 6"), 1)
    monkeypatch.setattr(quota_stream, "upsert", real)

    # the loser landed NOTHING: counts/decisions/ids all show batch 0 only
    assert len(st.read_snapshot(spark, dt).collect()) == 6
    assert len(st.read_snapshot(spark, it).collect()) == 6
    counts = {
        r["domain_key"]: r["n_seen"]
        for r in st.read_snapshot(spark, ct).collect()
    }
    assert counts == {"s0": 3, "s1": 3}

    sink(docs.filter("doc_id >= 6"), 1)  # retry converges to the twin
    streamed = {
        (r.doc_id, r.admit_rank, r.admitted)
        for r in st.read_snapshot(spark, dt).collect()
    }
    twin = {
        (r.doc_id, r.admit_rank, r.admitted)
        for r in quota_decisions(docs, cap=3).collect()
    }
    assert streamed == twin


def test_quota_replay_recomputes_decisions_from_pinned_priors(
    spark, tmp_path, monkeypatch
):
    """Crash between the counts fold and the decisions append: the replay
    finds the counts txn already committed and must recompute decisions
    from the priors PINNED in that commit's metadata — recomputing from
    the live (already-folded) counts would inflate every admit_rank by
    the batch's own contribution."""
    from airflow_crypto_btc_spark.operators.curation import quota_decisions
    from airflow_crypto_btc_spark.streaming import quota_stream

    dt, ct, it = (
        str(tmp_path / "dec"), str(tmp_path / "cnt"), str(tmp_path / "ids")
    )
    docs = spark.createDataFrame(
        [(i, "en", "only_domain") for i in range(10)],
        "doc_id long, lang string, source string",
    )
    sink = quota_stream.domain_quota_sink(dt, ct, it, query_name="q", cap=4)
    sink(docs.filter("doc_id < 5"), 0)

    # crash injection: the decisions append (first append AFTER the
    # counts commit) dies — counts folded, decisions/ids missing
    real_append = quota_stream.append
    def crashing(spark_, df, table, **kw):
        if table == dt:
            raise RuntimeError("injected crash before decisions append")
        return real_append(spark_, df, table, **kw)

    monkeypatch.setattr(quota_stream, "append", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(docs.filter("doc_id >= 5"), 1)
    monkeypatch.setattr(quota_stream, "append", real_append)

    # counts hold the post-fold totals; decisions/ids still batch-0 only
    counts = {
        r["domain_key"]: r["n_seen"]
        for r in st.read_snapshot(spark, ct).collect()
    }
    assert counts == {"only_domain": 10}
    assert len(st.read_snapshot(spark, dt).collect()) == 5

    sink(docs.filter("doc_id >= 5"), 1)  # replay (same batch id)
    streamed = {
        (r.doc_id, r.admit_rank, r.admitted)
        for r in st.read_snapshot(spark, dt).collect()
    }
    twin = {
        (r.doc_id, r.admit_rank, r.admitted)
        for r in quota_decisions(docs, cap=4).collect()
    }
    assert streamed == twin  # ranks 6..10, NOT 16..20
    counts = {
        r["domain_key"]: r["n_seen"]
        for r in st.read_snapshot(spark, ct).collect()
    }
    assert counts == {"only_domain": 10}  # replay did not re-fold


# ------------------------------------------------ round-9 second wave:
# the remaining maintainers (novelty, semantic, dedup-LSH, embedding-
# index, probe) flipped to fold-first CAS with time-travel/change-feed
# replay; racers for the two with the most delicate replay semantics.


def test_novelty_digests_cas_rejects_mid_fold_racer(
    spark, tmp_path, monkeypatch
):
    """A racer committing digests between the novelty sink's anti-join
    read and its digests fold loses the CAS before ANY commit (digests
    is now first), so no stale novel rows can land."""
    from airflow_crypto_btc_spark.streaming import novelty_stream as ns

    d_tbl, n_tbl, b_tbl = (
        str(tmp_path / "d"), str(tmp_path / "n"), str(tmp_path / "bl")
    )
    schema = "doc_id long, text string"
    sink = ns.novelty_sink(d_tbl, n_tbl, b_tbl, query_name="nov")
    sink(spark.createDataFrame([(1, "first doc body")], schema), 0)

    fired = {"done": False}
    real = ns.fold_base

    def racing(spark_, table, txn_id):
        out = real(spark_, table, txn_id)  # the sink's anchored read
        if table == d_tbl and not fired["done"]:
            fired["done"] = True
            st.append(
                spark, st.read_snapshot(spark, d_tbl).limit(0), d_tbl
            )
        return out

    monkeypatch.setattr(ns, "fold_base", racing)
    with pytest.raises(CommitConflictError):
        sink(spark.createDataFrame([(2, "second doc body")], schema), 1)
    monkeypatch.setattr(ns, "fold_base", real)

    # loser landed nothing (novel would have been the SECOND commit)
    assert len(st.read_snapshot(spark, n_tbl).collect()) == 1
    sink(spark.createDataFrame([(2, "second doc body")], schema), 1)
    assert sorted(
        r["id"] for r in st.read_snapshot(spark, n_tbl).collect()
    ) == [1, 2]


def test_embedding_index_cas_rejects_mid_fold_racer(
    spark, tmp_path, monkeypatch
):
    """A racer committing index rows between the ANN sink's anti-join
    read and its index fold loses the CAS with zero side effects (index
    is now the first commit)."""
    import numpy as np

    from airflow_crypto_btc_spark.streaming import ann_stream as ans

    rng = np.random.RandomState(5)
    schema = "vec_id long, embedding array<double>"
    vecs = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(12)], schema
    )
    i_tbl, p_tbl = str(tmp_path / "idx"), str(tmp_path / "pairs")
    sink = ans.embedding_index_sink(
        i_tbl, p_tbl, query_name="ann", planes=4
    )
    sink(vecs.filter("vec_id < 6"), 0)

    fired = {"done": False}
    real = ans.fold_base

    def racing(spark_, table, txn_id):
        out = real(spark_, table, txn_id)  # the sink's anchored read
        if table == i_tbl and not fired["done"]:
            fired["done"] = True
            st.append(
                spark, st.read_snapshot(spark, i_tbl).limit(0), i_tbl
            )
        return out

    monkeypatch.setattr(ans, "fold_base", racing)
    with pytest.raises(CommitConflictError):
        sink(vecs.filter("vec_id >= 6"), 1)
    monkeypatch.setattr(ans, "fold_base", real)

    assert len(st.read_snapshot(spark, i_tbl).collect()) == 6
    sink(vecs.filter("vec_id >= 6"), 1)  # retry converges
    rows = st.read_snapshot(spark, i_tbl).collect()
    assert len(rows) == 12
    assert len({r["nid"] for r in rows}) == 12


def test_txn_version_and_overwrite_cas(spark, tmp_path):
    """The two round-9 snapshot-table primitives: txn_version recovers
    the commit a txn landed at (deterministic-replay support), and
    overwrite honors expect_version (read-modify-overwrite folds can
    never silently drop a racing writer's update)."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,)], "v long")
    v0 = st.append(spark, df, t, txn_id="a")
    v1 = st.append(spark, df, t, txn_id="b")
    assert st.txn_version(t, "a") == v0
    assert st.txn_version(t, "b") == v1
    assert st.txn_version(t, "nope") is None
    v2 = st.overwrite(spark, df, t, expect_version=v1)
    assert v2 == v1 + 1
    with pytest.raises(st.CommitConflictError):
        st.overwrite(spark, df, t, expect_version=v1)  # stale read
