"""Streaming model-based text quality gating: score arriving documents
against the PERSISTED unigram LM (``operators/text.build_text_models``)
and append each document's score exactly once.

This is the ingest-time shape the persisted model exists for: a quality
gate must not re-estimate corpus statistics per micro-batch (the inline
``unigram_logprob_score`` self-estimate would both rescan the corpus
and DRIFT — the same document scoring differently as unrelated arrivals
shift the distribution).  Here the model is a frozen input (README,
"Frozen inputs"): a model rebuild under a running stream stops it
rather than silently mixing scoring regimes.

Per batch: deterministic within-batch dedup, already-scored ids
anti-join away (re-delivery), survivors score via one broadcast model
join (|batch| × tokens rows, never a corpus aggregate), and the single
append is txn-id idempotent.  With ``min_logprob`` set, each row also
carries a ``passed`` flag — the gate decision is recorded WITH the
evidence, so downstream consumers filter on it without re-scoring, and
an audit can always ask "why was this dropped".

The reference has no streaming surface; this extends its text family
(SURVEY §2 extension) to the Structured-Streaming execution model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.text import (
    unigram_logprob_from_model,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    current_snapshot,
    fold_base,
    pin,
    upsert,
    vacuum,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    assert_pinned,
    fresh_rows,
    maintain,
)


def quality_scores_sink(
    unigram_table: str,
    scores_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_logprob: float | None = None,
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving documents' frozen-
    model quality scores — (doc_id, n_tokens, mean_logprob[, passed]) —
    with exactly-once semantics against the pinned model."""
    [model_snap] = pin(
        "text model", unigram_table, expect_source=expect_source
    )

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("text model", model_snap)
        # the model-version assert above is the cross-table fast-fail;
        # the anchored append below is the same-table guarantee
        txn = f"{query_name}:{batch_id}"
        scores_v, committed = fold_base(spark, scores_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), committed, id_col
        )
        scores = unigram_logprob_from_model(
            spark,
            fresh.select(F.col(id_col).alias("doc_id"), text_col),
            unigram_table,
            text_col,
        ).withColumnRenamed("doc_id", id_col)
        if min_logprob is not None:
            scores = scores.withColumn(
                "passed",
                F.coalesce(
                    F.col("mean_logprob") >= min_logprob, F.lit(False)
                ),
            )
        append(
            spark, scores, scores_table,
            txn_id=txn,
            expect_version=scores_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {scores_table: None},
        )

    return _fold


def gram_index_sink(
    gram_table: str,
    scores_table: str,
    ids_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the duplicated-span family
    ONLINE: arriving documents are scored against the CURRENT committed
    gram index (exact for arrivals — the
    ``operators/text.dup_coverage_from_index`` decomposition) and the
    index then GROWS by the batch's distinct-doc gram frequencies, all
    exactly-once.

    Unlike the frozen text model (whose sink refuses a rebuild under a
    running stream), this index is additively maintainable without
    invalidating any already-emitted score: a document's coverage is
    defined against the corpus AS OF its arrival plus its own batch —
    exactly the batch operator's semantics under arrival order — so the
    per-batch merge is the contract, not a violation of it.  ``k`` is
    fixed from the index commit metadata; ``expect_source`` pins the
    base generation at construction (``snapshot_table.pin``).

    Commit order scores → gram-upsert → ids: freshness keys off the
    FINAL commit (ids), so any crash window replays the whole batch and
    each commit lands or skips via its txn id.  The gram upsert's
    incoming totals are a LAZY frame over the pre-merge snapshot and
    its txn guard runs before staging, so a replay after the merge
    committed can never double-count a df."""

    [base] = pin("gram index", gram_table, expect_source=expect_source)
    k = int(base.meta.get("k", 8))

    def _fold(batch_df, batch_id: int) -> None:
        from airflow_crypto_btc_spark.functions.hashing import (
            shingles_expr,
        )
        from airflow_crypto_btc_spark.operators.text import (
            dup_coverage_from_index,
            with_tokens,
        )
        from airflow_crypto_btc_spark.sources.snapshot_table import (
            read_snapshot,
        )

        spark = batch_df.sparkSession
        # CAS anchor: the gram-index version this whole fold is based on.
        # Both gram reads below (the arrival scoring and the merge's old
        # counts) happen after this point, so if ANY other writer commits
        # to the index mid-fold the upsert's CAS rejects — the index can
        # never lose or double-count an update (the k re-check stays as
        # the semantic fast-fail).
        gram_snap = current_snapshot(gram_table)
        gram_v = gram_snap.version
        live_k = int(gram_snap.meta.get("k", 8))
        if live_k != k:
            raise ValueError(
                f"gram index k moved from {k} to {live_k} mid-stream — "
                "scores would mix gram widths"
            )
        # freshness keys off the FINAL commit (ids)
        _, seen = fold_base(
            spark, ids_table, f"{query_name}:{batch_id}:ids"
        )
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), seen, "id"
        ).select(
            F.col(id_col).alias("doc_id"), text_col
        ).localCheckpoint(eager=False)  # scores + gram delta + ids
        scores = dup_coverage_from_index(
            spark, fresh, gram_table, text_col
        )
        append(
            spark, scores, scores_table,
            txn_id=f"{query_name}:{batch_id}:scores",
        )
        delta_df = (
            with_tokens(fresh, text_col)
            .select(
                "doc_id",
                F.explode(shingles_expr("tokens", k)).alias("gram"),
            )
            .select("doc_id", F.md5("gram").alias("h"))
            .dropDuplicates(["doc_id", "h"])
            .groupBy("h")
            .agg(F.count("*").alias("ddf"))
        )
        committed = read_snapshot(spark, gram_table, version=gram_v)
        inc = delta_df.join(
            committed.select("h", F.col("df").alias("_old")), "h", "left"
        ).select(
            "h",
            (F.coalesce("_old", F.lit(0)) + F.col("ddf"))
            .cast("long")
            .alias("df"),
        )
        upsert(
            spark, inc, gram_table, ["h"],
            txn_id=f"{query_name}:{batch_id}:grams",
            expect_version=gram_v,
        )
        append(
            spark, fresh.select(F.col("doc_id").alias("id")), ids_table,
            txn_id=f"{query_name}:{batch_id}:ids",
        )
        if maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {scores_table: None, ids_table: None},
        ):
            vacuum(gram_table)  # upserts are rewrites: drop old gens

    return _fold


def bigram_scores_sink(
    bigram_table: str,
    unigram_table: str,
    scores_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_logprob: float | None = None,
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``quality_scores_sink``'s bigram twin: arriving documents score
    against the FROZEN interpolated bigram LM
    (``operators/text.build_bigram_lm``) — word order now matters at
    the gate, so shuffled-vocabulary spam that passes the unigram gate
    is caught here.  BOTH model tables (pair counts + unigram counts)
    are frozen inputs (README, "Frozen inputs").  Decisions land with
    evidence — (doc_id, n_bigrams, mean_logprob[, passed]) — via one
    txn-idempotent CAS append."""
    snaps = pin(
        "bigram LM", bigram_table, unigram_table,
        expect_source=expect_source, agree=(),
    )

    def _fold(batch_df, batch_id: int) -> None:
        from airflow_crypto_btc_spark.operators.text import (
            bigram_logprob_from_model,
        )

        spark = batch_df.sparkSession
        assert_pinned("bigram LM", *snaps)
        txn = f"{query_name}:{batch_id}"
        scores_v, committed = fold_base(spark, scores_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), committed, id_col
        )
        scores = bigram_logprob_from_model(
            spark,
            fresh.select(F.col(id_col).alias("doc_id"), text_col),
            bigram_table,
            unigram_table,
            text_col,
        ).withColumnRenamed("doc_id", id_col)
        if min_logprob is not None:
            scores = scores.withColumn(
                "passed",
                F.coalesce(
                    F.col("mean_logprob") >= min_logprob, F.lit(False)
                ),
            )
        append(
            spark, scores, scores_table,
            txn_id=txn,
            expect_version=scores_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {scores_table: None},
        )

    return _fold
