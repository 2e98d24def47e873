"""Streaming takedown queue: deletion requests folded per micro-batch.

Production erasure is a QUEUE, not a one-shot command — takedown
notices, contamination discoveries, and user deletions arrive
continuously, and each must cascade through every persisted artifact
(operators/takedown.py) with the same exactly-once discipline the
ingest maintainers have.  This sink is the consumption side: each
micro-batch of deletion requests (rows carrying ``doc_id``; carrying
``text`` too if the gram index should decrement — a CDC delete feed
ships the full old row, which is exactly what the decrement needs)
runs one ``cascade_takedown`` under batch-derived txn ids.

Sequential batches compose exactly: every per-artifact eviction is
idempotent set subtraction and the split rebase re-anchors on the
current changelog, so applying D = D₁ ∪ D₂ ∪ … batch-by-batch ends in
the same state as one shot — which is what the catalog entry's oracle
(a from-scratch rebuild on corpus − D) checks end-to-end.

Crash contract: the cascade's steps are individually txn-keyed
(``{query_name}:{batch_id}:<artifact>``), so an engine replay of a
half-applied batch completes the remaining artifacts and skips the
landed ones; a racing ingest maintainer surfaces as
``CommitConflictError`` (CAS loss), and Structured Streaming retries the
batch from a fresh read.
"""

from __future__ import annotations

from airflow_crypto_btc_spark.operators.takedown import cascade_takedown
from airflow_crypto_btc_spark.sources.snapshot_table import append


def takedown_sink(
    query_name: str,
    bm25: tuple[str, str] | None = None,
    lsh: tuple[str, str] | None = None,
    ann_members: str | None = None,
    split: tuple[str, str, str] | None = None,
    pq_codes: str | None = None,
    gram_table: str | None = None,
    report_table: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """``foreachBatch`` callback cascading each batch of deletion
    requests through the configured artifacts.  ``gram_table`` is only
    honored when the batch carries ``text_col`` (the decrement needs
    the departing documents' grams); ``report_table`` appends each
    batch's audit rows (txn-keyed, so replays don't double-report)."""

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.limit(1).count() == 0:
            return  # idle tick: no evictions, no audit noise — and no
            # full copy-on-write rewrite to delete nothing
        txn = f"{query_name}:{batch_id}"
        ids = batch_df.select(id_col).distinct()
        gram = None
        if gram_table is not None and text_col in batch_df.columns:
            gram = (gram_table, batch_df.select(id_col, text_col))
        report = cascade_takedown(
            spark,
            ids,
            txn_id=txn,
            bm25=bm25,
            lsh=lsh,
            ann_members=ann_members,
            split=split,
            pq_codes=pq_codes,
            gram=gram,
        )
        if gram_table is not None and gram is None:
            # the decrement needs the departing documents' text; a
            # batch without it must not LOOK decremented — surface an
            # explicit audit row so the operator knows the gram index
            # still carries the deleted docs' counts until a rebuild
            # (or a re-fed batch with text) lands
            report = report.unionByName(
                spark.createDataFrame(
                    [("gram_index", "skipped_no_text", 0)],
                    "artifact string, action string, rows_removed bigint",
                )
            )
        if report_table is not None:
            from pyspark.sql import functions as F

            append(
                spark,
                report.withColumn("batch_id", F.lit(batch_id)),
                report_table,
                txn_id=f"{txn}:report",
            )

    return _fold


def deferred_takedown_sink(
    query_name: str,
    dv_table: str,
    targets: list[tuple[str, str]],
    apply_every: int | None = None,
    id_col: str = "doc_id",
):
    """``foreachBatch`` callback for the MERGE-ON-READ erasure queue:
    each deletion batch lands as O(|batch|) tombstones
    (operators/takedown.takedown_deferred — zero data files move),
    readers serve (state − DV) via ``read_snapshot_mor``, and every
    ``apply_every``-th batch triggers ``apply_deletion_vectors`` — the
    amortized physical rewrite that drains the queue into the
    ``targets`` artifacts.  ``apply_every=None`` never applies inline
    (an external OPTIMIZE owns the cadence).

    Use this queue for contamination/near-dup removals where serve
    correctness matters immediately but physical erasure can ride the
    next OPTIMIZE; erasure-DEADLINE deletions (DMCA, user erasure)
    belong on the eager ``takedown_sink`` — the deadline is about
    bytes on disk, which only the apply+vacuum removes.

    Exactly-once: the tombstone append is txn-keyed per batch; the
    apply's per-artifact evictions and the DV truncate are txn-keyed
    under the triggering batch id, so engine replays of a half-applied
    batch complete it and change nothing else.  As with every
    foreachBatch sink in this engine, txn ids are
    ``{query_name}:{batch_id}`` — RE-POINTING a query to a fresh
    checkpoint restarts batch ids at 0, so a re-pointed stream MUST
    use a new ``query_name`` or its early batches collide with the old
    run's txn ids and skip silently."""
    from airflow_crypto_btc_spark.operators.takedown import (
        apply_deletion_vectors,
        takedown_deferred,
    )

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.limit(1).count() == 0:
            return  # idle tick: no tombstones, no apply
        txn = f"{query_name}:{batch_id}"
        takedown_deferred(
            spark,
            batch_df.select(id_col),
            dv_table,
            id_col,
            txn_id=txn,
        )
        if apply_every and (batch_id + 1) % apply_every == 0:
            apply_deletion_vectors(
                spark, dv_table, targets, txn_id=f"{txn}:opt"
            )

    return _fold
