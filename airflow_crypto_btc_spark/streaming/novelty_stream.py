"""Streaming cross-corpus novelty guard: maintain the bloom-pruned
membership state of ``operators/bloom`` ON a stream.

Per micro-batch of candidate documents:

1. hash the batch (JVM xxhash64 lanes, same kernels as the batch
   operator — imported, not copied: persisted bloom state is only valid
   while every producer computes bit positions identically);
2. test it against the PERSISTED bloom bitmap — rows the bloom clears
   are definitely new and skip the join; the possibly-seen remainder
   anti-joins the committed digests table (exact verification — bloom
   false positives die here, so the novel set is EXACT);
3. commit, in order: the DIGESTS first (the anchored fold of the
   README's sink contract), then the novel rows, then the bitmap row
   overwritten (also CAS-anchored) with the OR of the old bitmap and the
   batch's novel hashes.

Digests-first is safe because replay no longer re-runs the anti-join:
a replayed batch that finds its digests txn already committed
recomputes its novel set from that commit's CHANGE FEED
(``txn_version`` + ``snapshot_changes`` — exactly the digests the fold
added) joined back to the batch's deterministic representatives, so
the novel append lands its original content even though the anti-join
would now see the batch's own digests.  (The previous novel-first
order handled crash-replay but left the check-to-commit window open to
a racing second writer — the digests CAS closes it.)

The bitmap is perf state, never truth: the OR is idempotent under
replay, and a LOST bitmap update would only weaken the next batch's
pre-filter — but the CAS surfaces the racing writer anyway (a race on
the bloom table means a second maintainer is sharing this state).

Scale shape per batch: one Arrow scan of the batch, an anti-join whose
probe side is |suspects| (≈ |true dups| + fp·|new|), a distributed
partial-bitmap build over the novel rows (driver payload = #batches ×
n_bits/8, never row count), and a fixed-size bitmap rewrite+vacuum.
``compact_every=N`` additionally compacts the digests/novel tables so
the per-batch digests read never decays into a small-files scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    current_snapshot,
    fold_base,
    overwrite,
    read_snapshot_or_none,
    snapshot_changes,
    txn_version,
    vacuum,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    fresh_rows,
    maintain,
)


def novelty_sink(
    digests_table: str,
    novel_table: str,
    bloom_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 1 << 20,
    k: int = 5,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback; emits each distinct content exactly
    once — in the micro-batch where it first arrives."""
    import numpy as np

    from airflow_crypto_btc_spark.operators.bloom import (
        _digest_cols,
        _digest_expr,
        bitmap_of_hashes,
        bloom_flags,
    )

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        id_type = dict(batch_df.dtypes)[id_col]
        # within-batch dedup by CONTENT (min id per digest — replays
        # pick the same representative)
        prepped = _digest_cols(batch_df, text_col).withColumn(
            "digest", _digest_expr(text_col)
        )
        batch = (
            fresh_rows(prepped, "digest", F.col(id_col), None, None)
            .select(F.col(id_col).alias("id"), "digest", "_h1", "_h2")
            .localCheckpoint(eager=False)
        )
        # CAS anchor of the bitmap read-modify-overwrite
        bloom_v = current_snapshot(bloom_table).version
        digests_txn = f"{query_name}:{batch_id}:digests"
        bloom_state = read_snapshot_or_none(spark, bloom_table)
        bitmap_b = None
        if bloom_state is not None:
            meta = current_snapshot(bloom_table).meta
            if (meta.get("n_bits"), meta.get("k")) != (n_bits, k):
                raise ValueError(
                    f"bloom state has (n_bits, k)=({meta.get('n_bits')}, "
                    f"{meta.get('k')}), sink configured ({n_bits}, {k}) "
                    "— positions would not line up; rebuild the state"
                )
            bitmap_b = bytes(bloom_state.collect()[0]["bm"])
        bitmap_bc = None
        # try/finally: the broadcast must be released even when a commit
        # retry exhausts and raises mid-batch (the stream replays the
        # batch with a FRESH broadcast — an exception path that skipped
        # unpersist would leak exactly the blocks this design reclaims)
        try:
            if bitmap_b is None:
                suspects = batch
                certain = batch.limit(0)
            else:
                # per-batch broadcast, explicitly released after the
                # batch's appends materialize — a stream that never
                # idles cannot lean on py4j GC + ContextCleaner to
                # reclaim one bitmap's blocks per batch
                bitmap_bc = spark.sparkContext.broadcast(bitmap_b)
                flags = bloom_flags(
                    batch, bitmap_b, n_bits, k, id_type,
                    bitmap_bc=bitmap_bc,
                )
                maybe_ids = flags.filter("maybe_seen").select("id")
                suspects = batch.join(maybe_ids, "id", "left_semi")
                certain = batch.join(maybe_ids, "id", "left_anti")
            folded_v = txn_version(digests_table, digests_txn)
            if folded_v is not None:
                # crash-replay after the fold landed: recompute the
                # novel set from the fold's own CHANGE FEED (exactly
                # the digests it added), never from an anti-join, which
                # would lose the bloom-false-positive rows forever.
                # The digests append below then skips by txn id.
                digests_v = folded_v - 1
                added = snapshot_changes(
                    spark, digests_table, digests_v, folded_v
                ).select("digest")
                novel = batch.join(
                    added, "digest", "left_semi"
                ).localCheckpoint(eager=False)
            else:
                digests_v, committed = fold_base(
                    spark, digests_table, digests_txn
                )
                if committed is None:
                    verified = suspects
                else:
                    verified = suspects.join(
                        committed.select("digest"), "digest", "left_anti"
                    )
                novel = certain.unionByName(verified).localCheckpoint(
                    eager=False
                )
            # digests FIRST (the CAS-serialized fold — see module
            # docstring), then the output rows, then the bitmap
            append(
                spark, novel.select("digest"), digests_table,
                txn_id=digests_txn,
                expect_version=digests_v,
            )
            append(
                spark, novel.select("id", "digest"), novel_table,
                txn_id=f"{query_name}:{batch_id}:novel",
            )
            # bitmap after both: an OR is idempotent under replay, and a
            # lost update only weakens the NEXT batch's pre-filter.
            # Built distributed (partial bitmaps), never a row collect.
            delta_bm = np.frombuffer(
                bitmap_of_hashes(novel, n_bits, k), dtype=np.uint8
            )
            if bitmap_b is not None:
                delta_bm = delta_bm | np.frombuffer(
                    bitmap_b, dtype=np.uint8
                )
            overwrite(
                spark,
                spark.createDataFrame(
                    [(bytearray(delta_bm.tobytes()),)], "bm binary"
                ),
                bloom_table,
                meta={"n_bits": n_bits, "k": k},
                expect_version=bloom_v,
            )
            # every overwrite de-references the previous bitmap part but
            # leaves it on disk; without this an N-batch run accumulates
            # N dead copies of the (fixed-size) state
            vacuum(bloom_table)
        finally:
            if bitmap_bc is not None:
                # all consumers of the flags are materialized on the
                # success path (novel is checkpointed by the first
                # append); on the failure path the batch is replayed
                # from scratch — either way the blocks are dead here
                bitmap_bc.unpersist()
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {digests_table: None, novel_table: None},
        )

    return _fold
