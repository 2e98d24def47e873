"""Streaming semantic-dedup maintenance: keep the SemDeDup index of
``operators/similarity`` (frozen quantizer + assigned corpus) current ON
a stream of arriving vectors, and emit each arrival's labeling —
(id, cid, dup_of, keep) — exactly once, in its own micro-batch.

The batch-side architecture (``build_semantic_index`` →
``semantic_purge_from_tables``) proved the decomposition

    labeling(corpus) = labeling(old) ∪ delta-probe(Δ)

exact under a FROZEN quantizer and append-only ids.  This module runs
the Δ side per micro-batch:

1. the centroids are a frozen input (README, "Frozen inputs") — a
   rebuild under a running stream stops it, never silently re-clusters;
2. within-batch duplicates resolve deterministically and already-indexed
   ids anti-join away (re-delivery from an at-least-once source);
3. ids arriving BELOW the committed high-water mark would invalidate
   already-emitted labelings — they are quarantined (id, max_id_seen
   rows in their own table), not absorbed and not silently dropped
   (``dedup_stream``'s conflict-quarantine precedent);
4. the survivors are labeled against committed members ∪ the in-flight
   batch (``semantic_purge_delta`` — cost |batch| × cluster-mates,
   never |index|²), then labelings commit FIRST and member rows LAST,
   so freshness keys off the final commit and every crash window
   replays to the identical labeling set.

The reference has no streaming surface; this extends its dedup family
(SURVEY §2 extension) to the Structured-Streaming execution model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import norm2_expr
from airflow_crypto_btc_spark.operators.similarity import (
    _nearest_centroids,
    semantic_purge_delta,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    current_snapshot,
    fold_base,
    pin,
    read_parts,
)
from airflow_crypto_btc_spark.streaming.ann_stream import vec_order
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    assert_pinned,
    fresh_rows,
    maintain,
)


def semantic_index_sink(
    centroids_table: str,
    members_table: str,
    labels_table: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    expect_source: str | None = None,
    quarantine_table: str | None = None,
    max_cluster_size: int | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the semantic-index members
    table and the emitted labelings table with exactly-once semantics
    against FROZEN centroids.

    The centroids are a frozen input (README, "Frozen inputs").

    ``quarantine_table``: where below-high-water-mark arrivals land
    (id, batch max_id at refusal time).  Without it such rows are
    REFUSED loudly (ValueError stops the stream) — silence is the one
    behavior the exactness identity cannot survive.

    ``max_cluster_size`` caps the committed-member side of the labeling
    join per batch (the batch side is |batch|-bounded already): on a
    boilerplate-heavy stream one semantic cluster accumulates O(index)
    members and the per-batch probe goes quadratic in it.  The members
    table still gains every batch row — only labeling is capped, so the
    serving artifact stays complete; audit with
    ``similarity.semantic_purge_skipped_clusters``."""

    [cent_snap] = pin(
        "semantic quantizer", centroids_table, expect_source=expect_source
    )
    state: dict = {}  # frozen centroids frame, loaded on first batch

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("semantic quantizer", cent_snap)
        if "cent" not in state:
            state["cent"] = read_parts(
                spark, centroids_table, cent_snap.files, cent_snap
            )
        members_txn = f"{query_name}:{batch_id}:members"
        members_v, committed = fold_base(spark, members_table, members_txn)
        # the fresh chain (deterministic dedup + anti-join) feeds the
        # high-water check, the labeling, the member rows, and the
        # batch-max aggregate — cut it once instead of recomputing the
        # window per consumer
        fresh = fresh_rows(
            batch_df, id_col, vec_order(vec_col), committed, "id"
        ).localCheckpoint(eager=False)
        # High-water-mark check: one metadata scalar vs one batch-sized
        # aggregation — never a scan of the members table.  The mark
        # rides the members commit meta (max of all appended batches).
        prev_max = (
            None if committed is None
            else current_snapshot(members_table, members_v).meta.get(
                "max_id"
            )
        )
        late_rows = None
        if prev_max is not None:
            late = fresh.filter(F.col(id_col) <= prev_max)
            n_late = late.count()
            if n_late:
                if quarantine_table is None:
                    raise ValueError(
                        f"{n_late} arrivals at or below the indexed "
                        f"high-water mark {prev_max} — out-of-order ids "
                        "would invalidate already-emitted labelings; "
                        "pass quarantine_table to divert them or "
                        "rebuild the index over the full corpus"
                    )
                late_rows = late.select(
                    F.col(id_col).alias("id"),
                    F.lit(prev_max).cast("long").alias(
                        "high_water_mark"
                    ),
                )
                fresh = fresh.filter(F.col(id_col) > prev_max)
        labeling = semantic_purge_delta(
            state["cent"],
            committed,
            fresh,
            id_col,
            vec_col,
            cosine_threshold,
            max_cluster_size,
        )
        # member rows in the persisted index shape (id, e, vn, cid):
        # recomputed via the same shared assignment helper the labeling
        # used, so the two can never disagree on a row's cluster
        cent = state["cent"].withColumn("cn", F.sqrt(norm2_expr("ce")))
        batch_members = _nearest_centroids(
            fresh.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("e")
            ),
            cent,
            "id",
            "e",
            keep=1,
        ).select("id", "e", F.col("__n_e").alias("vn"), "cid")
        batch_max = fresh.agg(
            F.max(id_col).alias("mx")
        ).collect()[0]["mx"]
        new_max = (
            prev_max if batch_max is None
            else batch_max if prev_max is None
            else max(prev_max, int(batch_max))
        )
        # members FIRST (the CAS-serialized fold); quarantine + labels
        # follow, each a pure function of (batch, pre-fold snapshot)
        append(
            spark, batch_members, members_table,
            txn_id=members_txn,
            expect_version=members_v,
            meta={
                **cent_snap.meta,
                "max_id": None if new_max is None else int(new_max),
            },
        )
        if late_rows is not None:
            append(
                spark, late_rows, quarantine_table,
                txn_id=f"{query_name}:{batch_id}:quarantine",
            )
        append(
            spark, labeling, labels_table,
            txn_id=f"{query_name}:{batch_id}:labels",
        )
        # cid-cluster the members rewrite so IVF probe pruning
        # (ivf_topk_from_tables) keeps skipping files as the stream grows
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {members_table: ["cid"], labels_table: None},
        )

    return _fold
