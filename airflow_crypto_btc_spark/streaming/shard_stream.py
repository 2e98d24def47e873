"""Streaming consistent output sharding: assign arriving documents to
their training shard against the PERSISTED shard map
(``operators/curation.build_shard_map``) and append each assignment
exactly once.

This is the ingest-time shape the persisted map exists for: the
serpentine balance plan is computed ONCE on a reference corpus census
and frozen — re-planning per micro-batch would move already-assigned
documents between shards as the observed token distribution drifts
(a shard assignment, like a quality score, must not change because
unrelated documents arrived).  The map is a frozen input (README,
"Frozen inputs"): a rebuild under a running stream stops the sink
rather than silently splitting the corpus across two shard plans.

Per batch: deterministic within-batch dedup, already-assigned ids
anti-join away (re-delivery), survivors assign via one broadcast join
on the bounded map — no census, no window, no exchange beyond the
batch's own rows — and the single append is txn-id idempotent.  The
assignment lands WITH its evidence (``n_tokens``, ``micro_shard``), so
a balance audit over the decisions table needs no re-tokenization.

The reference has no streaming surface; this extends the curation
family (SURVEY §2 extension) to the Structured-Streaming execution
model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    fold_base,
    pin,
    read_snapshot,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    assert_pinned,
    fresh_rows,
    maintain,
)


def shard_assignments_sink(
    map_table: str,
    assignments_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving documents' frozen-map
    shard assignments — ``(id, n_tokens, micro_shard, shard)`` — with
    exactly-once semantics against the pinned map.  Because the
    persisted map is complete over every micro-shard, an arrival can
    never miss it — there is no fallback path whose behavior could
    diverge from the batch operator."""
    from airflow_crypto_btc_spark.functions.hashing import tokens_expr

    [map_snap] = pin("shard map", map_table, expect_source=expect_source)
    m = int(map_snap.meta["shards"]) * int(map_snap.meta["oversample"])

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("shard map", map_snap)
        # the map-version assert above is the cross-table fast-fail;
        # the anchored append below is the same-table guarantee
        txn = f"{query_name}:{batch_id}"
        assignments_v, committed = fold_base(spark, assignments_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), committed, id_col
        )
        mapping = read_snapshot(
            spark, map_table, version=map_snap.version
        ).select("micro_shard", "shard")
        assigned = (
            fresh.select(
                F.col(id_col),
                F.expr(
                    f"cast(conv(substr(md5(cast({id_col} as string))"
                    f",1,8),16,10) as bigint) % {m}"
                ).alias("micro_shard"),
                F.size(tokens_expr(text_col)).cast("long").alias(
                    "n_tokens"
                ),
            )
            .join(F.broadcast(mapping), "micro_shard")
            .select(id_col, "n_tokens", "micro_shard", "shard")
        )
        append(
            spark, assigned, assignments_table,
            txn_id=txn,
            expect_version=assignments_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {assignments_table: None},
        )

    return _fold
