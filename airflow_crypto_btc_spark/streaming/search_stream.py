"""Streaming maintenance of the BM25 inverted index.

``operators/search.build_bm25_index`` is the one-shot build; a corpus
fed by ingest needs the index maintained per micro-batch.  Each batch:

1. drops ids the index already holds (re-delivery from an
   at-least-once source, or within-batch duplicates — deterministic
   min-digest representative, the dedup_stream discipline) by
   anti-joining the committed DOC-LENGTH table, which doubles as the
   id registry;
2. appends the survivors' length rows (the CAS-serialized fold —
   anchored on the registry version the freshness anti-join read, so a
   racing second writer loses the put-if-absent arbitration with zero
   side effects), then their posting rows.

Commit order doclen -> postings gives consumers the conservative crash
window: between the two commits a registered document has a length (it
participates in avgdl) but no postings (it cannot match) — scores dip
microscopically low until the replay closes the gap; the reverse order
would let a document match while its length is missing, silently
dropping it from scoring via the inner dl join.  Exactly-once: both
appends are txn-id keyed by batch; a replayed batch re-reads the
registry at its PRE-FOLD version (snapshot time travel) so the fresh
set recomputes identically, then each append skips or lands its
original content.

Scale shape per batch: one tokenize scan of the batch, appends sized by
the batch's tokens — the committed index is never rewritten (compaction
is the separate, data-preserving maintenance commit; ``compact_every``
Z-ORDERS the postings rewrite by token hash so serve-time token joins
file-prune as the stream grows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.search import doc_lengths, postings
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    fold_base,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    fresh_rows,
    maintain,
)


def bm25_index_sink(
    postings_table: str,
    doclen_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the BM25 inverted index.
    Insert-only per id (the near_dup_index_sink contract): a
    re-delivered id keeps its ORIGINAL index rows; content updates
    require a batch rebuild."""

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dlen_txn = f"{query_name}:{batch_id}:doclen"
        cas_v, registry = fold_base(spark, doclen_table, dlen_txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), registry, "doc_id"
        ).localCheckpoint(
            eager=False
        )  # one freshness anti-join feeds both appends
        batch_dlen = doc_lengths(fresh, id_col, text_col)
        batch_post = postings(fresh, id_col, text_col).withColumn(
            # serve-time joins prune files by token: cluster key for the
            # periodic compaction's Z-ORDER rewrite
            "tkn",
            F.xxhash64("token"),
        )
        append(
            spark,
            batch_dlen,
            doclen_table,
            txn_id=dlen_txn,
            expect_version=cas_v,
        )
        append(
            spark,
            batch_post,
            postings_table,
            txn_id=f"{query_name}:{batch_id}:postings",
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {doclen_table: None, postings_table: ["tkn"]},
        )

    return _fold
