"""Streaming frozen-vocab encoding: encode arriving documents against
the PERSISTED vocabulary and append each document's id array exactly
once — the ingest-time shape of tokenizer sharding.

The vocab is a frozen input (README, "Frozen inputs"): a vocab rebuild
under a running encode stream stops it rather than silently mixing id
spaces (id 7 from two vocab generations is two different tokens; a
mixed table would be silently corrupt training data).

Per batch: deterministic within-batch dedup, already-encoded ids
anti-join away (re-delivery; append-ignore), one broadcast-map encode
projection (document rows never shuffle), txn-id idempotent append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.vocab import encode_from_vocab
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    fold_base,
    pin,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    assert_pinned,
    fresh_rows,
    maintain,
)


def encoded_sink(
    vocab_table: str,
    encoded_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending frozen-vocab encodings."""
    [vocab_snap] = pin("vocab", vocab_table, expect_source=expect_source)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("vocab", vocab_snap)
        # the vocab-version assert above is the cross-table fast-fail;
        # the anchored append below is the same-table guarantee
        txn = f"{query_name}:{batch_id}"
        encoded_v, committed = fold_base(spark, encoded_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), committed, id_col
        )
        append(
            spark,
            encode_from_vocab(spark, fresh, vocab_table, id_col, text_col),
            encoded_table,
            txn_id=txn,
            expect_version=encoded_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {encoded_table: None},
        )

    return _fold
