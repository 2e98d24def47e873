"""Streaming corpus data card: maintain the per-document card FACTS
table incrementally as documents arrive, so the release card is always
one cheap digest-level rollup away.

The split mirrors the batch operator exactly (``operators/curation``):
``card_facts`` is the ingest-time projection — tokenize, language-score,
quality-score, and digest each document ONCE, at arrival — and
``card_from_facts`` is the serve-time rollup over skinny
(id, digest, lang, counts) rows.  The expensive text work is never
repeated: re-rendering the card after N arrivals costs O(|facts|) skinny
rows, not O(corpus bytes), and exact-duplicate accounting needs no
transition bookkeeping because the rollup always sees every digest's
full multiplicity.

Per batch: deterministic within-batch dedup, already-ingested ids
anti-join away (re-delivery; append-ignore semantics — a mutated body
under a seen id is NOT re-scored, same contract as the S5 sink), one
txn-id idempotent append.  Periodic compaction keeps the facts table's
file count bounded under long streams.

The reference has no streaming surface; this extends its report family
(SURVEY §2.1 S9's daily summary shape) to the Structured-Streaming
execution model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.curation import (
    card_facts,
    card_from_facts,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    fold_base,
    read_snapshot,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    fresh_rows,
    maintain,
)


def card_facts_sink(
    facts_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending each arriving document's card
    facts exactly once."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        txn = f"{query_name}:{batch_id}"
        facts_v, committed = fold_base(spark, facts_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(text_col)), committed, id_col
        )
        append(
            spark,
            card_facts(fresh, text_col, id_col),
            facts_table,
            txn_id=txn,
            expect_version=facts_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {facts_table: None},
        )

    return _fold


def data_card_from_facts_table(
    spark: SparkSession, facts_table: str
) -> DataFrame:
    """The release card served from the maintained facts table — the
    digest-level rollup only; no document body is read or re-scored."""
    return card_from_facts(read_snapshot(spark, facts_table))
