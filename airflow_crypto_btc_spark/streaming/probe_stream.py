"""Streaming model-based quality gating over EMBEDDING arrivals: score
each arriving vector against the PERSISTED probe weights
(``operators/probe.build_probe_model``) and append its gate decision
exactly once.

This is the ingest-time shape the persisted probe exists for: a 100 TB
pipeline trains the classifier ONCE on the labeled reference set and
gates arrivals against FROZEN weights — re-running gradient descent per
micro-batch would both rescan the corpus and DRIFT (the same document
admitted today, dropped tomorrow, because unrelated arrivals moved the
weights).  The weights are a frozen input (README, "Frozen inputs"): a
model rebuild under a running stream stops it rather than silently
mixing scoring regimes.

Per batch: deterministic within-batch dedup, already-decided ids
anti-join away (re-delivery), survivors score via one broadcast
weight-array cross join — a row-local integer expression, no exchange
beyond the batch's own rows — and the single append is txn-id
idempotent.  The gate decision lands WITH its evidence
(``score_micro``), so downstream consumers filter without re-scoring
and an audit can always ask "why was this dropped".

The reference has no streaming surface; this extends the curation
family (SURVEY §2 extension) to the Structured-Streaming execution
model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.probe import (
    quality_probe_scores,
    weights_from_model_rows,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    fold_base,
    pin,
    read_parts,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    assert_pinned,
    fresh_rows,
    maintain,
)


def probe_gate_sink(
    model_table: str,
    decisions_table: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_score_micro: int = 500_000,
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving vectors' frozen-probe
    gate decisions — ``(id, score_micro, passed)`` — with exactly-once
    semantics against the pinned weights.

    Arrivals carry no label (that is the point of the gate), so scoring
    goes through the weight array directly rather than
    ``quality_probe_scores_from_model``'s labeled-evaluation shape."""

    [model_snap] = pin("probe model", model_table, expect_source=expect_source)

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("probe model", model_snap)
        txn = f"{query_name}:{batch_id}"
        decisions_v, committed = fold_base(spark, decisions_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.to_json(F.struct(vec_col))),
            committed, id_col,
        )
        weights = weights_from_model_rows(
            read_parts(
                spark, model_table, model_snap.files, model_snap
            ).select("pos", "w_micro")
        )
        # label-free scoring: reuse the batch scorer with a dummy label,
        # then keep only the gate-relevant columns
        scores = quality_probe_scores(
            fresh.withColumn("_y", F.lit(0)),
            weights,
            id_col=id_col,
            vec_col=vec_col,
            label_col="_y",
            positive_min=1,
        ).select(
            id_col,
            "score_micro",
            (F.col("score_micro") >= F.lit(min_score_micro)).alias(
                "passed"
            ),
        )
        append(
            spark, scores, decisions_table,
            txn_id=txn,
            expect_version=decisions_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {decisions_table: None},
        )

    return _fold
