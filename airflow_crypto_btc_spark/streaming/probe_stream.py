"""Streaming model-based quality gating over EMBEDDING arrivals: score
each arriving vector against the PERSISTED probe weights
(``operators/probe.build_probe_model``) and append its gate decision
exactly once.

This is the ingest-time shape the persisted probe exists for: a 100 TB
pipeline trains the classifier ONCE on the labeled reference set and
gates arrivals against FROZEN weights — re-running gradient descent per
micro-batch would both rescan the corpus and DRIFT (the same document
admitted today, dropped tomorrow, because unrelated arrivals moved the
weights).  The weights are loaded once at sink construction,
version-asserted every batch: a model rebuild under a running stream
stops it rather than silently mixing scoring regimes (the same doctrine
as ``text_stream.quality_scores_sink`` and ``semantic_stream``'s frozen
quantizer).

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
    current_snapshot,
    fold_base,
    read_snapshot,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
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
    semantics.  ``expect_source`` pins the weights to the corpus
    generation the gate was calibrated on (checked once at
    construction); every batch then asserts the model table is still the
    SAME COMMIT by version.

    Arrivals carry no label (that is the point of the gate), so scoring
    goes through the weight array directly rather than
    ``quality_probe_scores_from_model``'s labeled-evaluation shape."""

    model_snap = current_snapshot(model_table)
    if (
        expect_source is not None
        and model_snap.meta.get("source_version") != expect_source
    ):
        raise ValueError(
            f"stale probe model: built from "
            f"{model_snap.meta.get('source_version')!r}, sink expects "
            f"{expect_source!r} — rebuild before streaming the gate"
        )

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if current_snapshot(model_table).version != model_snap.version:
            raise ValueError(
                "probe model changed under a running gate stream — "
                "restart the sink against the new generation (scores "
                "from different weight generations are not comparable)"
            )
        txn = f"{query_name}:{batch_id}"
        decisions_v, committed = fold_base(spark, decisions_table, txn)
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.to_json(F.struct(vec_col))),
            committed, id_col,
        )
        weights = weights_from_model_rows(
            read_snapshot(spark, model_table).select("pos", "w_micro")
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
