"""Exactly-once streaming sink into the log-structured snapshot table.

Structured Streaming's file sink is append-only with its own manifest; the
engine's snapshot table (sources/snapshot_table.py) already has an ACID
commit log with idempotent ``txn_id`` commits.  Marrying them via
``foreachBatch`` gives streaming writes the same guarantee Delta's
``txnAppId``/``txnVersion`` pattern provides:

- each micro-batch commits once, keyed ``<query_name>:<batch_id>``;
- a REPLAYED batch (failure between sink write and checkpoint advance, or
  a full re-run against a fresh checkpoint) finds its txn_id already in
  the log and stages nothing — at-least-once delivery from the source
  becomes exactly-once table state (asserted in
  tests/test_streaming_joins.py::test_snapshot_sink_replay_is_exactly_once).

Readers concurrently see only whole committed versions — never a torn
micro-batch — because visibility is the atomic log append, not the data
file write.

The maintainer sinks (``streaming/*_stream.py``) share the rest of the
contract (README, "sink contract"): ``snapshot_table.fold_base`` is the
anchored or pre-fold read, :func:`fresh_rows` the insert-only front end,
:func:`maintain` the cadence compaction, and ``snapshot_table.pin`` at
construction plus :func:`assert_pinned` per batch the frozen-input
check.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    Snapshot,
    append,
    compact,
    current_snapshot,
    files_overlapping_all_keys,
    read_parts,
    upsert,
    vacuum,
)


def fresh_rows(
    batch_df: DataFrame,
    id_col: str,
    order: Column,
    committed: DataFrame | None,
    seen_col: str | None,
) -> DataFrame:
    """One row per ``id_col`` value of the batch — the first by
    ``order``, a deterministic content expression, so a replay keeps the
    representative the committed outputs were computed from — minus the
    ids ``committed`` already holds in ``seen_col`` (the insert-only
    anti-join; ``committed=None`` skips it).  ``committed`` is the
    sink's ``fold_base`` frame."""
    w = Window.partitionBy(id_col).orderBy(order)
    fresh = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    if committed is not None:
        fresh = fresh.join(
            committed.select(F.col(seen_col).alias("_seen")),
            fresh[id_col] == F.col("_seen"),
            "left_anti",
        )
    return fresh


def assert_pinned(what: str, *snaps: Snapshot) -> None:
    """The per-batch half of a frozen input's pin (README, "Frozen
    inputs"): each of ``snaps`` — taken by ``snapshot_table.pin`` at
    sink construction — must still be its table's current commit.  By
    VERSION, not meta: a rebuild with identical meta (same corpus tag,
    retrained model) stops the stream rather than mixing generations."""
    for s in snaps:
        now = current_snapshot(s.table).version
        if now != s.version:
            raise ValueError(
                f"{what} changed under a running stream ({s.table}: "
                f"v{s.version} -> v{now}) — restart the sink against "
                "the new generation"
            )


def maintain(
    spark: SparkSession,
    batch_id: int,
    every: int | None,
    target_parts: int,
    tables: Mapping[str, Sequence[str] | None],
) -> bool:
    """Cadence maintenance: after every ``every``-th batch (``None``:
    never) compact each of ``tables`` — table -> Z-order columns or
    ``None`` — into ``target_parts`` parts, then vacuum it.  A table
    with no live part yet is skipped, and cluster columns its logged
    schema lacks (an older generation) are left out of the Z-order; any
    other failure propagates.  Compaction is a data-preserving rewrite,
    so a replay that compacts again is wasteful, never wrong.  Returns
    whether the cadence fired."""
    if not every or (batch_id + 1) % every:
        return False
    for table, cluster in tables.items():
        snap = current_snapshot(table)
        if not snap.files:
            continue
        have = set(snap.schema.fieldNames())
        cluster = [c for c in cluster or () if c in have]
        compact(
            spark, table, target_parts=target_parts,
            cluster_by=cluster or None,
        )
        vacuum(table)
    return True


def snapshot_append_sink(table: str, query_name: str):
    """``foreachBatch`` callback: idempotent transactional append of each
    micro-batch into ``table``."""

    def _write(batch_df, batch_id: int) -> None:
        append(
            batch_df.sparkSession,
            batch_df,
            table,
            txn_id=f"{query_name}:{batch_id}",
        )

    return _write


def rollup_maintenance_sink(
    state_table: str,
    query_name: str,
    ts_col: str = "ts",
    price_col: str = "value",
    key_cols: Sequence[str] = ("event_type",),
):
    """``foreachBatch`` callback folding each micro-batch into an OHLC
    state table (`operators/incremental.py`) — streaming materialized-view
    maintenance with exactly-once state.

    Each batch reduces to mergeable per-(key, day) state and is MERGE-
    upserted under txn id ``<query_name>:<batch_id>``; a replayed batch
    (sink-write/checkpoint-advance crash window) finds its txn recorded
    and folds nothing.  This matters more here than for the append sink:
    re-appending duplicate ROWS is visible and repairable, but re-MERGING
    a batch silently corrupts ``n_obs`` — the non-idempotent-merge hazard.
    Unlike the watermarked windowed-agg path, state lives in the table,
    not executor state stores, so late rows need no watermark policy:
    they merge into their day whenever they arrive.
    """
    from airflow_crypto_btc_spark.operators.incremental import (
        merge_ohlc_states,
        ohlc_state,
    )

    keys = [*key_cols, "date"]

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta_state = ohlc_state(
            batch_df, ts_col, price_col, key_cols
        ).localCheckpoint(eager=False)
        txn = f"{query_name}:{batch_id}"
        snap = current_snapshot(state_table)
        if not snap.files:  # first batch bootstraps the state table
            append(spark, delta_state, state_table, txn_id=txn)
            return
        # the prior-state read narrows to the files whose key ranges
        # overlap the batch (round 13): the fold's read AND its write
        # (upsert narrows the same way) are both batch-bounded, so a
        # constant-size batch folds in constant work no matter how
        # large the accumulated state grows
        touched, _ = files_overlapping_all_keys(
            spark, snap, delta_state, keys
        )
        if touched:
            old_touched = read_parts(
                spark, state_table, touched, snap
            ).join(delta_state.select(*keys), keys, "left_semi")
            merged = merge_ohlc_states(
                old_touched, delta_state, key_cols=key_cols
            )
        else:  # every batch key is brand-new: pure insert
            merged = delta_state
        # CAS-anchored on the version THIS fold read: a rewrite commit
        # silently retrying at the next version with a stale remove-set
        # would duplicate rows against a racing OPTIMIZE; a conflict
        # instead propagates and Structured Streaming retries the batch
        # from a fresh read
        upsert(
            spark, merged, state_table, key_cols=keys, txn_id=txn,
            expect_version=snap.version,
        )

    return _fold


def cdc_apply_sink(
    table: str,
    query_name: str,
    key_cols: Sequence[str],
    sequence_col: str,
):
    """``foreachBatch`` callback folding a CDC changelog stream (rows
    tagged ``_change_type`` insert/update/delete with a
    ``sequence_col`` order) into a keyed snapshot table —
    ``snapshot_table.apply_changes`` per micro-batch under the
    engine-wide ``{query_name}:{batch_id}`` txn discipline, so a
    replayed batch folds nothing and batches compose to the changelog's
    latest-wins end state.  The fold's rewrite narrows to the batch's
    key spread (the upsert machinery), so a constant-rate CDC feed
    maintains an arbitrarily large table in constant per-batch work."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        apply_changes,
    )

    def _fold(batch_df, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        apply_changes(
            batch_df.sparkSession,
            batch_df,
            table,
            key_cols=list(key_cols),
            sequence_col=sequence_col,
            txn_id=f"{query_name}:{batch_id}",
        )

    return _fold
