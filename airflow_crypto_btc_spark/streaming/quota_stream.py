"""Streaming per-domain quota admission: the online twin of
``operators/curation.domain_quota``.

At ingest time a per-domain cap cannot be a retroactive batch job — by
the time a nightly pass runs, the hot domain has already flooded the
landing zone.  This sink admits or drops each arriving document AT
ARRIVAL against a persisted per-domain admitted-count table, so the
quota holds continuously and the decision is recorded with evidence.

Semantics are defined under ARRIVAL ORDER (batch sequence, then id
inside a batch) — the same contract as ``text_stream.gram_index_sink``:
maintenance PRESERVES exactness because the spec itself is
order-dependent.  Fed the corpus in id order, the admitted set equals
the batch operator's answer exactly (pinned by test).  A document of a
full domain is dropped PERMANENTLY (recorded in the decisions table
with ``admitted = false``); quota is admission control, not dedup — a
later capacity bump never resurrects a dropped arrival.

Per batch, everything is bounded by the batch and the domain count
table (#domains rows, kilobytes at web scale — it rides a broadcast
join, never a shuffle of arrivals):

1. deterministic within-batch dedup + already-decided ids anti-joined
   away (re-delivery safe);
2. one window over the BATCH ONLY (rank per domain by id — batch-sized,
   not corpus-sized);
3. admit where prior_count + rank ≤ cap; the counts keyed-upsert, a
   decisions append, and an ids append, each txn-id idempotent.

Commit order counts → decisions → ids.  The COUNTS commit is the
serialization point: it is a compare-and-swap anchored on the counts
version the priors were read from (README, "sink contract"), so two
racing gates that based their admissions on the same prior counts can
never both fold — the loser aborts with ZERO side effects.  The counts commit also records the
batch's per-domain PRIOR counts in its metadata: a crash-replay that
finds the counts txn already committed recomputes its decisions from
that pinned record (``txn_meta``) instead of from the live counts the
fold already advanced, so the audit trail always matches the fold
exactly.  Freshness still keys off the FINAL commit (ids), so a
replayed batch can never double-admit or double-count.

Residual (documented) window: the seen-ids read and the counts read
are two tables, so a second writer that starts between this gate's
counts commit and its ids commit could re-decide a doc id; closing
that needs cross-table atomicity the log-per-table design does not
have.  An ids-version fast-fail guard immediately before the counts
commit narrows the window to the commit call itself; two gates sharing
tables remains a single-writer-contract violation, surfaced as
``CommitConflictError`` instead of silent corruption.

The reference has no streaming surface; this extends the curation
family (SURVEY §2 extension) to the Structured-Streaming model.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    CommitConflictError,
    append,
    current_snapshot,
    fold_base,
    txn_meta,
    upsert,
    vacuum,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    fresh_rows,
    maintain,
)


def domain_quota_sink(
    decisions_table: str,
    counts_table: str,
    ids_table: str,
    query_name: str,
    cap: int = 10,
    id_col: str = "doc_id",
    domain_col: str = "source",
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback enforcing a per-domain admission cap.

    Tables (all log-structured snapshot tables):

    - ``decisions_table``: (doc_id, source, admit_rank, admitted) — one
      row per DISTINCT arrival, admitted or not; ``admit_rank`` is the
      document's 1-based position within its domain's arrival order
      (> cap ⇔ dropped), so the audit trail shows exactly why.
    - ``counts_table``: (domain_key, n_seen, n_admitted) keyed by the
      null-coalesced domain —
      the only state the gate needs, #domains rows total.  ``n_seen``
      (ALL decided arrivals, admitted or not) is the rank base: the
      arrival rank must keep counting past the cap, or a dropped
      document would erase its successors' positions and the audit
      trail would disagree with the batch twin
      (operators/curation.quota_decisions).  ``n_admitted`` =
      least(n_seen, cap) rides along for direct consumption.
    - ``ids_table``: (id) — decided ids for re-delivery suppression.
    """
    if cap < 0:
        raise ValueError("cap must be nonnegative")

    def _gate(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts_txn = f"{query_name}:{batch_id}:counts"

        ids_v, seen = fold_base(
            spark, ids_table, f"{query_name}:{batch_id}:ids"
        )
        fresh = fresh_rows(
            batch_df, id_col, F.md5(F.col(domain_col)), seen, "id"
        )
        # NULL domains group as ONE domain under an internal coalesced
        # key (same doctrine as operators/curation.domain_quota): a null
        # key would match nothing in the counts join and its rank would
        # silently reset every batch.  The audit rows keep the original
        # (possibly null) domain value; only the counts table is keyed
        # by the sentinel.
        dom = F.coalesce(
            F.col(domain_col), F.lit("\x00__null_domain__")
        )
        fresh = (
            fresh.select(id_col, domain_col)
            .withColumn("_dom", dom)
            .localCheckpoint(eager=False)
        )  # feeds decisions, counts, and ids

        # CAS anchor: the counts version the priors are read from
        counts_v, counts = fold_base(spark, counts_table, counts_txn)
        replayed = txn_meta(counts_table, counts_txn)
        if replayed is not None:
            # crash-replay after the fold landed: recompute decisions
            # from the priors PINNED in the counts commit, never from
            # the live counts (which the fold already advanced)
            pinned = {
                k: int(v) for k, v in replayed.get("priors", {}).items()
            }
            if pinned:
                prior_rows = spark.createDataFrame(
                    list(pinned.items()), ["domain_key", "_prior"]
                )
                with_prior = fresh.join(
                    F.broadcast(prior_rows),
                    fresh["_dom"] == F.col("domain_key"),
                    "left",
                ).withColumn("_prior", F.coalesce("_prior", F.lit(0)))
            else:
                with_prior = fresh.withColumn("_prior", F.lit(0))
        elif counts is None:
            with_prior = fresh.withColumn("_prior", F.lit(0))
        else:
            with_prior = fresh.join(
                F.broadcast(
                    counts.select(
                        "domain_key", F.col("n_seen").alias("_prior")
                    )
                ),
                fresh["_dom"] == F.col("domain_key"),
                "left",
            ).withColumn("_prior", F.coalesce("_prior", F.lit(0)))

        batch_w = Window.partitionBy("_dom").orderBy(id_col)
        decided = (
            with_prior.withColumn("_brn", F.row_number().over(batch_w))
            .withColumn(
                "admit_rank",
                (F.col("_prior") + F.col("_brn")).cast("long"),
            )
            .withColumn("admitted", F.col("admit_rank") <= cap)
            .select(
                id_col, domain_col, "_dom", "_prior", "admit_rank",
                "admitted",
            )
            .localCheckpoint(eager=False)  # decisions AND counts
        )
        if replayed is None:
            # the batch's nonzero priors, pinned into the counts commit
            # for deterministic replay (driver-bounded: one row per
            # domain IN THIS BATCH — same scale class as the broadcast
            # counts table itself)
            priors = {
                r["_dom"]: r["_prior"]
                for r in decided.select("_dom", "_prior")
                .filter(F.col("_prior") > 0)
                .distinct()
                .collect()
            }
            new_counts = (
                decided.groupBy(F.col("_dom").alias("domain_key"))
                .agg(F.max("admit_rank").cast("long").alias("n_seen"))
                .withColumn(
                    "n_admitted",
                    F.least(F.col("n_seen"), F.lit(cap)).cast("long"),
                )
            )
            # fast-fail: a second gate that already folded would have
            # appended ids; the counts CAS below is the guarantee, this
            # narrows the cross-table (ids-read) window to the commit
            if current_snapshot(ids_table).version != ids_v:
                raise CommitConflictError(
                    f"ids table moved v{ids_v} -> "
                    f"v{current_snapshot(ids_table).version} during "
                    "quota gating — a second writer is sharing these "
                    "tables; retry the batch"
                )
            if counts is None:  # bootstrap: first write creates it
                append(
                    spark, new_counts, counts_table,
                    txn_id=counts_txn,
                    meta={"priors": priors, "batch": batch_id},
                    expect_version=counts_v,
                )
            else:
                upsert(
                    spark, new_counts, counts_table, ["domain_key"],
                    txn_id=counts_txn,
                    expect_version=counts_v,
                    meta={"priors": priors, "batch": batch_id},
                )
        append(
            spark, decided.drop("_dom", "_prior"), decisions_table,
            txn_id=f"{query_name}:{batch_id}:decisions",
        )
        append(
            spark,
            fresh.select(F.col(id_col).alias("id")),
            ids_table,
            txn_id=f"{query_name}:{batch_id}:ids",
        )
        if maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {decisions_table: None, ids_table: None},
        ):
            vacuum(counts_table)  # upserts are rewrites: drop old gens

    return _gate
