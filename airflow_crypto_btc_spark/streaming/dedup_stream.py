"""Streaming near-duplicate detection against a persisted LSH index.

The batch-side architecture (operators/dedup.minhash_lsh_pairs_from_index)
made the index a pair of snapshot tables — band keys and shingle sets —
that an increment probes.  This module runs that maintenance ON a stream:
each micro-batch of documents

1. drops ids the index already holds (re-delivery / within-batch
   duplicates) by anti-joining the last-committed index table,
2. computes the survivors' index rows (one Arrow scan,
   ``operators/dedup.minhash_prep``),
3. probes the committed index ∪ the batch rows for pairs with at least
   one batch endpoint, then commits bands, sets, and pairs in that
   order under txn ids ``<query>:<batch_id>:bands`` / ``:sets`` /
   ``:pairs`` — the BANDS append is the anchored fold of the README's
   sink contract, and pairs still commit after sets, so they never
   durably reference an id the sets table lacks.

Every near-dup pair lands exactly once — in the micro-batch of its
LATER endpoint.  A replayed batch reads both index tables at their
pre-fold versions, so its pairs recompute identically.  An
at-least-once source re-delivering a document in a later batch finds
it already indexed and contributes nothing.

**Mid-crash invariants for independent consumers** (the bands-first
commit order traded one invariant for the CAS fold):

- ``pairs`` ⊆ ``sets`` ALWAYS: pairs commit after sets, so a pair row
  never durably references an id the sets table lacks.
- ``bands`` rows MAY transiently reference ids absent from ``sets``:
  inside a crash window between the bands commit (the CAS-serialized
  fold) and the sets commit, the bands table runs ahead.  The replay
  closes the gap on restart, but a consumer that joins bands rows to
  shingle sets DURING such a window must semi-join ``sets`` first (or
  tolerate dangling ids) — exactly what this module's own probe path
  does by construction (it reads both tables at one point in time and
  unions the in-flight batch on the sets side).

Scale shape per batch: one Arrow scan of the batch, an append of
|batch|·bands index rows, and a bucket join sized by the batch's bucket
mates — never a corpus re-pair.  The reference has no streaming surface;
this extends its dedup family (SURVEY §2 extension) to the
Structured-Streaming execution model.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.dedup import (
    minhash_lsh_pairs_from_index,
    minhash_prep,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    current_snapshot,
    fold_base,
)
from airflow_crypto_btc_spark.streaming.snapshot_sink import (
    fresh_rows,
    maintain,
)


def near_dup_index_sink(
    sets_table: str,
    bands_table: str,
    pairs_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    conflicts_table: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the LSH index tables and the
    emitted-pairs table with exactly-once semantics.

    **Insert-only per id**: the index never re-indexes an id it already
    holds — a re-delivered id carrying DIFFERENT text (an upstream
    update) keeps its ORIGINAL index rows, and the updated content's
    near-dup pairs are not emitted; content updates require a batch
    rebuild of the index.  Pass ``conflicts_table`` to make such updates
    visible instead of silent: each batch appends (id, digest_new,
    digest_indexed) rows for re-delivered ids whose text digest differs
    from the digest recorded at index time (same txn-id discipline, so
    replays never duplicate a conflict row).

    ``compact_every=N`` runs ``snapshot_table.compact`` (then ``vacuum``)
    on all three tables after every Nth batch: a long-running stream
    appends one part per table per batch, and without maintenance a
    months-long run accumulates thousands of small parts whose per-file
    open cost comes to dominate the per-batch index read.  Compaction is
    a pure rewrite (data-preserving, single atomic commit), so a crash
    replay that re-compacts is wasteful but never wrong."""

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Within-batch duplicates resolve DETERMINISTICALLY (min text
        # hash per id), so a crash replay picks the same representative
        # the committed pairs were computed from — dropDuplicates'
        # arbitrary pick could disagree across attempts.
        order = F.md5(F.col(text_col))
        incoming_digests = fresh_rows(
            batch_df, id_col, order, None, None
        ).select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col)).alias("digest"),
        )
        # Both index tables as the bands fold sees them: the anchored
        # current versions, or their PRE-FOLD versions on a replay (the
        # bands commit is the fold; see the README's sink contract).
        bands_txn = f"{query_name}:{batch_id}:bands"
        bands_v, committed_bands = fold_base(spark, bands_table, bands_txn)
        _, committed_sets = fold_base(
            spark, sets_table, f"{query_name}:{batch_id}:sets"
        )
        conflicts = None
        if committed_bands is not None:
            # a re-delivered id whose content CHANGED upstream is about
            # to be dropped by the insert-only contract — record it.
            # The join probes the index with the batch-sized digest side
            # only; pre-digest-column index rows (digest null) cannot be
            # compared and are not flagged.
            if (
                conflicts_table is not None
                and committed_sets is not None
                and "digest" in committed_sets.columns
            ):
                conflicts = (
                    incoming_digests.join(
                        committed_sets.select(
                            "id", F.col("digest").alias("digest_indexed")
                        ),
                        "id",
                    )
                    .filter(
                        F.col("digest_indexed").isNotNull()
                        & (F.col("digest") != F.col("digest_indexed"))
                    )
                    .select(
                        "id",
                        F.col("digest").alias("digest_new"),
                        "digest_indexed",
                    )
                )
        # Freshness is keyed off the LAST-committed index table (bands):
        # ids already indexed — upstream re-delivery from an
        # at-least-once source — are dropped before anything else, so
        # index rows are never duplicated and their pairs never
        # re-emitted.
        fresh = fresh_rows(batch_df, id_col, order, committed_bands, "id")
        prep = minhash_prep(
            fresh, id_col, text_col, k_shingle, num_hashes, bands
        ).localCheckpoint(eager=False)  # one Arrow scan feeds everything
        # the sets table records each id's content digest at index time —
        # batch-sized inner join, enables the conflict check above
        batch_sets = prep.select("id", "shingle_set", "set_size").join(
            incoming_digests, "id"
        )
        batch_bands = prep.select(
            "id", F.posexplode("band_keys").alias("band_idx", "band_key")
        ).withColumn(
            # numeric cluster key matching build_minhash_index: lets the
            # periodic compaction bkn-cluster the bands table so probes
            # can file-prune (a pre-bkn generation unions as nulls)
            "bkn", F.xxhash64("band_idx", "band_key")
        )
        # Probe the committed index unioned with the in-flight batch
        # rows.  The sets union dedupes by anti-joining the SMALL batch
        # side against committed ids (one narrow-key shuffle) — needed
        # only for the sets-committed/bands-uncommitted replay window; a
        # full-table dropDuplicates would shuffle the whole corpus-wide
        # index every batch.  The bands union needs NO dedup: batch ids
        # were anti-joined against committed bands above, so the two
        # sides are disjoint by construction.  The probe carries only
        # the columns pair verification reads, so a pre-digest-column
        # index unions cleanly with the evolved batch schema.
        probe_cols = ["id", "shingle_set", "set_size"]
        if committed_sets is None:
            all_sets = batch_sets.select(*probe_cols)
        else:
            batch_only = batch_sets.select(*probe_cols).join(
                committed_sets.select("id"), "id", "left_anti"
            )
            all_sets = committed_sets.select(*probe_cols).unionByName(
                batch_only
            )
        # probe carries only the join columns (schema-stable across bkn
        # generations — a pre-bkn committed table unions cleanly)
        band_cols = ["id", "band_idx", "band_key"]
        all_bands = (
            batch_bands.select(*band_cols) if committed_bands is None
            else committed_bands.select(*band_cols).unionByName(
                batch_bands.select(*band_cols)
            )
        )
        pairs = minhash_lsh_pairs_from_index(
            all_sets,
            all_bands,
            batch_sets.select("id"),
            jaccard_threshold,
            max_bucket_size,
        )
        # Commit order bands → sets → pairs: the BANDS append is the
        # CAS-serialized fold, and pairs still commit after sets, so
        # they never durably reference an id absent from the sets table
        # (the bands-side crash window is in the module docstring).
        sets_cas_v = current_snapshot(sets_table).version
        append(
            spark, batch_bands, bands_table,
            txn_id=bands_txn,
            expect_version=bands_v,
        )
        append(
            spark, batch_sets, sets_table,
            txn_id=f"{query_name}:{batch_id}:sets",
            expect_version=sets_cas_v,
        )
        append(
            spark, pairs, pairs_table,
            txn_id=f"{query_name}:{batch_id}:pairs",
        )
        if conflicts is not None:
            # observability, not integrity: committed last, own txn id
            append(
                spark, conflicts, conflicts_table,
                txn_id=f"{query_name}:{batch_id}:conflicts",
            )
        # the bands rewrite bkn-CLUSTERS so compacted parts stay
        # range-aligned and probe file-pruning keeps skipping
        maintained = {
            sets_table: None, pairs_table: None, bands_table: ["bkn"],
        }
        if conflicts_table is not None:
            maintained[conflicts_table] = None
        maintain(
            spark, batch_id, compact_every, compact_target_parts, maintained
        )

    return _fold


def contamination_guard_sink(
    eval_docs,
    flags_table: str,
    query_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    min_containment: float = 0.1,
):
    """``foreachBatch`` callback running eval-set decontamination on an
    ARRIVING corpus: each micro-batch of candidate training documents is
    checked against the static eval set (broadcast shingles — the
    batch-side asymmetry, unchanged) and the flagged (test, train) pairs
    are appended to ``flags_table`` under ``<query>:<batch_id>``.

    A contamination pair depends only on its two documents, so checking
    each train doc once — in its arrival batch — yields exactly the
    batch operator's output over the union of all batches; replays are
    txn-id no-ops.  This is the ingest-time guard: contaminated
    documents are flagged BEFORE they ever join the training corpus,
    instead of by a corpus-wide sweep after the fact."""
    from airflow_crypto_btc_spark.operators.curation import (
        contamination_pairs,
        eval_shingles,
    )

    # the eval set is static: shingle + hash it ONCE at sink construction
    # and reuse the materialized frame every micro-batch
    test_sh = eval_shingles(
        eval_docs, id_col, text_col, shingle_k
    ).localCheckpoint(eager=True)

    def _check(batch_df, batch_id: int) -> None:
        flagged = contamination_pairs(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            shingle_k=shingle_k,
            min_containment=min_containment,
            test_sh=test_sh,
        )
        append(
            batch_df.sparkSession, flagged, flags_table,
            txn_id=f"{query_name}:{batch_id}",
        )

    return _check
