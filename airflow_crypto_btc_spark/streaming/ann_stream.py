"""Streaming embedding-index maintenance: keep the hyperplane-LSH ANN
index of ``operators/similarity`` current ON a stream of arriving
vectors, and emit embedding-cosine near-duplicate pairs exactly once —
in the micro-batch of their LATER endpoint.

Per micro-batch:

1. drop ids the index already holds (re-delivery from an at-least-once
   source) by anti-joining the committed index table;
2. hash the survivors to their sign-bucket (same
   ``hyperplane_bucket_expr`` as the batch operator — bucket keys must
   be computed identically forever or the persisted index stops
   matching) and compute their norms;
3. probe the committed index ∪ the in-flight batch rows for same-bucket
   pairs with exact cosine ≥ threshold and at least one batch endpoint
   (the batch side is one join INPUT, so cost is |batch| ×
   bucket-mates, never |index|²);
4. commit the INDEX rows first (the anchored fold of the README's
   sink contract: a replay reads the pre-fold index, so the pair set
   recomputes identically), then the pairs.

Scale shape: the index table is the serving artifact (vectors + norms +
bucket), appended per batch with the bucket column's min/max recorded in
the commit-log stats (strings are stats-tracked), so bucket-range file
skipping keeps working as parts accumulate; ``compact_every`` rewrites
the table periodically to bound the part count.  The batch side of the
pair probe is explicitly broadcast — the growing index is never
shuffled per batch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    dot_expr,
    norm2_expr,
)
from airflow_crypto_btc_spark.operators.similarity import (
    hyperplane_bucket_expr,
)
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


def vec_order(vec_col: str):
    """The vector sinks' within-batch dedup order: md5 of the
    stringified vector.  One definition, so replay semantics never
    diverge between the ANN index, PQ codes and semantic streams."""
    return F.md5(F.concat_ws(",", F.transform(
        F.col(vec_col), lambda x: x.cast("string")
    )))


def embedding_index_sink(
    index_table: str,
    pairs_table: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    cosine_threshold: float = 0.9,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
    max_bucket_size: int | None = None,
):
    """``foreachBatch`` callback maintaining the ANN index table
    (nid, ve, vn, bucket) and the emitted near-dup pairs table with
    exactly-once semantics.

    ``max_bucket_size`` caps the PROBE side per batch, mirroring the
    batch operator (``similarity.embedding_near_dup_pairs``): the batch
    side of the pair join is bounded by batch size, but its bucket-mates
    side grows with the committed index — on a near-dup-heavy stream one
    hot sign-bucket accumulates O(index) rows and the per-batch probe
    goes quadratic in it.  With a cap, buckets whose index ∪ batch
    population exceeds it emit no pairs that batch (the INDEX still
    gains every batch row — only pair emission is capped, so the
    serving artifact stays complete); audit the skipped mass with
    ``similarity.embedding_near_dup_skipped_buckets`` over the index
    table's rows."""

    def _fold(batch_df, batch_id: int) -> None:
        from airflow_crypto_btc_spark.operators.dedup import _cap_buckets

        spark = batch_df.sparkSession
        index_txn = f"{query_name}:{batch_id}:index"
        index_v, committed = fold_base(spark, index_table, index_txn)
        fresh = fresh_rows(
            batch_df, id_col, vec_order(vec_col), committed, "nid"
        )
        batch_rows = (
            fresh.select(
                F.col(id_col).alias("nid"),
                F.col(vec_col).alias("ve"),
                hyperplane_bucket_expr(vec_col, planes).alias("bucket"),
            )
            .withColumn("vn", F.sqrt(norm2_expr("ve")))
            # numeric bucket twin — matches build_ann_index's schema so
            # cluster_by=["bnum"] compaction keeps working on a
            # stream-fed index
            .withColumn("bnum", F.conv("bucket", 2, 10).cast("long"))
            .localCheckpoint(eager=False)
        )
        probe_base = (
            batch_rows if committed is None
            # allowMissingColumns: an index built before the bnum column
            # existed unions with nulls (its files simply never prune)
            else committed.unionByName(
                batch_rows, allowMissingColumns=True
            )
        )
        if max_bucket_size is not None:
            # census on the same key the join shuffles on; the bucket
            # count aggregate is ≤ 2^planes rows — map-side combined,
            # never a second scan's worth of shuffle
            probe_base = _cap_buckets(
                probe_base, max_bucket_size, keys=("bucket",)
            )
        a = batch_rows.select(
            F.col("nid").alias("id_a"),
            F.col("ve").alias("ea"),
            F.col("vn").alias("na"),
            "bucket",
        )
        b = probe_base.select(
            F.col("nid").alias("id_b"),
            F.col("ve").alias("eb"),
            F.col("vn").alias("nb"),
            "bucket",
        )
        cos = F.when(
            F.col("na") * F.col("nb") != 0,
            F.round(
                dot_expr("ea", "eb") / (F.col("na") * F.col("nb")), 6
            ),
        )
        pairs = (
            # batch side broadcast: the checkpointed leaf has no stats,
            # so without the hint the planner sort-merge-joins and
            # shuffles the ENTIRE growing index every micro-batch
            F.broadcast(a).join(b, ["bucket"])
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= cosine_threshold)
            # canonicalize; batch-batch pairs appear from both sides →
            # distinct collapses them, batch-index pairs appear once
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "cosine",
            )
            .distinct()
        )
        # index FIRST (the CAS-serialized fold), then pairs, whose
        # content is a pure function of (batch, pre-fold index)
        append(
            spark, batch_rows, index_table,
            txn_id=index_txn,
            expect_version=index_v,
        )
        append(
            spark, pairs, pairs_table,
            txn_id=f"{query_name}:{batch_id}:pairs",
        )
        # the index rewrite bnum-CLUSTERS so compacted parts stay
        # range-aligned and probe pruning keeps skipping files
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {index_table: ["bnum"], pairs_table: None},
        )

    return _fold


def pq_codes_sink(
    index_root: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback appending arriving vectors' PQ CODES to
    the persisted index (``operators/similarity.pq_save_index`` layout):
    the codebooks are a FROZEN input (README, "Frozen inputs"), and each
    batch encodes only its fresh ids against them (m·4 bytes per vector
    appended, the float payload never lands in the index).  Appending
    codes from different codebooks would silently corrupt every ADC
    comparison, which is what the pin refuses.

    Replay safety: within-batch dedup is deterministic, already-encoded
    ids anti-join away against the committed codes, and the single
    append per batch is txn-id idempotent."""
    import os

    from airflow_crypto_btc_spark.operators.similarity import (
        pq_encode,
        pq_load_codebooks,
    )

    codes_t = os.path.join(index_root, "codes")
    [books_snap] = pin(
        "PQ codebooks", os.path.join(index_root, "books"),
        expect_source=expect_source,
    )
    meta = books_snap.meta
    books_cache = {}

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("PQ codebooks", books_snap)
        if "books" not in books_cache:  # loaded once, on the first batch
            books_cache["books"] = pq_load_codebooks(
                spark, books_snap.table, version=books_snap.version
            )
        books = books_cache["books"]
        txn = f"{query_name}:{batch_id}"
        codes_v, committed = fold_base(spark, codes_t, txn)
        fresh = fresh_rows(
            batch_df, id_col, vec_order(vec_col), committed, "nid"
        )
        append(
            spark,
            pq_encode(fresh, books, id_col, vec_col),
            codes_t,
            txn_id=txn,
            meta=meta,
            expect_version=codes_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {codes_t: None},
        )

    return _fold


def ivfpq_arrivals_sink(
    index_root: str,
    query_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expect_source: str | None = None,
    compact_every: int | None = None,
    compact_target_parts: int = 4,
):
    """``foreachBatch`` callback maintaining the FULL IVF-PQ index
    (``operators/similarity.ivfpq_save_index`` layout) on a stream of
    arriving vectors: each batch encodes its fresh ids against the
    FROZEN codebooks and assigns them to the FROZEN centroid set, then
    appends (codes, lists) — so ``ivfpq_topk_from_index`` serves a
    corpus that grows online without ever re-training or re-scanning.

    Books AND centroids are frozen inputs (README, "Frozen inputs"): a
    retrain/re-seed mid-stream would silently mix code spaces or split
    inverted lists.  All four index tables are pinned at construction
    (``similarity._pin_ivfpq_index``: a partial rebuild is refused).

    Exactly-once: within-batch dedup is deterministic, already-indexed
    ids anti-join away against the LISTS table (the final commit, so
    freshness keys off it), and both appends are txn-id idempotent pure
    functions of (batch, frozen model) — a crash between them replays
    the batch, the codes append skips via its txn id, and the lists
    append lands identical rows.  Concurrency: each append is a CAS
    anchored on the version its read was based on (racing folds lose
    the put-if-absent arbitration with zero side effects —
    ``CommitConflictError``); the cross-table window between the
    lists read and the codes commit is narrowed by an ohlc-style
    version guard and remains a single-writer-contract violation,
    surfaced rather than silent.

    Scale shape per batch: one broadcast-centroid assignment scan and
    one Arrow encode over the BATCH only; the growing index tables are
    touched only by the anti-join (id column) and the appends."""
    from airflow_crypto_btc_spark.operators.similarity import (
        _nearest_centroids,
        _pin_ivfpq_index,
        pq_encode,
        pq_load_codebooks,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        CommitConflictError,
        current_snapshot,
        read_parts,
    )

    books_snap, codes_snap, cent_snap, lists_snap = _pin_ivfpq_index(
        index_root, expect_source
    )
    meta = books_snap.meta
    codes_t, lists_t = codes_snap.table, lists_snap.table
    cache: dict = {}

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assert_pinned("PQ codebooks", books_snap)
        assert_pinned("coarse centroids", cent_snap)
        if "books" not in cache:
            cache["books"] = pq_load_codebooks(
                spark, books_snap.table, version=books_snap.version
            )
        books = cache["books"]
        # CAS anchors: the versions the codes append and the anti-join
        # (lists, the final commit) are based on
        codes_v = current_snapshot(codes_t).version
        lists_txn = f"{query_name}:{batch_id}:lists"
        lists_v, committed = fold_base(spark, lists_t, lists_txn)
        fresh = fresh_rows(
            batch_df, id_col, vec_order(vec_col), committed, "nid"
        )
        cent = read_parts(
            spark, cent_snap.table, cent_snap.files, cent_snap
        ).withColumn("cn", F.sqrt(norm2_expr("ce")))
        assigned = _nearest_centroids(
            fresh.select(
                F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
            ),
            cent, "nid", "ve", keep=1,
        ).select("nid", "cid")
        codes_new = pq_encode(fresh, books, id_col, vec_col)
        # fast-fail: a second writer that already folded would have
        # appended lists; the CAS below is the same-table guarantee
        now = current_snapshot(lists_t)
        if lists_txn not in now.txn_ids and now.version != lists_v:
            raise CommitConflictError(
                f"lists table moved past v{lists_v} during IVF-PQ "
                "maintenance — a second writer is sharing this index; "
                "retry the batch"
            )
        append(
            spark, codes_new, codes_t,
            txn_id=f"{query_name}:{batch_id}:codes",
            meta=meta, expect_version=codes_v,
        )
        append(
            spark, assigned, lists_t,
            txn_id=lists_txn,
            meta=meta, expect_version=lists_v,
        )
        maintain(
            spark, batch_id, compact_every, compact_target_parts,
            {codes_t: None, lists_t: None},
        )

    return _fold
