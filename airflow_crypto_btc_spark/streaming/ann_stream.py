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
4. commit the INDEX rows first — a compare-and-swap anchored on the
   index version the anti-join and the pair probe read (round-9: a
   racing second writer loses the put-if-absent arbitration with zero
   side effects) — then the pairs.  A crash between the appends
   replays the batch against the PRE-FOLD index snapshot (time
   travel via the index txn's version), so the pair set recomputes
   identically even though the live index now holds the batch's own
   rows; re-delivered ids in later batches anti-join away.

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
from airflow_crypto_btc_spark.operators.incremental import (
    ConcurrentMaintenanceError,
)
from airflow_crypto_btc_spark.operators.similarity import (
    hyperplane_bucket_expr,
)
from airflow_crypto_btc_spark.sources.snapshot_table import (
    CommitConflictError,
    append,
    compact,
    read_snapshot_or_none,
    vacuum,
)


def _fresh_rows(batch_df, id_col: str, vec_col: str, committed, seen_id_col: str):
    """Shared per-batch front end of the vector sinks: deterministic
    within-batch dedup (min md5 of the stringified vector per id — a
    crash replay picks the same representative) followed by the
    insert-only anti-join against the committed table's ids.  One
    definition, two sinks: replay semantics must never diverge between
    the ANN index stream and the PQ codes stream."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.md5(F.concat_ws(",", F.transform(
            F.col(vec_col), lambda x: x.cast("string")
        )))
    )
    fresh = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    if committed is not None:
        fresh = fresh.join(
            committed.select(F.col(seen_id_col).alias("_seen")),
            fresh[id_col] == F.col("_seen"),
            "left_anti",
        )
    return fresh


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
        # CAS anchor: the index version the freshness anti-join and the
        # pair probe are based on (round-9 closure).  A replayed batch
        # whose index fold already landed reads the PRE-FOLD snapshot
        # (time travel) — the live index now holds the batch's own rows,
        # which would empty the fresh set and drop the batch's pairs.
        from airflow_crypto_btc_spark.sources.snapshot_table import (
            current_snapshot,
            read_snapshot,
            txn_version,
        )

        index_txn = f"{query_name}:{batch_id}:index"
        index_v = current_snapshot(index_table).version
        folded_v = txn_version(index_table, index_txn)
        if folded_v is not None:
            committed = (
                read_snapshot(spark, index_table, version=folded_v - 1)
                if folded_v > 0
                else None
            )
        else:
            committed = read_snapshot_or_none(spark, index_table)
        fresh = _fresh_rows(batch_df, id_col, vec_col, committed, "nid")
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
        # index FIRST — the CAS-serialized fold (round-9 order flip; a
        # racing second writer loses the put-if-absent arbitration with
        # zero side effects) — then pairs, whose content is a pure
        # function of (batch, pre-fold index) and therefore replays
        # identically via the time-travel branch above
        if folded_v is None:
            try:
                append(
                    spark, batch_rows, index_table,
                    txn_id=index_txn,
                    expect_version=index_v,
                )
            except CommitConflictError as exc:
                raise ConcurrentMaintenanceError(str(exc)) from exc
        append(
            spark, pairs, pairs_table,
            txn_id=f"{query_name}:{batch_id}:pairs",
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            for table in (index_table, pairs_table):
                # the index rewrite bnum-CLUSTERS so the compacted parts
                # stay range-aligned and probe pruning keeps skipping
                # files as the stream grows (skip for a pre-bnum
                # generation — nulls cannot z-order).  Snapshot may be
                # None (e.g. an all-quarantined batch never appended):
                # skip the table rather than dereference None.
                snap = read_snapshot_or_none(spark, table)
                if snap is None:
                    continue
                cluster = (
                    ["bnum"]
                    if table == index_table and "bnum" in snap.columns
                    else None
                )
                try:
                    compact(
                        spark, table,
                        target_parts=compact_target_parts,
                        cluster_by=cluster,
                    )
                except ValueError:
                    continue
                vacuum(table)

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
    the codebooks are FROZEN — loaded once at sink construction, with
    ``expect_source`` pinning them to the corpus generation the stream
    extends — and each batch encodes only its fresh ids against them
    (m·4 bytes per vector appended, the float payload never lands in
    the index).  A corpus-version change means retrain + rebuild, not
    streaming: appending codes from different codebooks would silently
    corrupt every ADC comparison, which is exactly what the version pin
    refuses.

    Replay safety: within-batch dedup is deterministic, already-encoded
    ids anti-join away against the committed codes, and the single
    append per batch is txn-id idempotent."""
    import os

    from pyspark.sql import Window

    from airflow_crypto_btc_spark.operators.similarity import (
        pq_encode,
        pq_load_codebooks,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
    )

    books_t = os.path.join(index_root, "books")
    codes_t = os.path.join(index_root, "codes")
    books_snap = current_snapshot(books_t)
    meta = books_snap.meta
    if expect_source is not None and meta.get("source_version") != expect_source:
        raise ValueError(
            f"stale PQ codebooks: built from "
            f"{meta.get('source_version')!r}, sink expects "
            f"{expect_source!r} — retrain before streaming codes"
        )

    books_cache = {}

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # frozen-model contract: books load ONCE (first batch) and every
        # later batch asserts the books table is still the SAME COMMIT —
        # by VERSION, not meta: a rebuild with identical meta (same
        # corpus tag, retrained books) bumps the version and must stop
        # the stream rather than silently mix codebook generations
        if current_snapshot(books_t).version != books_snap.version:
            raise ValueError(
                "PQ codebooks changed under a running codes stream — "
                "restart the sink against the new generation"
            )
        if "books" not in books_cache:
            books_cache["books"] = pq_load_codebooks(spark, books_t)
        books = books_cache["books"]
        # CAS anchor: the codes version the dedup anti-join is based on
        # (round-9 closure, same as every other maintainer)
        codes_v = current_snapshot(codes_t).version
        committed = read_snapshot_or_none(spark, codes_t)
        fresh = _fresh_rows(batch_df, id_col, vec_col, committed, "nid")
        try:
            append(
                spark,
                pq_encode(fresh, books, id_col, vec_col),
                codes_t,
                txn_id=f"{query_name}:{batch_id}",
                meta=meta,
                expect_version=codes_v,
            )
        except CommitConflictError as exc:
            raise ConcurrentMaintenanceError(str(exc)) from exc
        if compact_every and (batch_id + 1) % compact_every == 0:
            try:
                compact(spark, codes_t, target_parts=compact_target_parts)
            except ValueError:
                return
            vacuum(codes_t)

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

    Frozen-model contract: books AND centroids are version-asserted
    every batch (a retrain/re-seed mid-stream would silently mix code
    spaces or split inverted lists — refused, restart the sink against
    the new generation).  ``expect_source`` pins the generation at
    construction; all four index tables must agree (partial rebuilds
    refused).

    Exactly-once: within-batch dedup is deterministic, already-indexed
    ids anti-join away against the LISTS table (the final commit, so
    freshness keys off it), and both appends are txn-id idempotent pure
    functions of (batch, frozen model) — a crash between them replays
    the batch, the codes append skips via its txn id, and the lists
    append lands identical rows.  Concurrency: each append is a CAS
    anchored on the version its read was based on (racing folds lose
    the put-if-absent arbitration with zero side effects —
    ``ConcurrentMaintenanceError``); the cross-table window between the
    lists read and the codes commit is narrowed by an ohlc-style
    version guard and remains a single-writer-contract violation,
    surfaced rather than silent.

    Scale shape per batch: one broadcast-centroid assignment scan and
    one Arrow encode over the BATCH only; the growing index tables are
    touched only by the anti-join (id column) and the appends."""
    import os

    from airflow_crypto_btc_spark.operators.similarity import (
        _nearest_centroids,
        pq_encode,
        pq_load_codebooks,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
        read_snapshot,
    )

    parts = {
        name: os.path.join(index_root, name)
        for name in ("books", "codes", "centroids", "lists")
    }
    metas = {n: current_snapshot(p).meta for n, p in parts.items()}
    if len({tuple(sorted(m.items())) for m in metas.values()}) != 1:
        raise ValueError(
            f"IVF-PQ index tables disagree ({metas!r}) — partial "
            "rebuild, rebuild all four before streaming arrivals"
        )
    meta = metas["books"]
    if (
        expect_source is not None
        and meta.get("source_version") != expect_source
    ):
        raise ValueError(
            f"stale IVF-PQ index: built from "
            f"{meta.get('source_version')!r}, sink expects "
            f"{expect_source!r} — rebuild before streaming arrivals"
        )
    books_snap = current_snapshot(parts["books"])
    cent_snap = current_snapshot(parts["centroids"])
    cache: dict = {}

    def _fold(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if current_snapshot(parts["books"]).version != books_snap.version:
            raise ValueError(
                "PQ codebooks changed under a running IVF-PQ stream — "
                "restart the sink against the new generation"
            )
        if (
            current_snapshot(parts["centroids"]).version
            != cent_snap.version
        ):
            raise ValueError(
                "coarse centroids changed under a running IVF-PQ "
                "stream — restart the sink against the new generation"
            )
        if "books" not in cache:
            cache["books"] = pq_load_codebooks(spark, parts["books"])
        books = cache["books"]
        # CAS anchors: the versions the anti-join (lists) and the codes
        # append are based on
        codes_v = current_snapshot(parts["codes"]).version
        lists_v = current_snapshot(parts["lists"]).version
        committed = read_snapshot_or_none(spark, parts["lists"])
        fresh = _fresh_rows(batch_df, id_col, vec_col, committed, "nid")
        cent = read_snapshot(spark, parts["centroids"]).withColumn(
            "cn", F.sqrt(norm2_expr("ce"))
        )
        assigned = _nearest_centroids(
            fresh.select(
                F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
            ),
            cent, "nid", "ve", keep=1,
        ).select("nid", "cid")
        codes_new = pq_encode(fresh, books, id_col, vec_col)
        # fast-fail: a second writer that already folded would have
        # appended lists; the CAS below is the same-table guarantee
        if current_snapshot(parts["lists"]).version != lists_v:
            raise ConcurrentMaintenanceError(
                f"lists table moved past v{lists_v} during IVF-PQ "
                "maintenance — a second writer is sharing this index; "
                "retry the batch"
            )
        try:
            append(
                spark, codes_new, parts["codes"],
                txn_id=f"{query_name}:{batch_id}:codes",
                meta=meta, expect_version=codes_v,
            )
            append(
                spark, assigned, parts["lists"],
                txn_id=f"{query_name}:{batch_id}:lists",
                meta=meta, expect_version=lists_v,
            )
        except CommitConflictError as exc:
            raise ConcurrentMaintenanceError(str(exc)) from exc
        if compact_every and (batch_id + 1) % compact_every == 0:
            for t in (parts["codes"], parts["lists"]):
                try:
                    compact(spark, t, target_parts=compact_target_parts)
                except ValueError:
                    continue
                vacuum(t)

    return _fold
