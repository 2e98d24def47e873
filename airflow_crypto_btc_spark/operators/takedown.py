"""Cascading document deletion (takedown) across the persisted derived
state.

A curation platform deletes documents as surely as it ingests them —
DMCA takedowns, discovered benchmark contamination, erasure requests —
and the deletion must reach every artifact the document ever entered,
not just the corpus table.  The engine maintains eight persisted
artifacts incrementally (BM25 postings + doc lengths, LSH shingle
sets + band keys, the leakage-split changelog, ANN/IVF member lists,
plus the sketch registers); this module is the missing lifecycle verb:
``cascade_takedown`` evicts a document set D from each of them, with
the invariant that the post-takedown state EQUALS a from-scratch
rebuild on (corpus − D) — the oracle every ``curate_takedown_*``
catalog entry checks value-for-value.

Per-artifact semantics:

- **Row-keyed artifacts** (BM25 postings/doclen, LSH sets/bands, ANN
  members, PQ codes): every row belongs to exactly one document, so
  eviction is an anti-join rewrite — ``rows(corpus − D) =
  rows(corpus) − rows(D)`` holds exactly because these artifacts are
  per-document independent (a posting's tf, a doc's shingle set, a
  vector's cell assignment or PQ code never read any OTHER document).
  Serve-time statistics (BM25 df and corpus stats, LSH bucket
  membership) are derived from the stored rows at query time, so they
  follow automatically.
- **Decrementable aggregates** (the gram-frequency index): ``df``
  counts DISTINCT documents per gram and documents contribute
  independently, so the index DECREMENTS exactly — subtract D's
  per-doc-deduped gram counts, delete rows that reach zero
  (:func:`takedown_gram_index`).  The one derived counter in the
  engine where subtraction is lossless, in contrast to the sketches
  below.
- **The split changelog** is NOT row-independent: removing a document
  removes its near-dup edges, which can SPLIT a cluster, and removing
  the cluster's min-label member RAISES the remaining members' cluster
  id — appending such rows would break the monotone-decrease invariant
  the changelog's latest-wins view relies on.  Takedown therefore
  REBASES the changelog (an overwrite commit, Delta-DELETE style): the
  affected clusters' surviving members re-cluster over the surviving
  edges (blast-radius-bounded — the untouched corpus majority is
  carried over, never re-clustered), every doc gets one canonical row
  at ``as_of_batch = 0``, and future stream folds append on top (ids
  only decrease from the rebased values, so the invariant is restored
  from the new base).  Members whose SIDE flipped land in the moves
  audit — the post-removal leak a static split would serve silently.
- **Sketch registers (CM-sketch, HLL, bloom)** are NON-DECREMENTABLE
  by construction: a counter/bitmap cell is the sum/OR of many
  documents' contributions, so a single document's share cannot be
  subtracted (count-min has no inverse; HLL registers are maxima;
  bloom bits are shared).  The cascade does not pretend otherwise —
  it emits an explicit ``rebuild_required`` policy row per sketch
  family, and the rebuild is the sketch maintainers' existing
  from-scratch path on (corpus − D).  (A production alternative is a
  tombstone side-set consulted at serve time; rebuild is the exact
  option and the one this engine's oracles can verify.)
- **Frozen models** (IVF centroids, PQ codebooks, tokenizer pieces)
  are trained PARAMETERS, not retrievable content: takedown evicts the
  deleted documents' CODES/members (they can no longer be returned or
  scored) and leaves the model generation in place, exactly as
  production ANN systems do; the model retrains on its own cadence.

Exactly-once discipline (the streaming-sink doctrine): every commit is
CAS-anchored on the snapshot version it read and txn-id keyed, each
cascade step under its own derived txn id, so a crash mid-cascade
replays to completion — completed steps skip by txn id, pending steps
recompute from the SAME pinned inputs (the pre-takedown state is read
at ``committed_version − 1`` on replay, the split_stream replay
pattern) and land identical rows.  Eviction counts ride the commit
meta so a replayed cascade reports the identical audit rows.

Scale shape: each eviction is one anti-join against a broadcast D and
a staged rewrite — copy-on-write, exactly Delta/Iceberg DELETE, and
(round 13) the rewrite IS narrowed to the files whose min/max id stats
overlap D (:func:`_touched_files` → the store's shared
``files_overlapping_keys``); carried files move zero bytes, measured
flat-in-corpus for clustered deletions in SCALING.md.  Deletions
SCATTERED across the id space still degenerate to a full rewrite —
for those this module also ships the production alternative,
merge-on-read DELETION VECTORS (:func:`takedown_deferred` /
:func:`read_snapshot_mor` / :func:`apply_deletion_vectors` — O(|D|)
tombstones at takedown time, one amortized file-narrowed rewrite at
OPTIMIZE time), oracle-backed like the eager path.  The split
recompute touches only the affected clusters' members and edges (two
key-joins + one bounded component run), never the corpus.

No counterpart in the reference (``dags/dag_btc_daily.py`` never
deletes); completes the SURVEY §2.9 persisted-artifact lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.sources.snapshot_table import (
    append,
    commit,
    current_snapshot,
    read_parts,
    read_snapshot,
    txn_meta,
    txn_version,
    _write_parts,
)

#: sketch families the cascade cannot decrement — policy rows only
NON_DECREMENTABLE = (
    "cms_sketch",
    "hll_registers",
    "bloom_bitmap",
    # KMV minima can't decrement even in principle: an evicted key may
    # have displaced other minima that are gone for good (round 14)
    "kmv_minima",
)


def _ids_frame(doc_ids: DataFrame, id_col: str) -> DataFrame:
    """Normalize the takedown set to one distinct ``__td_id`` column
    (bigint — the engine's doc-id type).  A cast that NULLs a non-null
    id (e.g. string doc ids) RAISES instead of proceeding: every
    downstream anti-join would silently remove nothing, serving the
    supposedly-deleted documents forever (round-14 ADVICE — a
    safety-relevant silent no-op)."""
    src = doc_ids.columns[0]
    bad = (
        doc_ids.select(F.col(src).alias("__raw"))
        .filter(
            F.col("__raw").isNotNull()
            & F.col("__raw").cast("bigint").isNull()
        )
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"takedown ids in column {src!r} are not castable to "
            "bigint — a silent cast-to-null would remove NOTHING and "
            "keep serving the deleted documents"
        )
    return doc_ids.select(
        F.col(src).cast("bigint").alias("__td_id")
    ).distinct()


def _touched_files(
    spark: SparkSession, snap, ids: DataFrame, id_col: str
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (touched, carried) by the logged
    [min, max] id stats vs the takedown set — delegates to the store's
    shared :func:`snapshot_table.files_overlapping_keys` (the same
    narrowing the upsert MERGE path uses; the broadcast side is the
    metadata-sized file-range table, so no O(|D|) set ever reaches the
    driver).  At 100 TB this is the whole game: a fixed-size takedown
    rewrites at most |D| files of an id-clustered zone no matter how
    large the corpus grows."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        files_overlapping_keys,
    )

    return files_overlapping_keys(spark, snap, ids, id_col)


def evict_rows(
    spark: SparkSession,
    table: str,
    doc_ids: DataFrame,
    id_col: str,
    txn_id: str,
    extra_meta: dict | None = None,
) -> dict:
    """Copy-on-write eviction of ``doc_ids``'s rows from one snapshot
    table, NARROWED to the files whose logged id stats overlap the
    takedown set (round 13 — previously the whole table was rewritten;
    now ``rows(corpus − D)`` is assembled as carried-over untouched
    files plus the rewritten survivors of the touched files, exactly
    Delta/Iceberg DELETE).  The anti-join runs against the broadcast
    takedown set on ``id_col``; the eviction count rides the commit
    meta, so a crash replay returns the identical audit without
    recounting.  Returns ``{"rows_removed": n, "replayed": bool}``."""
    done = txn_version(table, txn_id)
    if done is not None:
        pinned = txn_meta(table, txn_id) or {}
        return {
            "rows_removed": int(pinned.get("rows_removed", 0)),
            "replayed": True,
        }
    snap = current_snapshot(table)
    ids = _ids_frame(doc_ids, id_col)
    touched, carried = _touched_files(spark, snap, ids, id_col)
    meta = dict(snap.meta)
    meta.update({"takedown": txn_id})
    if extra_meta:
        meta.update(extra_meta)
    if not touched:
        # no file's id range can hold a D row: a metadata-only commit
        # records the txn (replays stay idempotent) and zero bytes move
        meta["rows_removed"] = 0
        commit(
            table,
            add=[],
            remove=[],
            operation="takedown",
            txn_id=txn_id,
            meta=meta,
            expect_version=snap.version,
        )
        return {"rows_removed": 0, "replayed": False}
    state = read_parts(spark, table, touched, snap)
    kept = state.join(
        F.broadcast(ids),
        state[id_col] == F.col("__td_id"),
        "left_anti",
    )
    # one pass over the TOUCHED files for both counts (removed + kept)
    # — ids is distinct, so the left join is row-preserving
    row = (
        state.join(
            F.broadcast(ids),
            state[id_col] == F.col("__td_id"),
            "left",
        )
        .agg(
            F.count("*").alias("n"),
            F.count("__td_id").alias("hits"),
        )
        .collect()[0]
    )
    n_removed, n_kept = int(row["hits"]), int(row["n"] - row["hits"])
    # a fully-evicted part simply vanishes — UNLESS it was the last
    # file: the snapshot schema is the union of the LIVE parts' logged
    # schemas, so an emptied table keeps one zero-row part to hold it
    parts, stats, schema = (
        _write_parts(kept, table)
        if n_kept or not carried
        else ([], {}, None)
    )
    meta["rows_removed"] = n_removed
    commit(
        table,
        add=parts,
        remove=touched,
        operation="takedown",
        txn_id=txn_id,
        stats=stats,
        schema=schema,
        meta=meta,
        expect_version=snap.version,
    )
    return {"rows_removed": n_removed, "replayed": False}


def takedown_bm25(
    spark: SparkSession,
    doc_ids: DataFrame,
    postings_table: str,
    doclen_table: str,
    txn_id: str,
) -> list[tuple]:
    """Evict D from the BM25 inverted index: postings rows and doc
    lengths are per-document, so two anti-join rewrites restore exact
    rebuild-on-(corpus − D) semantics — df and corpus stats (N, Σdl)
    are derived from the stored rows at serve time and follow for
    free.  Cites the serve path: operators/search.bm25_topk_from_index."""
    p = evict_rows(spark, postings_table, doc_ids, "doc_id",
                   f"{txn_id}:bm25_postings")
    d = evict_rows(spark, doclen_table, doc_ids, "doc_id",
                   f"{txn_id}:bm25_doclen")
    return [
        ("bm25_postings", "evicted", p["rows_removed"]),
        ("bm25_doclen", "evicted", d["rows_removed"]),
    ]


def takedown_lsh(
    spark: SparkSession,
    doc_ids: DataFrame,
    sets_table: str,
    bands_table: str,
    txn_id: str,
) -> list[tuple]:
    """Evict D from the LSH index (shingle sets + band keys): both
    tables key rows by the owning document, so eviction equals the
    rebuild — a bucket simply stops containing the deleted doc, and
    no surviving pair's candidacy or Jaccard changes (pairing is
    pairwise: it reads only the two endpoint documents)."""
    s = evict_rows(spark, sets_table, doc_ids, "id",
                   f"{txn_id}:lsh_sets")
    b = evict_rows(spark, bands_table, doc_ids, "id",
                   f"{txn_id}:lsh_bands")
    return [
        ("lsh_sets", "evicted", s["rows_removed"]),
        ("lsh_bands", "evicted", b["rows_removed"]),
    ]


def takedown_ann_members(
    spark: SparkSession,
    doc_ids: DataFrame,
    members_table: str,
    txn_id: str,
) -> list[tuple]:
    """Evict D's vectors from the IVF/semantic member lists: cell
    assignment is per-vector against the FROZEN centroids, so eviction
    equals re-coding (corpus − D) under the same model.  The centroid
    table is model state (trained parameters, not retrievable
    content) and is left in place — the production contract; a
    takedown large enough to warrant retraining shows up in the
    audit counts."""
    m = evict_rows(spark, doc_ids=doc_ids, table=members_table,
                   id_col="id", txn_id=f"{txn_id}:ann_members")
    return [("ann_members", "evicted", m["rows_removed"])]


def takedown_pq_codes(
    spark: SparkSession,
    doc_ids: DataFrame,
    codes_table: str,
    txn_id: str,
) -> list[tuple]:
    """Evict D's vectors from the persisted PQ CODES table: coding is
    per-vector against the FROZEN codebooks, so eviction equals
    re-encoding (corpus − D) under the same model — the codebooks stay
    (trained parameters, the same contract as the IVF centroids); a
    deleted vector can no longer appear in any ADC shortlist."""
    c = evict_rows(spark, codes_table, doc_ids, "nid",
                   f"{txn_id}:pq_codes")
    return [("pq_codes", "evicted", c["rows_removed"])]


def takedown_gram_index(
    spark: SparkSession,
    removed_docs: DataFrame,
    gram_table: str,
    txn_id: str,
    text_col: str = "text",
) -> list[tuple]:
    """DECREMENT the gram-frequency index for a removed document set —
    the one derived aggregate in the engine that IS decrementable:
    ``df`` counts DISTINCT documents per gram, documents contribute
    independently (one per (doc, gram)), so subtracting D's per-doc-
    deduped gram counts and dropping rows that reach zero equals a
    from-scratch rebuild on (corpus − D) exactly.  Contrast the
    non-decrementable sketches (CMS/HLL/bloom), whose cells mix many
    documents' contributions irreversibly — see the module docstring.

    Takes the removed documents WITH TEXT (the cascade runs at delete
    time, while the rows being removed are still in hand — the same
    reason Delta's DELETE can compute its deletion vectors).  One
    bounded aggregation over D's grams, one key-join against the index
    (|D's distinct grams| keys — never index-sized), one CAS overwrite.
    ``k`` is pinned from the index commit meta, so a mismatched-width
    decrement cannot exist."""
    from airflow_crypto_btc_spark.functions.hashing import shingles_expr
    from airflow_crypto_btc_spark.operators.text import with_tokens

    done = txn_version(gram_table, f"{txn_id}:gram")
    if done is not None:
        pinned = txn_meta(gram_table, f"{txn_id}:gram") or {}
        return [
            ("gram_index", "decremented",
             int(pinned.get("grams_touched", 0))),
            ("gram_index_rows", "deleted",
             int(pinned.get("grams_deleted", 0))),
        ]
    snap = current_snapshot(gram_table)
    k = int(snap.meta.get("k", 8))
    state = read_snapshot(spark, gram_table, version=snap.version)
    tok = with_tokens(removed_docs, text_col)
    d_cnt = (
        tok.select(
            "doc_id",
            F.explode(shingles_expr("tokens", k)).alias("gram"),
        )
        .select("doc_id", F.md5("gram").alias("h"))
        .dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("d_cnt"))
    )
    merged = (
        state.join(d_cnt, "h", "left")
        .select(
            "h",
            (F.col("df") - F.coalesce("d_cnt", F.lit(0)))
            .cast("long")
            .alias("df"),
            F.coalesce("d_cnt", F.lit(0)).alias("_d"),
        )
        .localCheckpoint(eager=False)
    )
    kept = merged.filter("df > 0").select("h", "df")
    grams_touched = merged.filter("_d > 0").count()
    grams_deleted = merged.filter("_d > 0 AND df <= 0").count()
    parts, stats, schema = _write_parts(kept, gram_table)
    meta = dict(snap.meta)
    meta.update(
        {
            "grams_touched": grams_touched,
            "grams_deleted": grams_deleted,
            "takedown": txn_id,
        }
    )
    commit(
        gram_table,
        add=parts,
        remove=snap.files,
        operation="takedown_decrement",
        txn_id=f"{txn_id}:gram",
        stats=stats,
        schema=schema,
        meta=meta,
        expect_version=snap.version,
    )
    return [
        ("gram_index", "decremented", grams_touched),
        ("gram_index_rows", "deleted", grams_deleted),
    ]


# ------------------------------------------------ merge-on-read (DV)
#
# The round-13 eviction probe (SCALING.md) measured the copy-on-write
# worst case honestly: a SCATTERED 10% takedown overlaps every file's
# id range and rewrites the whole zone.  Production stores answer with
# DELETION VECTORS (Delta DVs, Iceberg positional deletes): takedown
# time records tombstones (O(|D|) bytes, no data file moves), serve
# time anti-joins them out, and a later OPTIMIZE applies them
# physically in ONE rewrite that amortizes every deferred takedown.
# The trade is explicit: merge-on-read serves pay a broadcast
# anti-join until the apply lands, and PHYSICAL erasure (the
# bytes-off-disk guarantee the eager path + vacuum gives) happens at
# apply time, not takedown time — which is why erasure-deadline
# deletions should stay on the eager path.


def takedown_deferred(
    spark: SparkSession,
    doc_ids: DataFrame,
    dv_table: str,
    id_col: str,
    txn_id: str,
) -> dict:
    """Merge-on-read takedown: record D as tombstones in the artifact's
    deletion-vector companion table instead of rewriting data files —
    O(|D|) bytes written regardless of corpus size or deletion shape.
    Txn-keyed append, so replays are exact no-ops.  Readers serve
    (state − DV) via :func:`read_snapshot_mor`;
    :func:`apply_deletion_vectors` is the amortized physical rewrite."""
    ids = _ids_frame(doc_ids, id_col).selectExpr(
        f"__td_id AS {id_col}"
    ).localCheckpoint(eager=False)
    n = ids.count()
    v = append(spark, ids, dv_table, txn_id=txn_id)
    return {"tombstones": n, "replayed": v == -1}


def read_snapshot_mor(
    spark: SparkSession,
    table: str,
    dv_table: str,
    id_col: str,
    version: int | None = None,
    broadcast_cap: int = 5_000_000,
) -> DataFrame:
    """Merge-on-read serve: the snapshot minus its deletion vectors —
    one broadcast anti-join on ``id_col``.  The tombstone set is
    bounded by the takedown volume since the last
    :func:`apply_deletion_vectors`; a DV set past ``broadcast_cap``
    means the apply is OVERDUE (the compaction-cadence contract all
    MoR stores carry) — the serve then warns and falls back to a
    shuffled anti-join instead of broadcasting gigabytes to every
    executor or failing.  The overdue decision gates on the TOMBSTONE
    COUNT alone (round-14 ADVICE: the old >64-files pre-gate let a
    compacted DV table — few files, millions of tombstones — broadcast
    unbounded), read from the per-part ``__nrows`` stats so the common
    serve stays metadata-only; only legacy parts without row-count
    stats pay a ``count()`` job.  The DV id column casts to the STATE
    id column's type — a cast that NULLs non-null tombstone ids raises
    instead of serving an unmasked snapshot (an all-null anti-join key
    removes nothing: a silent safety failure).  A missing or
    fully-applied DV table serves the plain snapshot.

    CADENCE RULE (measured, SCALING.md round 14): the serve tax is a
    fixed broadcast overhead until |DV| reaches ~1 % of the zone, then
    grows sub-linearly, while the file-narrowed apply grows slower
    still — the breakeven stays around TEN taxed serves across two
    decades of |DV| and a decade of corpus.  So run
    :func:`apply_deletion_vectors` once ~10 serves have happened since
    the last apply, or as soon as |DV| exceeds ~10 % of the zone,
    whichever first; the ``broadcast_cap`` fallback is the safety net
    for a MISSED cadence, not the design point."""
    import warnings

    from airflow_crypto_btc_spark.sources.snapshot_table import snapshot_nrows

    state = read_snapshot(spark, table, version=version)
    dv_snap = current_snapshot(dv_table)
    if not dv_snap.files:
        return state
    # the tombstones and their count below come from one DV snapshot
    dv = read_parts(spark, dv_table, dv_snap.files, dv_snap)
    state_t = dict(state.dtypes)[id_col]
    if dict(dv.dtypes)[id_col] != state_t:
        bad = (
            dv.filter(
                F.col(id_col).isNotNull()
                & F.col(id_col).cast(state_t).isNull()
            )
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"deletion-vector ids in {dv_table} do not cast to the "
                f"state id type {state_t!r} — an all-null tombstone "
                "set would serve every deleted document"
            )
    tomb = dv.select(
        F.col(id_col).cast(state_t).alias("__dv_id")
    ).distinct()
    n_tomb = snapshot_nrows(dv_snap)
    if n_tomb is None:  # legacy DV parts without __nrows stats
        n_tomb = dv.count()
    if n_tomb > broadcast_cap:
        # the raw row count includes duplicate tombstones (re-deleting
        # already-deferred ids appends blindly by design) but the
        # broadcast side is the DISTINCT set — confirm with ONE count
        # job before declaring the apply overdue, so overlapping
        # takedown batches can't force every serve onto the shuffled
        # fallback while the real payload is still small (round-14
        # self-review).  The common under-cap serve stays
        # metadata-only: this job runs only when the raw count has
        # already crossed the cap.
        n_tomb = tomb.count()
    if n_tomb > broadcast_cap:
        warnings.warn(
            f"deletion-vector table {dv_table} holds more than "
            f"{broadcast_cap} tombstones — apply_deletion_vectors is "
            "overdue; serving via a shuffled anti-join",
            stacklevel=2,
        )
        return state.join(
            tomb, state[id_col] == F.col("__dv_id"), "left_anti"
        )
    return state.join(
        F.broadcast(tomb),
        state[id_col] == F.col("__dv_id"),
        "left_anti",
    )


def apply_deletion_vectors(
    spark: SparkSession,
    dv_table: str,
    targets: list[tuple[str, str]],
    txn_id: str,
) -> dict:
    """OPTIMIZE for the merge-on-read path: physically evict every
    tombstoned row from each ``(table, id_col)`` target in one
    file-narrowed rewrite per artifact, then TRUNCATE the applied
    tombstones — a metadata-only commit that de-references exactly the
    DV files the apply read (file provenance, not id equality, so
    tombstones appended AFTER the pinned version survive to the next
    apply, including a re-deletion of a re-ingested id).

    Exactly-once: the first eviction commit pins the applied DV
    version in its meta; replays evict by txn id and truncate against
    the same pinned file set.  After apply + ``vacuum``, the deleted
    rows' bytes are off disk — deferred takedown reaches the same
    erasure end-state as the eager path, one OPTIMIZE later."""
    dv_snap = current_snapshot(dv_table)
    # recover the pinned DV version from ANY already-applied target
    # FIRST: a crash replay must evict the not-yet-applied targets
    # against the SAME tombstone set the landed ones used, regardless
    # of the targets list's order — pinning lazily inside the loop
    # would let a reordered replay adopt the CURRENT (possibly newer)
    # DV version and over-truncate tombstones the crashed run never
    # applied (round-13 post-chain self-review)
    dv_v: int | None = None
    for table, _ in targets:
        pinned = txn_meta(table, f"{txn_id}:apply:{table}") or {}
        if pinned.get("dv_version") is not None:
            dv_v = int(pinned["dv_version"])
            break
    if not dv_snap.files and dv_v is None:
        return {"rows_removed": 0, "replayed": False, "applied": 0}
    removed = 0
    replayed = True
    for table, id_col in targets:
        a_txn = f"{txn_id}:apply:{table}"
        done = txn_version(table, a_txn)
        if done is not None:
            pinned = txn_meta(table, a_txn) or {}
            removed += int(pinned.get("rows_removed", 0))
            continue
        replayed = False
        if dv_v is None:
            dv_v = dv_snap.version
        dv = read_snapshot(spark, dv_table, version=dv_v)
        r = evict_rows(
            spark,
            table,
            dv.select(F.col(id_col)) if id_col in dv.columns
            else dv.select(
                F.col(dv.columns[0]).alias(id_col)
            ),
            id_col,
            a_txn,
            extra_meta={"dv_version": dv_v},
        )
        removed += r["rows_removed"]
    t_txn = f"{txn_id}:dv_truncate"
    if dv_v is not None and txn_version(dv_table, t_txn) is None:
        applied_files = set(
            current_snapshot(dv_table, version=dv_v).files
        )
        cur = current_snapshot(dv_table)
        commit(
            dv_table,
            add=[],
            remove=[f for f in cur.files if f in applied_files],
            operation="dv_truncate",
            txn_id=t_txn,
            expect_version=cur.version,
        )
    return {
        "rows_removed": removed,
        "replayed": replayed,
        "applied": len(targets),
    }


def takedown_semantic(
    spark: SparkSession,
    doc_ids: DataFrame,
    labels_table: str,
    members_table: str,
    txn_id: str,
    cosine_threshold: float = 0.9,
    id_col: str = "vec_id",
) -> list[tuple]:
    """Evict D from the SemDeDup labeling — the second
    NON-row-independent artifact beside the split: a surviving document
    labeled ``dup_of = d ∈ D`` references a deleted document, and if d
    was its only qualifying smaller-id cluster-mate the document is
    RESURRECTED (keep flips true) — a takedown can return previously
    purged training data to the pool, which the audit must surface.

    The blast radius is exact: ``dup_of`` is the MINIMUM qualifying
    mate, and removal only shrinks candidate sets, so a label changes
    iff its current ``dup_of`` ∈ D — only those documents re-scan their
    cluster mates (post-eviction members, same 6-dp cosine and min-id
    rule as ``operators/similarity.semantic_purge``), everything else
    carries over untouched.  Members evict first, the labels rewrite
    commits second (CAS, counts pinned in meta for replay) — between
    the two a reader sees evicted members with stale labels, the same
    conservative window as the BM25 doclen→postings order."""
    from airflow_crypto_btc_spark.functions.hashing import dot_expr

    ids = _ids_frame(doc_ids, id_col).localCheckpoint(eager=False)
    m = evict_rows(spark, members_table, ids, "id",
                   f"{txn_id}:sem_members")
    lt = f"{txn_id}:sem_labels"
    done = txn_version(labels_table, lt)
    if done is not None:
        pinned = txn_meta(labels_table, lt) or {}
        return [
            ("semantic_members", "evicted", m["rows_removed"]),
            ("semantic_labels", "evicted",
             int(pinned.get("labels_removed", 0))),
            ("semantic_resurrected", "relabeled",
             int(pinned.get("resurrected", 0))),
        ]
    snap = current_snapshot(labels_table)
    labels = read_snapshot(spark, labels_table, version=snap.version)
    survivors = labels.join(
        F.broadcast(ids), labels[id_col] == F.col("__td_id"), "left_anti"
    ).localCheckpoint(eager=False)
    n_removed = labels.count() - survivors.count()
    affected = survivors.join(
        F.broadcast(ids),
        survivors["dup_of"] == F.col("__td_id"),
        "left_semi",
    ).localCheckpoint(eager=False)

    # pin the members read to the exact version the member-eviction
    # commit produced (txn-keyed, so a replay resolves the same
    # version): a concurrent members commit between the two steps —
    # or before a crash replay — must not change which member state
    # the relabel reads, or the relabel would anchor on rows the
    # eviction txn never saw
    members = read_snapshot(
        spark,
        members_table,
        version=txn_version(members_table, f"{txn_id}:sem_members"),
    )
    a = affected.select(F.col(id_col).alias("id_dup")).join(
        members, F.col("id") == F.col("id_dup")
    ).select(
        "id_dup",
        F.col("e").alias("ea"),
        F.col("vn").alias("na"),
        "cid",
    )
    b = members.select(
        F.col("id").alias("id_src"),
        F.col("e").alias("eb"),
        F.col("vn").alias("nb"),
        "cid",
    )
    cos = F.when(
        F.col("na") * F.col("nb") != 0,
        F.round(dot_expr("ea", "eb") / (F.col("na") * F.col("nb")), 6),
    )
    new_dup = (
        a.join(b, ["cid"])
        .filter(F.col("id_src") < F.col("id_dup"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= cosine_threshold)
        .groupBy("id_dup")
        .agg(F.min("id_src").alias("dup_of"))
    )
    relabeled = (
        affected.select(F.col(id_col), "cid")
        .join(new_dup, F.col(id_col) == F.col("id_dup"), "left")
        .select(
            id_col,
            "cid",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
        .localCheckpoint(eager=False)
    )
    n_resurrected = relabeled.filter("keep").count()
    new_labels = survivors.join(
        affected.select(F.col(id_col).alias("__aff")),
        survivors[id_col] == F.col("__aff"),
        "left_anti",
    ).select(id_col, "cid", "dup_of", "keep").unionByName(relabeled)
    parts, stats, schema = _write_parts(new_labels, labels_table)
    meta = dict(snap.meta)
    meta.update(
        {
            "labels_removed": n_removed,
            "resurrected": n_resurrected,
            "takedown": txn_id,
        }
    )
    commit(
        labels_table,
        add=parts,
        remove=snap.files,
        operation="takedown_relabel",
        txn_id=lt,
        stats=stats,
        schema=schema,
        meta=meta,
        expect_version=snap.version,
    )
    return [
        ("semantic_members", "evicted", m["rows_removed"]),
        ("semantic_labels", "evicted", n_removed),
        ("semantic_resurrected", "relabeled", n_resurrected),
    ]


def takedown_split(
    spark: SparkSession,
    doc_ids: DataFrame,
    pairs_table: str,
    splits_table: str,
    moves_table: str,
    txn_id: str,
    test_pct: int = 10,
    buckets: int = 100,
) -> list[tuple]:
    """Evict D from the leakage-safe split: remove D's near-dup edges,
    re-cluster ONLY the affected clusters' surviving members over the
    surviving edges (a removal can SPLIT a cluster, and removing the
    min-label member RAISES the survivors' cluster id), and REBASE the
    changelog — an overwrite commit holding one canonical row per doc
    at ``as_of_batch = 0``, so the monotone-decrease invariant the
    latest-wins view needs is restored from the new base.  Members
    whose SIDE flipped land in the moves audit (same schema as the
    streaming sink's feed).

    Crash contract: the splits overwrite pins the pairs version and
    eviction counts in its commit meta; a replay reads the pre-takedown
    changelog at ``committed_version − 1`` and recomputes the identical
    moves rows (the split_stream replay pattern), then each commit
    skips-or-lands by txn id."""
    from airflow_crypto_btc_spark.operators.dedup import near_dup_clusters
    from airflow_crypto_btc_spark.streaming.split_stream import (
        _bucket_expr,
        _latest_wins,
    )

    ids = _ids_frame(doc_ids, "doc_id").localCheckpoint(eager=False)
    splits_txn = f"{txn_id}:splits_rebase"

    folded_v = txn_version(splits_table, splits_txn)
    pinned_pairs_v: int | None = None
    if folded_v is not None:
        # replay: pre-takedown changelog + pinned counts
        state = read_snapshot(spark, splits_table, version=folded_v - 1)
        pinned = txn_meta(splits_table, splits_txn) or {}
        n_assign_removed = int(pinned.get("assign_removed", 0))
        if pinned.get("pairs_version") is not None:
            pinned_pairs_v = int(pinned["pairs_version"])
    else:
        snap = current_snapshot(splits_table)
        state = read_snapshot(spark, splits_table, version=snap.version)
        n_assign_removed = None  # computed below

    cur = _latest_wins(state).select(
        "doc_id", "cluster_id", "split"
    ).localCheckpoint(eager=False)

    # blast radius: clusters that contained a D member
    affected = (
        cur.join(F.broadcast(ids), cur.doc_id == F.col("__td_id"))
        .select("cluster_id")
        .distinct()
    )
    survivors = (
        cur.join(affected, "cluster_id")
        .join(F.broadcast(ids), cur.doc_id == F.col("__td_id"),
              "left_anti")
        .select("doc_id", "cluster_id", "split")
        .localCheckpoint(eager=False)
    )
    if n_assign_removed is None:
        n_assign_removed = (
            cur.join(F.broadcast(ids), cur.doc_id == F.col("__td_id"))
            .count()
        )

    # surviving edges among the affected members: neither endpoint in D,
    # both endpoints survivors (an edge to an unaffected cluster cannot
    # exist — it would have merged the clusters already).  The pairs
    # version is captured IMMEDIATELY BEFORE the first read, the read
    # is pinned AT it, and the rebase commit records that same value
    # (round-14 ADVICE — recording current_snapshot at COMMIT time let
    # a pairs append landing between the read and the commit make a
    # crash replay fold a different edge set than the first run).  The
    # in-between evictions below only remove D's own rows, which the
    # anti-joins discard either way, so first run and replay see the
    # identical surviving edge set.
    if pinned_pairs_v is None:
        pinned_pairs_v = current_snapshot(pairs_table).version
    pairs = read_snapshot(spark, pairs_table, version=pinned_pairs_v)
    m_ids = survivors.select("doc_id")
    edges = (
        pairs.join(F.broadcast(ids), pairs.id_a == F.col("__td_id"),
                   "left_anti")
        .join(F.broadcast(ids), F.col("id_b") == F.col("__td_id"),
              "left_anti")
        .join(m_ids.withColumnRenamed("doc_id", "id_a"), "id_a",
              "left_semi")
        .join(m_ids.withColumnRenamed("doc_id", "id_b"), "id_b",
              "left_semi")
        .select("id_a", "id_b")
    )
    comps = near_dup_clusters(
        survivors.select("doc_id"), edges, id_col="doc_id"
    )

    bucket_c = _bucket_expr("cluster_id", buckets)
    bucket_d = _bucket_expr("doc_id", buckets)
    reassigned = comps.select(
        "doc_id",
        "cluster_id",
        F.expr(
            f"CASE WHEN {bucket_c} < {test_pct} THEN 'test' "
            "ELSE 'train' END"
        ).alias("split"),
        F.expr(
            f"({bucket_c} < {test_pct}) != ({bucket_d} < {test_pct})"
        ).alias("moved"),
    )
    untouched = (
        cur.join(affected, "cluster_id", "left_anti")
        .select(
            "doc_id",
            "cluster_id",
            "split",
            F.expr(
                f"({bucket_c} < {test_pct}) != ({bucket_d} < {test_pct})"
            ).alias("moved"),
        )
    )
    rebased = (
        reassigned.unionByName(untouched)
        .withColumn("as_of_batch", F.lit(0))  # INT, the sink's type
        .localCheckpoint(eager=False)
    )
    moves = (
        reassigned.join(
            survivors.select(
                "doc_id",
                F.col("cluster_id").alias("old_cluster_id"),
                F.col("split").alias("old_split"),
            ),
            "doc_id",
        )
        .filter(F.col("split") != F.col("old_split"))
        .select(
            "doc_id",
            "old_cluster_id",
            "cluster_id",
            "old_split",
            F.col("split").alias("new_split"),
        )
        .withColumn("as_of_batch", F.lit(0))  # INT, the sink's type
    )

    # commits: pairs eviction, splits rebase (CAS), moves append —
    # each skip-or-land by txn id
    pe = evict_rows(spark, pairs_table, doc_ids=ids, id_col="id_a",
                    txn_id=f"{txn_id}:pairs_a")
    pe2 = evict_rows(spark, pairs_table, doc_ids=ids, id_col="id_b",
                     txn_id=f"{txn_id}:pairs_b")
    if folded_v is None:
        parts, stats, schema = _write_parts(rebased, splits_table)
        commit(
            splits_table,
            add=parts,
            remove=current_snapshot(splits_table).files,
            operation="takedown_rebase",
            txn_id=splits_txn,
            stats=stats,
            schema=schema,
            meta={
                "assign_removed": n_assign_removed,
                "pairs_version": pinned_pairs_v,
            },
            expect_version=snap.version,
        )
    append(spark, moves, moves_table, txn_id=f"{txn_id}:moves")
    n_moves = moves.count()
    return [
        ("split_assignments", "rebased", n_assign_removed),
        ("split_moves_audit", "appended", n_moves),
        ("dedup_pairs", "evicted",
         pe["rows_removed"] + pe2["rows_removed"]),
    ]


def cascade_takedown(
    spark: SparkSession,
    doc_ids: DataFrame,
    txn_id: str,
    bm25: tuple[str, str] | None = None,
    lsh: tuple[str, str] | None = None,
    ann_members: str | None = None,
    split: tuple[str, str, str] | None = None,
    pq_codes: str | None = None,
    gram: tuple[str, DataFrame] | None = None,
    semantic: tuple[str, str] | None = None,
    semantic_threshold: float = 0.9,
) -> DataFrame:
    """Run the full takedown cascade and return the audit report —
    one row (artifact, action, rows_removed) per artifact touched,
    plus one ``rebuild_required`` policy row per non-decrementable
    sketch family (see the module docstring for why CMS/HLL/bloom
    cannot be decremented).  ``gram`` takes (gram_table, removed_docs
    WITH TEXT) — the decrement needs the departing documents' grams.
    Every step is independently idempotent, so re-invoking after a
    crash completes the cascade and reports identical rows.

    An EMPTY takedown set short-circuits to the policy rows alone:
    without the guard every artifact would pay a full copy-on-write
    rewrite to delete nothing — at 100 TB an idle erasure-queue tick
    must not rewrite the corpus (round-12 post-chain self-review)."""
    if doc_ids.limit(1).count() == 0:
        return spark.createDataFrame(
            [(s, "rebuild_required", 0) for s in NON_DECREMENTABLE],
            "artifact string, action string, rows_removed bigint",
        )
    rows: list[tuple] = []
    if bm25 is not None:
        rows += takedown_bm25(spark, doc_ids, bm25[0], bm25[1], txn_id)
    if lsh is not None:
        rows += takedown_lsh(spark, doc_ids, lsh[0], lsh[1], txn_id)
    if ann_members is not None:
        rows += takedown_ann_members(spark, doc_ids, ann_members, txn_id)
    if pq_codes is not None:
        rows += takedown_pq_codes(spark, doc_ids, pq_codes, txn_id)
    if gram is not None:
        rows += takedown_gram_index(spark, gram[1], gram[0], txn_id)
    if semantic is not None:
        rows += takedown_semantic(
            spark, doc_ids, semantic[0], semantic[1], txn_id,
            cosine_threshold=semantic_threshold,
        )
    if split is not None:
        rows += takedown_split(
            spark, doc_ids, split[0], split[1], split[2], txn_id
        )
    rows += [(s, "rebuild_required", 0) for s in NON_DECREMENTABLE]
    return spark.createDataFrame(
        rows, "artifact string, action string, rows_removed bigint"
    )
