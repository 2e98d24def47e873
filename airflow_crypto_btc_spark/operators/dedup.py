"""Deduplication operators for the training-data pipeline extension:
exact, MinHash+LSH near-dup, SimHash, and n-gram Jaccard.

Scale design (the whole point — SURVEY §7 hard-part 6):

- **Exact dedup** is a hash-groupBy on a content digest: one shuffle of
  (digest, doc_id) pairs, never of the document bodies.
- **MinHash signatures and SimHash fingerprints** are computed by
  Arrow ``mapInPandas`` kernels — one linear scan, embarrassingly
  parallel (see "Serve engine" below).
- **LSH banding** turns O(n²) all-pairs into: explode b band keys per doc
  (b·n rows), shuffle on band key, pair only within buckets.  Candidate
  pairs are then *verified* with exact Jaccard — false positives die, false
  negatives are bounded by (1-j^r)^b.
- **n-gram Jaccard all-pairs** is the exact quadratic baseline; it joins on
  shared shingles (inverted index) so only pairs with ≥1 common shingle
  materialize.  Use for small corpora / verification only; the LSH path is
  the 100 TB path.

Determinism: all hashes derive from md5 (see ``functions/hashing.py``), so
the DuckDB oracle reproduces signatures, bands, and pair sets bit-for-bit.

Serve engine: the md5 kernels (MinHash signatures, the LSH prep front
end, SimHash) run in Arrow ``mapInPandas`` workers because as JVM
higher-order expressions they pay an interpreted lambda dispatch per
(seed, shingle) / (bit, token), while the Python worker memoizes each
distinct shingle's or token's digests across a batch and runs md5 at C
speed (measured at sf0.1: ~3× on the LSH front end, 7.9× on
``dedup_simhash``).  md5 is md5 and every comparison is over
hex strings or exact integer sums, so the outputs are bit-identical to
the DuckDB oracles; tokenization uses
``functions.hashing.split_tokens``, the exact Python image of Spark's
Java-regex ``split``.
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    shingles_expr,
    split_tokens,
    tokens_expr,
)
from airflow_crypto_btc_spark.operators.physical import widen_small_input

#: Per-task input floor for the md5 kernels: they burn num_hashes md5
#: calls per shingle — orders of magnitude more CPU per input byte than
#: a BLAS pass — so even a few KB of text per task is worth a
#: round-robin shuffle (the column-pruned scan estimate of the sf0.1
#: documents table is ~250 KB and measured fastest at full width).
_MD5_KERNEL_FLOOR = 8 << 10


#: the ONE definition of content identity for exact dedup and every
#: operator that claims to share it (operators/bloom imports this) —
#: whitespace-collapsed, trimmed, lowercased text
NORMALIZED_TEXT = "lower(trim(regexp_replace({col}, '\\\\s+', ' ')))"


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-content md5.  Representative =
    min id (deterministic).  Returns (fp_md5, rep_id, n_dups)."""
    normalized = NORMALIZED_TEXT.format(col=text_col)
    return (
        df.withColumn("fp_md5", F.expr(f"md5({normalized})"))
        .groupBy("fp_md5")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def with_shingle_sets(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """tokens → k-token shingles → distinct shingle set (the Jaccard
    universe).  Pure per-row expressions."""
    return (
        df.withColumn("tokens", tokens_expr(text_col))
        .withColumn("shingles", shingles_expr("tokens", k))
        .withColumn("shingle_set", F.expr("array_distinct(shingles)"))
        .withColumn("set_size", F.expr("size(shingle_set)"))
    )


def _map_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fn,
    out_schema: str,
    out_id: str | None = None,
) -> DataFrame:
    """Run an md5 kernel ``fn`` (an iterator of pandas batches with
    ``id_col``/``text_col`` → an iterator of output frames) over the
    (id, text) projection.  The output keeps the id column's type under
    the name ``out_id`` (default: ``id_col`` itself)."""
    id_type = df.schema[id_col].dataType.simpleString()
    return widen_small_input(
        df.select(id_col, text_col), min_bytes_per_task=_MD5_KERNEL_FLOOR
    ).mapInPandas(fn, schema=f"`{out_id or id_col}` {id_type}, {out_schema}")


def _minhash_row(
    text, k_shingle: int, num_hashes: int, cache: dict[str, list[str]]
) -> tuple[set[str], list[str] | None]:
    """(distinct k-token shingle set, per-seed min md5 over it) for one
    document; the mins are None for an empty set.  Seed ``j`` hashes
    ``md5('j|shingle')``; ``cache`` memoizes each shingle's digests
    across the batch."""
    toks = split_tokens(text)
    sh = {
        " ".join(toks[i : i + k_shingle])
        for i in range(len(toks) - k_shingle + 1)
    }
    mins: list[str] | None = None
    for s in sh:
        hx = cache.get(s)
        if hx is None:
            enc = s.encode("utf-8")
            hx = cache[s] = [
                _md5(b"%d|%s" % (j, enc)).hexdigest()
                for j in range(num_hashes)
            ]
        mins = (
            list(hx)
            if mins is None
            else [m if m < h else h for m, h in zip(mins, hx)]
        )
    return sh, mins


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """(id, sig, set_size) with sig = array of num_hashes min-md5 values
    over the distinct k-token shingle *set* (duplicates can't change a
    min, but the oracle must use the same universe).  A document with
    fewer than ``k_shingle`` tokens has an empty set and an all-NULL
    sig, as ``list_min`` over an empty list gives in the oracle."""
    import pandas as pd

    def _run(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            sigs, sizes = [], []
            for txt in pdf[text_col]:
                sh, mins = _minhash_row(txt, k_shingle, num_hashes, cache)
                sizes.append(len(sh))
                sigs.append(mins or [None] * num_hashes)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": sigs, "set_size": sizes}
            )

    return _map_documents(
        df, id_col, text_col, _run, "sig array<string>, set_size long"
    )


def minhash_prep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """One-pass front end of the LSH pair pipeline: returns
    ``(id, band_keys, shingle_set, set_size)`` — band keys for the bucket
    join and sorted shingle sets for the exact-Jaccard verify from a
    SINGLE scan of the corpus.

    ``band_keys[b]`` equals the oracle's ``md5(array_to_string(sig[b*r+1
    : b*r+r], ''))`` — including the empty-shingle case, where every
    signature entry is NULL, the join yields ``''`` and the band key
    degenerates to ``md5('')`` (such docs all band together; see the
    bucket cap in :func:`minhash_lsh_pairs`).
    """
    import pandas as pd

    rows_per_band = num_hashes // bands
    empty = [_md5(b"").hexdigest()] * bands

    def _run(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            keys, sets_out, sizes = [], [], []
            for txt in pdf[text_col]:
                sh, mins = _minhash_row(txt, k_shingle, num_hashes, cache)
                sets_out.append(sorted(sh))
                sizes.append(len(sh))
                keys.append(
                    empty
                    if mins is None
                    else [
                        _md5(
                            "".join(
                                mins[b * rows_per_band : (b + 1) * rows_per_band]
                            ).encode()
                        ).hexdigest()
                        for b in range(bands)
                    ]
                )
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "band_keys": keys,
                    "shingle_set": sets_out,
                    "set_size": sizes,
                }
            )

    return _map_documents(
        df,
        id_col,
        text_col,
        _run,
        "band_keys array<string>, shingle_set array<string>, set_size long",
        out_id="id",
    )


def _minhash_sets_and_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared front end of the LSH pipeline: ``(sets, banded)`` where
    ``sets`` = (id, shingle_set, set_size) and ``banded`` =
    (id, band_idx, band_key), both projections of ONE lazily
    checkpointed :func:`minhash_prep` scan (each feeds two join inputs
    downstream and Spark has no cross-input subplan reuse)."""
    prep = minhash_prep(
        df, id_col, text_col, k_shingle, num_hashes, bands
    ).localCheckpoint(eager=False)
    sets = prep.select("id", "shingle_set", "set_size")
    banded = prep.select(
        "id", F.posexplode("band_keys").alias("band_idx", "band_key")
    )
    return sets, banded


def _cap_buckets(
    banded: DataFrame,
    max_bucket_size: int,
    keys: tuple[str, str] = ("band_idx", "band_key"),
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` BEFORE the
    intra-bucket self-join.  A degenerate band key (boilerplate shingles,
    empty documents) makes one bucket quadratic no matter how good the
    banding is — at 100 TB a single million-doc bucket is 10^12 candidate
    pairs.  Capping bounds the join at cap²/2 pairs per bucket and turns
    the pathological case into a reported skip (see
    :func:`minhash_lsh_skipped_buckets`) instead of a runaway stage.
    The count aggregates on the same key the join shuffles on, so AQE
    coalesces the two into one exchange lineage."""
    sizes = banded.groupBy(*keys).agg(
        F.count("*").alias("bucket_size")
    )
    keep = sizes.filter(F.col("bucket_size") <= max_bucket_size).select(
        *keys
    )
    return banded.join(keep, list(keys), "left_semi")


def _jaccard_micro(inter: str, union: str):
    """Exact-integer Jaccard — see ``functions.hashing.ratio_micro``
    (union = 2^k with odd intersection is a guaranteed 6-dp tie, and
    the threshold filter amplifies an engine split into different PAIR
    SETS)."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    return ratio_micro(inter, union)


def _verify_candidates(
    sets: DataFrame, cand: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the shingle
    sets: false positives from banding die here."""
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("shingle_set").alias("set_a"),
        F.col("set_size").alias("na"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("shingle_set").alias("set_b"),
        F.col("set_size").alias("nb"),
    )
    inter = F.expr("size(array_intersect(set_a, set_b))")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .withColumn("union", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn(
            # empty-set guard: two shingle-less docs can band together;
            # their union is 0 and ANSI mode errors on /0
            "jaccard",
            F.when(
                F.col("union") > 0, _jaccard_micro("inter", "union")
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verified_minhash_pairs(
    sets: DataFrame,
    banded: DataFrame,
    jaccard_threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Back end of the LSH pipeline: bucket self-join → distinct candidate
    pairs → exact-Jaccard verify against the shingle sets."""
    if max_bucket_size is not None:
        banded = _cap_buckets(banded, max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    return _verify_candidates(sets, cand, jaccard_threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding + exact-Jaccard verify.

    Plan shape: linear signature scan → explode ``bands`` keys/doc →
    shuffle on (band_idx, band_key) → intra-bucket self-join → distinct
    candidate pairs → join back shingle sets → exact Jaccard filter.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``max_bucket_size``: optional skew guard — buckets above the cap are
    skipped (and reportable via :func:`minhash_lsh_skipped_buckets`)
    instead of joined quadratically.  None = no cap, exact LSH semantics;
    at 100 TB always set one (a few hundred) — a true near-dup group
    larger than the cap still pairs up through its other ``bands-1``
    band keys, so only documents degenerate in EVERY band are lost.
    """
    sets, banded = _minhash_sets_and_bands(
        df, id_col, text_col, k_shingle, num_hashes, bands
    )
    return _verified_minhash_pairs(
        sets, banded, jaccard_threshold, max_bucket_size
    )


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    delta_filter: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with AT LEAST ONE endpoint in the delta — the
    incremental form of :func:`minhash_lsh_pairs` a growing corpus needs:
    when a daily increment lands, the full pair set is

        pairs(corpus) = pairs(old) ∪ pairs_incremental(corpus, delta)

    exactly (banding is per-document and deterministic, so old-old
    candidates are untouched by new arrivals), and only the right-hand
    term must be computed per increment.  The bucket join is restricted
    BEFORE the quadratic step: old-old combinations inside a bucket are
    never emitted, so per-increment cost scales with
    |delta| × bucket-mates, not |corpus|².

    Here the band index of the existing corpus is recomputed from ``df``
    for self-containment; at 100 TB it is the persisted artifact (band
    keys + shingle sets are exactly what `sources/snapshot_table` holds
    as an append-only table keyed by (band_idx, band_key)) and the
    delta's band keys probe it.

    ``delta_filter`` is a SQL predicate over ``df``'s columns selecting
    the new documents.  Returns (id_a, id_b, jaccard), id_a < id_b.

    The decomposition identity above holds EXACTLY only with
    ``max_bucket_size=None``: a capped run censuses buckets over its own
    input, so a bucket under-cap for the old corpus alone but over-cap
    for the full corpus emits pairs in ``pairs(old)`` that the one-shot
    capped run would skip.  With a cap, treat the incremental result as
    the union of per-run capped semantics, not as equal to a one-shot
    capped run.
    """
    sets, banded = _minhash_sets_and_bands(
        df, id_col, text_col, k_shingle, num_hashes, bands
    )
    delta_ids = (
        df.filter(delta_filter)
        .select(F.col(id_col).alias("id"))
        .distinct()
    )
    return minhash_lsh_pairs_from_index(
        sets, banded, delta_ids, jaccard_threshold, max_bucket_size
    )


def minhash_lsh_pairs_from_index(
    sets: DataFrame,
    banded: DataFrame,
    delta_ids: DataFrame,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pair generation against a PERSISTED LSH index — the entry point
    the 100 TB architecture actually calls: ``sets`` = (id, shingle_set,
    set_size) and ``banded`` = (id, band_idx, band_key) read from the
    index tables a previous run appended (snapshot tables keyed by
    (band_idx, band_key) — see tests/test_dedup.py's persisted-index
    round-trip), ``delta_ids`` = one column ``id`` of new documents.
    Emits only pairs with at least one delta endpoint.  The delta
    restriction is applied to one JOIN INPUT, not as a post-filter: the
    probe side is the delta's band rows only (semi-join before the
    bucket join), so each bucket contributes |delta-in-bucket| ×
    |bucket| combinations — buckets without delta rows contribute
    nothing, and an (a.is_new | b.is_new) post-filter, which would force
    enumerating every bucket's full |bucket|² square, never exists in
    the plan."""
    if max_bucket_size is not None:
        banded = _cap_buckets(banded, max_bucket_size)
    delta_banded = banded.join(delta_ids, "id", "left_semi")
    a, b = delta_banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        # canonicalize: the probe row may be either endpoint
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    return _verify_candidates(sets, cand, jaccard_threshold)


def build_minhash_index(
    spark,
    df: DataFrame,
    sets_table: str,
    bands_table: str,
    source_version: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> None:
    """Materialize the LSH index (shingle sets + band keys) into a pair
    of snapshot tables, recording ``source_version`` — the corpus
    snapshot the index was computed from — in BOTH tables' commit
    metadata.  :func:`minhash_lsh_pairs_from_index_tables` asserts that
    metadata on probe, so a probe can never silently pair against an
    index built from a different (stale or mixed) corpus version.

    Rebuild is an OVERWRITE commit, not an append: re-running the build
    after a corpus change must REPLACE the previous generation — an
    append would leave both generations live with the meta flipped to
    the new version, so the probe's version check would pass while pair
    verification ran against stale shingle sets (and every id would
    fan out into duplicate rows).  Incremental growth of the same
    corpus version goes through the streaming sink, not this builder.

    The persisted band rows carry ``bkn = xxhash64(band_idx, band_key)``
    — a NUMERIC bucket key (band_key is a string, which the z-order
    compactor cannot interleave) so the table can be
    ``compact(cluster_by=["bkn"])``-ed and probes file-pruned by their
    bkn list, the same layout contract the hyperplane ANN index
    established with ``bnum``."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    sets, banded = _minhash_sets_and_bands(
        df, id_col, text_col, k_shingle, num_hashes, bands
    )
    banded = banded.withColumn("bkn", F.xxhash64("band_idx", "band_key"))
    meta = {"source_version": source_version}
    overwrite(spark, sets, sets_table, meta=meta)
    overwrite(spark, banded, bands_table, meta=meta)


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band_idx, band_key) band rows recomputed from raw text —
    deterministic md5 math, bit-identical to what the index holds for
    the same documents.  The DELTA's rows are |Δ|-sized to compute; pass
    them as ``delta_banded`` to :func:`minhash_lsh_pairs_from_index_tables`
    so the probe can file-prune the bands table WITHOUT first scanning it
    to learn the delta's bucket keys."""
    _, banded = _minhash_sets_and_bands(
        df, id_col, text_col, k_shingle, num_hashes, bands
    )
    return banded


def minhash_lsh_pairs_from_index_tables(
    spark,
    sets_table: str,
    bands_table: str,
    delta_ids: DataFrame,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    expect_source: str | None = None,
    delta_banded: DataFrame | None = None,
) -> DataFrame:
    """Table-path front end of :func:`minhash_lsh_pairs_from_index`
    over the two pinned index tables (README, "Frozen inputs"; they
    must agree on ``source_version`` — a sets table from corpus v2
    probed against a bands table from v1 would emit pairs verified on
    the wrong shingle sets).

    ``delta_banded``: the delta's (id, band_idx, band_key) rows
    recomputed from raw text (:func:`minhash_band_rows` — bit-identical
    to the indexed rows, so this is knowledge the caller already has,
    not a scan of the index).  When given, the bands table is read with
    one degenerate [bkn, bkn] prune range per delta bucket key (bounded
    by |Δ| × bands): on a bkn-clustered table, buckets without a delta
    row never have their FILES opened.  Answer-invariant — every pair
    has a delta endpoint, and all of the delta's buckets are kept;
    pre-bkn index generations carry no bkn stats and are conservatively
    unpruned."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
        read_snapshot,
    )

    sets_snap, bands_snap = pin(
        "index", sets_table, bands_table, expect_source=expect_source
    )
    prune = None
    if delta_banded is not None:
        keys = sorted(
            r["bkn"]
            for r in delta_banded.select(
                F.xxhash64("band_idx", "band_key").alias("bkn")
            )
            .distinct()
            .collect()
        )  # bounded by |delta| × bands — never index-sized
        prune = ("bkn", [(k, k) for k in keys])
    return minhash_lsh_pairs_from_index(
        read_parts(spark, sets_table, sets_snap.files, sets_snap),
        read_snapshot(
            spark, bands_table, version=bands_snap.version, prune=prune
        ),
        delta_ids,
        jaccard_threshold,
        max_bucket_size,
    )


def minhash_lsh_skipped_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Accounting side of the bucket cap: the (band_idx, band_key,
    bucket_size) buckets that :func:`minhash_lsh_pairs` would SKIP at the
    given cap — run it alongside a capped dedup pass so the skipped mass
    is observable, not silent."""
    _, banded = _minhash_sets_and_bands(
        df, id_col, text_col, k_shingle, num_hashes, bands
    )
    return (
        banded.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def _loop_width(spark, n_rows: int, rows_per_partition: int = 50_000) -> int:
    """Degree of parallelism for an ITERATIVE graph loop, sized to the
    materialized edge count: AQE right-sizes each shuffle it sees, but a
    checkpointed loop re-enters planning every round, so a 256-edge graph
    would still schedule full-width tasks per round — at small sizes the
    fixed per-task cost dominates the round (measured 1.7 s → 0.7 s per
    round at sf0.1 by narrowing 32 → 1).  Clamped to the session shuffle
    width so a 100 TB edge set keeps every core busy."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(default, -(-n_rows // rows_per_partition)))


def _two_star_components(
    pairs: DataFrame, max_iterations: int = 25
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond") over the pair
    graph.  Returns ``(labels, rounds)`` with labels = (id, label) for
    every edge-touched node, label = component min id.

    Each round rewires the edge set toward a star per component:

    - **large-star**: every node ``v`` larger than a neighbor ``u`` is
      re-pointed at ``m = min(Γ(u) ∪ {u})`` — long tails fold onto small
      ids in parallel;
    - **small-star**: every node's smaller-or-equal neighbors (and the
      node itself) collapse onto their minimum.

    Both steps preserve connectivity and never raise a node's smallest
    reachable id, so the fixed point is one star per component centered
    on the component min — the same contract as min-label propagation,
    reached in O(log n) rounds instead of O(diameter): the 100 TB choice
    for adversarial long-chain graphs (label propagation needs a round
    per hop).  Edges live canonically as (hi, lo), hi > lo; each round is
    two self-contained groupBy/join passes over the EDGE set, lineage cut
    by a checkpoint whose materializing count doubles as the convergence
    probe (exact set comparison, no hash shortcuts).
    """
    E = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("hi"),
            F.least("id_a", "id_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_prev = E.count()
    width = _loop_width(pairs.sparkSession, n_prev)
    E = E.repartition(width, "hi").localCheckpoint(eager=False)
    rounds = 0
    done = n_prev == 0
    for _ in range(max_iterations):
        if done:
            break
        rounds += 1
        # large-star: neighbors from both directions, strictly-larger
        # neighbors re-point at min(Γ(u) ∪ {u})
        nbr = E.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionByName(
            E.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: per node, its ≤ neighbors (the canonical `lo` side)
        # plus the node collapse onto their min
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(smins, "hi")
            .select(F.col("lo").alias("w"), "m")
            .unionByName(
                smins.select(F.col("hi").alias("w"), "m")
            )
        )
        E_new = (
            small.filter(F.col("w") != F.col("m"))
            .select(F.col("w").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .repartition(width, "hi")
            .localCheckpoint(eager=False)
        )
        n_new = E_new.count()  # action: materializes the checkpoint
        done = n_new == n_prev and E_new.exceptAll(E).count() == 0
        E, n_prev = E_new, n_new
    if not done:
        # labels derived from a non-star edge set would emit conflicting
        # rows per node — refuse instead (O(log n) rounds means 25 covers
        # any graph that fits on hardware; hitting this is caller error)
        raise RuntimeError(
            f"two-star components did not converge in {max_iterations} "
            "rounds; raise max_iterations"
        )
    centers = E.select(F.col("lo").alias("id")).distinct()
    labels = E.select(
        F.col("hi").alias("id"), F.col("lo").alias("label")
    ).unionByName(centers.withColumn("label", F.col("id")))
    return labels, rounds


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    a real dedup pipeline runs AFTER pair generation: pairs (a,b),(b,c)
    must collapse into ONE cluster {a,b,c} with one surviving
    representative, which pairwise output alone cannot express.

    Iterative min-label propagation: every doc starts labeled with its own
    id; each round every node takes the minimum label among itself and its
    neighbors; fixed point = every node labeled with its component's
    minimum id.  The result is iteration-order and shuffle independent
    (min is idempotent/commutative), so the output is deterministic and
    a DuckDB recursive CTE can replay it exactly.

    Scale: the iteration runs over only the nodes that appear in a
    candidate pair — after LSH that is a small fraction of the corpus, so
    every per-round join/groupBy is sized by |touched|, not |docs|; the
    untouched majority is unioned back as singletons in one final
    anti-join, outside the loop.  Each round is one shuffle join on the
    PAIR set plus the label update; rounds needed = component diameter,
    which for near-dup clusters is tiny (dup groups are cliques-ish).
    Lineage is cut every round (the convergence count materializes the
    checkpoint), so plans stay constant-size.

    ``algorithm='two_star'`` swaps in the alternating large-star/
    small-star variant (:func:`_two_star_components`) — O(log n) rounds
    instead of O(diameter), the right pick for adversarial long-chain
    graphs; the contract (min-id labeling) is unchanged and pinned by a
    cross-algorithm equality test.  A/B on the sf0.1 LSH pair graph
    (warm, median of 3): label_prop ≈3.0 s vs two_star ≈3.8 s — near-dup
    components are shallow (diameter ≤ 2), so label_prop's one-join
    round beats two-star's two-pass round and stays the default; flip to
    ``two_star`` only when component diameter is unbounded.

    Returns (doc_id, cluster_id); singletons cluster to themselves.
    """
    if algorithm == "two_star":
        labels, _ = _two_star_components(pairs, max_iterations)
        touched_ids = labels.select("id")
        singles = docs.select(F.col(id_col).alias("id")).join(
            touched_ids, "id", "left_anti"
        ).withColumn("label", F.col("id"))
        return labels.unionByName(singles).select(
            F.col("id").alias(id_col), F.col("label").alias("cluster_id")
        )
    if algorithm != "label_prop":
        raise ValueError(f"unknown cc algorithm: {algorithm!r}")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    # only edge-touched nodes can ever change label; edges carry both
    # directions so src alone covers every endpoint
    touched = edges.select("src").distinct().localCheckpoint(eager=False)
    labels = touched.select(F.col("src").alias("id")).withColumn(
        "label", F.col("id")
    )
    width = None
    for i in range(max_iterations):
        if i == 1:
            # narrow rounds 1+ to the graph's real size (_loop_width):
            # round 0's action materialized the edges checkpoint, so
            # this count reads cached rows (~free) — paying for the
            # sizing BEFORE round 0 costs a full extra job and loses
            # more than the narrowing saves on shallow graphs
            width = _loop_width(pairs.sparkSession, edges.count())
            edges = edges.repartition(width, "src")
        neigh_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("src"), F.col("label").alias("slabel")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("slabel").alias("nlabel"))
        )
        updated = labels.join(
            neigh_min, labels.id == neigh_min.dst, "left"
        ).select(
            "id",
            "label",
            F.least(
                F.col("label"), F.coalesce("nlabel", "label")
            ).alias("new_label"),
        )
        if width is not None:
            updated = updated.repartition(width, "id")
        updated = updated.localCheckpoint(eager=False)
        changed = updated.filter(
            F.col("new_label") != F.col("label")
        ).count()  # action: also materializes the checkpoint
        labels = updated.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    singletons = docs.select(F.col(id_col).alias("id")).join(
        touched.withColumnRenamed("src", "id"), "id", "left_anti"
    ).withColumn("label", F.col("id"))
    return labels.unionByName(singletons).select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash): sign-aggregated token-hash fingerprint; near-dups
    differ in few bits (compare via hamming distance on the bigint).
    Bit i (``bits`` ≤ 32, one md5 hex digit per bit) is set when the
    ±1 votes of the tokens — +1 when hex digit i of md5(token) is odd —
    sum to > 0; ties go to 0.  Each distinct token's vote vector is
    computed once per batch."""
    import numpy as np
    import pandas as pd

    parity = {c: int(c, 16) & 1 for c in "0123456789abcdef"}

    def _run(batches):
        for pdf in batches:
            cache: dict[str, np.ndarray] = {}
            out = []
            for txt in pdf[text_col]:
                sums = np.zeros(bits, dtype=np.int64)
                for t in split_tokens(txt):
                    p = cache.get(t)
                    if p is None:
                        hx = _md5(t.encode("utf-8")).hexdigest()
                        p = cache[t] = np.array(
                            [1 if parity[hx[i]] else -1 for i in range(bits)],
                            dtype=np.int64,
                        )
                    sums += p
                out.append(
                    int(sum(1 << i for i in range(bits) if sums[i] > 0))
                )
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return _map_documents(df, id_col, text_col, _run, "simhash long")


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs with banded candidate generation.

    Pigeonhole banding: split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` bands — any pair within ``max_hamming`` bit flips
    agrees EXACTLY on at least one band (no false negatives), so candidates
    are a shuffle on (band_idx, band_bits), never all-pairs.  Candidates
    are verified with the true hamming distance (popcount of xor).
    Returns (id_a, id_b, hamming), id_a < id_b.

    ``max_bucket_size``: same skew guard as
    :func:`minhash_lsh_pairs` — a band that most of the corpus agrees on
    (near-constant fingerprint bits on templated text) makes one bucket
    quadratic; buckets above the cap are skipped.  Unlike MinHash, the cap
    trades the no-false-negative guarantee for boundedness — pairs whose
    every agreeing band is over-cap are lost — so it defaults to off.
    """
    fps = simhash_fingerprints(df, id_col, text_col, bits).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("fp")
    )
    return banded_hamming_pairs(
        fps, bits=bits, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def banded_hamming_pairs(
    fps: DataFrame,
    bits: int,
    max_hamming: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs over ANY bigint fingerprint column via
    pigeonhole banding — the shared candidate engine behind
    :func:`simhash_near_dup_pairs` (token-level SimHash) and
    ``operators/multimodal.block_hash_near_dup`` (payload block hashes).

    ``fps`` must have columns ``(id, fp)``.  The ``bits``-bit fingerprint
    is split into ``max_hamming + 1`` disjoint bands; any pair within
    ``max_hamming`` bit flips agrees EXACTLY on at least one band (no
    false negatives), so candidates are a shuffle on (band_idx,
    band_bits), never all-pairs.  Candidates are verified with the true
    hamming distance (popcount of xor).  Returns (id_a, id_b, hamming),
    id_a < id_b.

    ``max_bucket_size``: same skew guard as :func:`minhash_lsh_pairs`;
    see :func:`simhash_near_dup_pairs` for the false-negative trade when
    a cap is set.
    """
    n_bands = max_hamming + 1
    band_width = bits // n_bands
    # fp must be STORED before the band explode: Generate inlines a
    # lazy fp expression (e.g. the payload block hash) and re-evaluates
    # it per exploded band row — the same explode-inlining cliff
    # measured at 12× on the shingle path
    fps = fps.localCheckpoint(eager=False)

    band_arr = F.expr(
        f"transform(sequence(0, {n_bands - 1}), b -> struct("
        f"b AS band_idx, "
        f"(fp div cast(pow(2, b * {band_width}) as bigint)) "
        f"% cast(pow(2, {band_width}) as bigint) AS band_bits))"
    )
    # the fingerprint RIDES the band rows (8 bytes/row) so the verify is
    # computed inside the bucket join itself — previously candidates
    # were projected to bare id pairs and the fingerprints re-attached
    # through TWO more joins against fps, i.e. two extra exchanges of
    # the fingerprint table per call (r14 opt: §2.4/§3 — same pair set,
    # same hamming values, two joins and one lineage cut removed; the
    # ≤ max_hamming filter now also runs BEFORE the distinct, shrinking
    # its exchange to the true-positive pairs)
    banded = (
        fps.withColumn("band", F.explode(band_arr))
        .select("id", "fp", "band.band_idx", "band.band_bits")
    )
    if max_bucket_size is not None:
        banded = _cap_buckets(
            banded, max_bucket_size, keys=("band_idx", "band_bits")
        )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via inverted shingle index: explode
    distinct shingles, self-join on shingle (only overlapping pairs
    materialize), count intersections, Jaccard from set sizes.

    Quadratic in the worst case — the exact baseline for verifying the LSH
    path at small scale; at 100 TB use :func:`minhash_lsh_pairs`.
    """
    base = with_shingle_sets(df, text_col, k_shingle).select(
        F.col(id_col).alias("id"), "shingle_set", "set_size"
    ).localCheckpoint(eager=False)
    # ^ the array column MUST be materialized before the explode:
    # Generate inlines a lazy array expression and re-evaluates the
    # whole tokenize→shingle→distinct HOF chain PER EXPLODED ELEMENT —
    # measured 19.4 s for the explode vs 1.6 s for the shingle pass
    # itself at sf0.1 (r14 opt).  From stored arrays the explode is
    # 0.4 s.  Same rule as _minhash_sets_and_bands' `sets` checkpoint.
    ex = base.select(
        "id", "set_size", F.explode("shingle_set").alias("s")
    ).localCheckpoint(eager=False)  # reused by both sides of the self-join
    a, b = ex.alias("a"), ex.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("na"),
            F.col("b.set_size").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        pair_inter.withColumn(
            "union", F.col("na") + F.col("nb") - F.col("inter")
        )
        .withColumn(
            "jaccard",
            F.when(
                F.col("union") > 0, _jaccard_micro("inter", "union")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
