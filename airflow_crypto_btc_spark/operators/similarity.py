"""Similarity search over embedding columns (``array<float>``).

Two tiers (BASELINE.json north star):

- **Brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the full vector table; per-pair dot product as a
  sequential double fold (native HOFs, no UDF); windowed top-k with a
  deterministic tie-break.  Linear in |vectors|·|queries| — correct at any
  scale where |queries| is bounded.
- **LSH-bucketed near-dup / ANN** — the scale path: random-hyperplane sign
  buckets (hyperplane weights derived from md5 so the DuckDB oracle can
  reproduce them), candidates only within a bucket.  Turns all-pairs
  O(n²·d) into O(n·planes·d) + intra-bucket pairs.

Determinism for the oracle: element products are exact (float→double
widening then IEEE multiply); only the sum order differs between engines,
so cosines are rounded to 6 decimals on both sides *before* ranking, with
the neighbor id as tie-break.

Kernels: every operator evaluates vectors with ONE form — the sequential
HOF folds ``dot_expr``/``norm2_expr`` and the md5-in-HOF
:func:`hyperplane_bucket_expr`; no operator probes the vector width.  The
only exception is PQ codebook training, whose sub-vector width is fixed
when the plan is built, so it uses the bit-identical unrolled twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.physical import widen_small_input
from airflow_crypto_btc_spark.functions.hashing import (
    dot_expr,
    dot_expr_unrolled,
    hex8_to_bigint_sql,
    norm2_expr,
    norm2_expr_unrolled,
)


def cosine_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of every vector against a bounded query subset.

    Returns (qid, nid, cosine, rnk), rnk 1..k per qid.  The query side is
    broadcast (bounded by ``query_filter``); the vector side streams —
    no shuffle of the big table, one window per qid partition for top-k.
    """
    # Norms are per-vector, so hoist them out of the pair loop: |q|·|v|
    # pairs each evaluate only the dot product, not three O(d) folds.
    # sqrt(norm2) is the same double either way — bit-identical cosines.
    q = vectors.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    ).withColumn("qn", F.sqrt(norm2_expr("qe")))
    v = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
    ).withColumn("vn", F.sqrt(norm2_expr("ve")))
    pairs = v.join(F.broadcast(q), F.col("nid") != F.col("qid"))
    # zero-norm guard: ANSI mode errors on /0; degenerate vectors get null
    cos = F.when(
        F.col("qn") * F.col("vn") != 0,
        F.round(dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def hyperplane_bucket_expr(
    vec_col: str = "embedding", planes: int = 8
) -> F.Column:
    """Random-hyperplane LSH bucket key: for each plane p, weight on
    dimension i is md5-derived pseudo-random in [-500, 500]; bucket char =
    sign bit of the projection.  Deterministic and reproducible in SQL —
    the weights are derived inside the expression, so the DuckDB oracle
    and the persisted ANN index compute the same keys."""
    w = hex8_to_bigint_sql("md5(concat('p', cast(p as string), ':', cast(i as string)))")
    proj = (
        f"aggregate(zip_with({vec_col}, "
        f"transform(sequence(1, size({vec_col})), "
        f"i -> cast({w} % 1001 - 500 as double)), "
        f"(x, wt) -> cast(x as double) * wt), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )
    return F.expr(
        f"concat_ws('', transform(sequence(0, {planes - 1}), "
        f"p -> CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END))"
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    cosine_threshold: float = 0.9,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH bucketing:
    vectors sharing all ``planes`` sign bits become candidates (near-identical
    vectors agree on every hyperplane w.h.p.), then exact cosine verifies.
    Returns (id_a, id_b, cosine), id_a < id_b.

    ``max_bucket_size``: skew guard, same contract as
    ``dedup.minhash_lsh_pairs`` (one shared ``_cap_buckets`` definition,
    imported not copied): sign-buckets larger than the cap are skipped
    entirely instead of self-joined quadratically.  EXACTLY the corpus
    this operator targets (near-dup-heavy embeddings — boilerplate,
    mirrored pages) concentrates O(n) vectors into one hot bucket, and
    an uncapped intra-bucket join goes O(n²) there no matter how good
    the hashing is.  None = exact LSH semantics; at 100 TB always set
    one (a few hundred) and account the skipped mass with
    :func:`embedding_near_dup_skipped_buckets` — unlike banded MinHash
    there is no second band to catch a skipped bucket's pairs, so a cap
    here trades recall inside degenerate buckets for a bounded join."""
    from airflow_crypto_btc_spark.operators.dedup import _cap_buckets

    base = (
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("e"),
            hyperplane_bucket_expr(vec_col, planes).alias("bucket"),
        )
        .withColumn("nrm", F.sqrt(norm2_expr("e")))
        .localCheckpoint(eager=False)
    )  # planes×dim projection + norm run once, not once per self-join side
    if max_bucket_size is not None:
        base = _cap_buckets(base, max_bucket_size, keys=("bucket",))
    a = base.select(
        F.col("id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("bucket").alias("bucket"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("bucket"),
    )
    cos = F.when(
        F.col("na") * F.col("nb") != 0,
        F.round(dot_expr("ea", "eb") / (F.col("na") * F.col("nb")), 6),
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_skipped_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Accounting side of the embedding bucket cap: the (bucket,
    bucket_size) sign-buckets :func:`embedding_near_dup_pairs` would
    SKIP at the given cap — run alongside a capped pass so the skipped
    mass is observable, not silent (the twin of
    ``dedup.minhash_lsh_skipped_buckets``).  Also valid against a
    persisted ANN index's rows (``build_ann_index`` stores the same
    ``bucket`` column), so a streaming deployment can audit its
    committed index without re-hashing the corpus."""
    return (
        vectors.select(
            hyperplane_bucket_expr(vec_col, planes).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def lsh_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    query_filter: str = "vec_id < 20",
    k: int = 10,
    max_hamming: int | None = 1,
) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN top-k — the bucket-pruned scale path
    beside :func:`ivf_topk` (index-shaped) and :func:`cosine_topk` (exact).

    Every vector hashes to ONE sign-bit bucket (so the candidate join can
    never duplicate a pair); a query probes its own bucket plus every
    bucket within ``max_hamming`` bit flips (multi-probe LSH: near
    neighbors most often differ in exactly one marginal hyperplane).
    Exact cosine then ranks candidates.  ``max_hamming=None`` probes all
    2^planes buckets — the exhaustive limit, equal to brute force by
    construction (asserted in tests).

    At scale the vector table is written partitioned by ``bucket``; a
    query touches ``1 + planes`` partitions out of ``2^planes`` — the same
    pruning fraction regardless of data volume.
    """
    base = (
        vectors.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("ve"),
            hyperplane_bucket_expr(vec_col, planes).alias("bucket"),
        )
        .withColumn("vn", F.sqrt(norm2_expr("ve")))
    )
    q = (
        vectors.filter(query_filter)
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qe"),
            hyperplane_bucket_expr(vec_col, planes).alias("qb"),
        )
        .withColumn("qn", F.sqrt(norm2_expr("qe")))
    )
    if max_hamming is None:  # exhaustive limit: probe every bucket
        probe = (
            f"transform(sequence(0, {2 ** planes - 1}), "
            f"i -> lpad(bin(i), {planes}, '0'))"
        )
    elif max_hamming == 0:
        probe = "array(qb)"
    elif max_hamming == 1:
        flip = (
            f"transform(sequence(1, {planes}), p -> concat("
            "substr(qb, 1, p - 1), "
            "CASE WHEN substr(qb, p, 1) = '1' THEN '0' ELSE '1' END, "
            f"substr(qb, p + 1, {planes} - p)))"
        )
        probe = f"concat(array(qb), {flip})"
    else:
        raise ValueError("max_hamming must be 0, 1, or None (=all)")
    probes = q.select(
        "qid", "qe", "qn", F.explode(F.expr(probe)).alias("bucket")
    )
    cos = F.when(
        F.col("qn") * F.col("vn") != 0,
        F.round(dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        base.join(F.broadcast(probes), ["bucket"])
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def build_ann_index(
    spark,
    vectors: DataFrame,
    table: str,
    source_version: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
) -> int:
    """Persist the hyperplane-LSH ANN index — rows ``(nid, ve, vn,
    bucket)`` in a snapshot table with ``source_version`` recorded in the
    commit metadata, mirroring ``dedup.build_minhash_index``.  The
    projection and norm are computed ONCE at build time; every probe
    afterwards is a bucket-key join against stored rows, no per-query
    re-hash of the corpus.  At scale, ``snapshot_table.compact(...,
    cluster_by=...)`` on a bucket-derived numeric key plus the per-part
    min/max stats makes a probe's ``1 + planes`` buckets open only the
    files whose stat range covers them.

    Rebuild is an OVERWRITE commit: re-running the build must REPLACE
    the previous generation — an append would leave both generations
    live behind a passing version check, and duplicated (nid, bucket)
    rows would occupy top-k slots twice.  ``planes`` is recorded in the
    commit metadata and asserted on probe: a planes mismatch makes the
    bucket join match nothing, which must fail loudly, not return an
    empty result.

    Build-time SKEW AUDIT: per-bucket row counts are censused (≤
    2^planes rows, map-side combined on the bucket key) and recorded in
    the commit metadata (``bucket_stats``: total / max / hot bucket /
    nonempty-bucket count).  A degenerate corpus — boilerplate
    embeddings, mirrored pages — concentrates the STORED index into one
    sign-bucket, and every later probe of that bucket scans O(index)
    mates; when the hottest bucket holds more than
    ``skew_warn_fraction`` of the rows, the build emits a warning
    suggesting more planes (finer buckets) or different plane seeds,
    instead of leaving the imbalance to be discovered at query time.
    :func:`ann_index_skew_report` reads the recorded stats back without
    touching data files."""
    import warnings

    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    skew_warn_fraction = 0.2
    base = (
        vectors.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("ve"),
            hyperplane_bucket_expr(vec_col, planes).alias("bucket"),
        )
        .withColumn("vn", F.sqrt(norm2_expr("ve")))
        # numeric twin of the bucket key: compact(cluster_by=["bnum"])
        # range-aligns the stored parts so a probe's prune range skips
        # whole files (z-order needs numerics; the string key stays the
        # join key)
        .withColumn("bnum", F.conv("bucket", 2, 10).cast("long"))
        .localCheckpoint(eager=False)
    )  # hash + norm once: census and commit share the materialization
    census = (
        base.groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.count("*").alias("nonempty"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_n"),
            # deterministic hot bucket: largest n, largest key on ties
            F.max_by(
                "bucket", F.struct(F.col("n"), F.col("bucket"))
            ).alias("hot"),
        )
        .collect()[0]  # ONE driver row regardless of planes/corpus
    )
    total, hot_n = int(census["total"]), int(census["max_n"])
    stats = {
        "total_rows": total,
        "nonempty_buckets": int(census["nonempty"]),
        "max_bucket": hot_n,
        "hot_bucket": census["hot"],
    }
    if total and hot_n > skew_warn_fraction * total:
        warnings.warn(
            f"ANN index skew: bucket {census['hot']!r} holds "
            f"{hot_n}/{total} rows "
            f"({hot_n / total:.0%} > {skew_warn_fraction:.0%}) — "
            f"probes of that bucket scan O(index); consider more "
            f"planes than {planes} (finer buckets) or re-seeding the "
            f"hyperplanes, and cap pair generation with "
            f"max_bucket_size",
            stacklevel=2,
        )
    return overwrite(
        spark, base, table,
        meta={
            "source_version": source_version,
            "planes": planes,
            "bucket_stats": stats,
        },
    )


def ann_index_skew_report(table: str) -> dict:
    """The build-time bucket census of :func:`build_ann_index`, read
    back from the current commit's metadata — no data files touched, so
    an operator dashboard can poll it for free."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        current_snapshot,
    )

    return current_snapshot(table).meta.get("bucket_stats", {})


def lsh_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    k: int = 10,
    max_hamming: int | None = 1,
    expect_source: str | None = None,
    prune_buckets: bool = True,
) -> DataFrame:
    """Serve multi-probe LSH top-k from a PERSISTED index
    (:func:`build_ann_index`): queries arrive as their own frame (the
    online shape — the corpus is never re-hashed), hash to their bucket
    plus every ``max_hamming``-flip neighbor, and join the stored
    buckets; exact cosine ranks the candidates.  The index is pinned
    (README, "Frozen inputs").

    ``prune_buckets`` collapses the probe set (driver-bounded —
    ≤ |queries| × (1 + planes) bucket strings) into a numeric [lo, hi]
    range over the index's ``bnum`` column for the snapshot read's
    log-level file skipping: after ``compact(cluster_by=["bnum"])``
    a probe OPENS only the files whose bucket range it touches
    (pre-``bnum`` index generations simply prune nothing — missing
    stats keep every file, and correctness never depends on the prune:
    the bucket join still filters exactly)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_snapshot,
    )

    [snap] = pin("ANN index", table, expect_source=expect_source)
    built_planes = snap.meta.get("planes")
    if built_planes is not None and built_planes != planes:
        raise ValueError(
            f"ANN index was built with planes={built_planes}, probe "
            f"requested planes={planes} — bucket keys cannot match"
        )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        hyperplane_bucket_expr(vec_col, planes).alias("qb"),
    ).withColumn("qn", F.sqrt(norm2_expr("qe")))
    if max_hamming is None:
        probe = (
            f"transform(sequence(0, {2 ** planes - 1}), "
            f"i -> lpad(bin(i), {planes}, '0'))"
        )
    elif max_hamming == 0:
        probe = "array(qb)"
    elif max_hamming == 1:
        flip = (
            f"transform(sequence(1, {planes}), p -> concat("
            "substr(qb, 1, p - 1), "
            "CASE WHEN substr(qb, p, 1) = '1' THEN '0' ELSE '1' END, "
            f"substr(qb, p + 1, {planes} - p)))"
        )
        probe = f"concat(array(qb), {flip})"
    else:
        raise ValueError("max_hamming must be 0, 1, or None (=all)")
    probes = q.select(
        "qid", "qe", "qn", F.explode(F.expr(probe)).alias("bucket")
    ).localCheckpoint(eager=False)  # hashed once: the prune-range
    # collect and the bucket join must see the same probe set
    prune = None
    if prune_buckets:
        bnums = [
            int(r["bucket"], 2)
            for r in probes.select("bucket").distinct().collect()
        ]  # bounded by |queries| × (1 + planes) — never index-sized
        if bnums:
            # one degenerate range PER probed bucket (not one [min, max]
            # envelope): a scattered probe set over a bnum-clustered
            # table skips every file strictly between two probed keys
            prune = ("bnum", [(b, b) for b in sorted(set(bnums))])
    base = read_snapshot(spark, table, version=snap.version, prune=prune)
    cos = F.when(
        F.col("qn") * F.col("vn") != 0,
        F.round(dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        base.join(F.broadcast(probes), ["bucket"])
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def _nearest_centroids(
    df: DataFrame,
    cent: DataFrame,
    id_out: str,
    vec_alias: str,
    keep: int,
    rank_col: str = "__r",
) -> DataFrame:
    """Rank the *broadcast* centroid set ``cent`` — (cid, ce, cn) with the
    norm precomputed — against every row of ``df`` and keep each row's
    ``keep`` nearest by (cosine desc, cid asc): the shared coarse-quantizer
    assignment step of :func:`ivf_topk` and :func:`semantic_purge`.  One
    linear scan of ``df``; the vector side is never shuffled.

    ``keep=1`` (assignment — the |corpus|-sided call) is a ``max_by``
    hash AGGREGATION, not a window: partial aggregation reduces each map
    task to one row per id BEFORE the exchange, so |df| rows cross the
    shuffle instead of |df| × |centroids| sort-buffered wide rows — at
    an IVF-realistic centroid count (10⁴-10⁵) the window form moves four
    orders of magnitude more data.  The ordering struct (cosine, −cid)
    reproduces the window's (cosine desc-nulls-last, cid asc) exactly:
    struct comparison treats NULL as smallest, so any real cosine beats
    a zero-norm row's NULL, and the negated cid breaks ties toward the
    smallest id — value parity is pinned by every oracle-backed
    assignment entry (ivf / semantic families) and the keep=1-vs-window
    equality test.  The output omits the window branch's transient
    centroid/score columns; no keep=1 caller reads them.  ``keep>1``
    (the |queries|-sided probe) stays a window — multi-row top-k needs
    the rank."""
    # per-side norms precomputed; only the dot runs per pair
    norm_col = "__n_" + vec_alias
    df = df.withColumn(norm_col, F.sqrt(norm2_expr(vec_alias)))
    cos = F.when(
        F.col(norm_col) * F.col("cn") != 0,
        F.round(
            dot_expr(vec_alias, "ce") / (F.col(norm_col) * F.col("cn")),
            6,
        ),
    ).alias("__ccos")
    if keep == 1:
        payload = [c for c in df.columns if c != id_out]
        picked = (
            df.join(F.broadcast(cent))
            .withColumn("__ccos", cos)
            .groupBy(id_out)
            .agg(
                F.max_by(
                    F.struct(
                        *[F.col(c) for c in payload], F.col("cid")
                    ),
                    F.struct(
                        F.col("__ccos").alias("__c"),
                        (-F.col("cid")).alias("__nc"),
                    ),
                ).alias("__best")
            )
        )
        return picked.select(id_out, "__best.*")
    w = Window.partitionBy(id_out).orderBy(F.desc("__ccos"), F.asc("cid"))
    return (
        df.join(F.broadcast(cent))
        .withColumn("__ccos", cos)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= keep)
    )


def semantic_purge(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    cosine_threshold: float = 0.9,
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup-style, Abbas et al. 2023,
    arXiv:2303.09540 — cluster-then-dedup): coarse-cluster the embedding
    space, compare pairs only WITHIN a cluster, and drop every document
    that has a smaller-id cluster-mate with cosine ≥ ``cosine_threshold``
    (min-id survivor, same greedy-by-id rule as the LSH dedup family).
    Complements :func:`embedding_near_dup_pairs`: hyperplane sign-buckets
    catch near-IDENTICAL vectors (all planes must agree), while cluster
    membership under a trained quantizer groups semantically-similar
    documents whose vectors differ on some hyperplane — the curation use
    case where templated/paraphrased content wastes training compute.

    Returns the full labeling (``id_col``, cid, dup_of, keep) rather than
    only survivors: dup_of = the smallest cluster-mate id above threshold
    (NULL for kept rows), so lineage is observable and the purge is
    ``filter(keep)`` away.  The dup relation is PAIRWISE, not transitively
    closed across clusters — by construction every drop names a smaller
    surviving-or-dropped id in the SAME cluster, which is SemDeDup's
    ε-dedup semantics (cross-cluster duplicates are out of scope; that is
    the recall/cost trade the clustering buys).

    Determinism/oracle: ``centroid_filter`` picks seed vectors as the
    coarse quantizer exactly like :func:`ivf_topk`, so a DuckDB oracle
    replays assignment + purge bit-for-bit; pass ``centroids`` — (cid,
    ce), e.g. :func:`kmeans_centroid_arrays` — for a trained quantizer
    (assignment dataflow identical, oracle then rows-only).

    Scale: assignment is one linear scan against the *broadcast* centroid
    set (never shuffles the vector table); the pair step shuffles once on
    cid and is bounded per cluster.  A trained quantizer keeps clusters
    ~|corpus|/k, but EXACTLY the corpus this operator targets piles
    boilerplate into one semantic cluster — at 100 TB always set
    ``max_cluster_size`` (the shared ``_cap_buckets`` guard, keyed on
    cid); oversized clusters are skipped whole and accountable via
    :func:`semantic_purge_skipped_clusters`, their members all keeping
    ``keep=true`` rather than silently vanishing.
    """
    from airflow_crypto_btc_spark.operators.dedup import _cap_buckets

    if centroids is None:
        centroids = vectors.filter(centroid_filter).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
        )
    cent = centroids.withColumn("cn", F.sqrt(norm2_expr("ce")))
    assigned = (
        _nearest_centroids(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("e")
            ),
            cent,
            "id",
            "e",
            keep=1,
        )
        .select("id", "e", F.col("__n_e").alias("vn"), "cid")
        .localCheckpoint(eager=False)
    )  # assignment runs once, not once per self-join side
    paired = assigned
    if max_cluster_size is not None:
        paired = _cap_buckets(paired, max_cluster_size, keys=("cid",))
    a = paired.select(
        F.col("id").alias("id_dup"),
        F.col("e").alias("ea"),
        F.col("vn").alias("na"),
        "cid",
    )
    b = paired.select(
        F.col("id").alias("id_src"),
        F.col("e").alias("eb"),
        F.col("vn").alias("nb"),
        "cid",
    )
    cos = F.when(
        F.col("na") * F.col("nb") != 0,
        F.round(dot_expr("ea", "eb") / (F.col("na") * F.col("nb")), 6),
    )
    dups = (
        a.join(b, ["cid"])
        .filter(F.col("id_src") < F.col("id_dup"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= cosine_threshold)
        .groupBy("id_dup")
        .agg(F.min("id_src").alias("dup_of"))
    )
    return assigned.join(
        dups, assigned.id == dups.id_dup, "left"
    ).select(
        F.col("id").alias(id_col),
        "cid",
        "dup_of",
        F.col("dup_of").isNull().alias("keep"),
    )


def semantic_purge_skipped_clusters(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    centroids: DataFrame | None = None,
    max_cluster_size: int = 1000,
) -> DataFrame:
    """Accounting side of :func:`semantic_purge`'s cluster cap: the (cid,
    cluster_size) clusters a capped pass skips — run alongside so the
    un-deduped mass is observable, not silent (the twin of
    ``dedup.minhash_lsh_skipped_buckets``)."""
    if centroids is None:
        centroids = vectors.filter(centroid_filter).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
        )
    cent = centroids.withColumn("cn", F.sqrt(norm2_expr("ce")))
    return (
        _nearest_centroids(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("e")
            ),
            cent,
            "id",
            "e",
            keep=1,
        )
        .groupBy("cid")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > max_cluster_size)
    )


def build_semantic_index(
    spark,
    vectors: DataFrame,
    centroids_table: str,
    members_table: str,
    source_version: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    centroids: DataFrame | None = None,
    quantizer: str | None = None,
) -> None:
    """Persist the semantic-dedup index — the offline half of
    SemDeDup-at-ingest: the FROZEN coarse quantizer (cid, ce) in
    ``centroids_table`` and the assigned corpus (id, e, vn, cid) in
    ``members_table``, both recording ``source_version`` (and a
    ``quantizer`` tag) in commit metadata so
    :func:`semantic_purge_from_tables` can refuse stale / mixed-version
    probes before reading a data file — the same freshness contract as
    ``dedup.build_minhash_index``.

    The commit metadata also records ``max_id``, the largest indexed id:
    the incremental decomposition (see :func:`semantic_purge_delta`)
    is exact only when every delta id is LARGER than every indexed id
    (append-only id growth — dup_of references smaller ids only, so new
    arrivals can never change an old document's labeling), and the probe
    asserts that from the metadata plus one delta-sized aggregation.

    Rebuild is an OVERWRITE commit (append would leave two generations
    live behind a passing version check).  Build-time SKEW AUDIT
    mirroring :func:`build_ann_index`: per-cluster counts are censused
    into one driver row, recorded as ``cluster_stats``, and a warning
    fires when the hottest cluster holds >20% of the corpus — degenerate
    boilerplate piles into ONE semantic cluster, and every later delta
    landing there scans O(index) mates; the fixes (more centroids, or
    ``max_cluster_size`` on the probe) are named in the warning."""
    import warnings

    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    skew_warn_fraction = 0.2
    if centroids is None:
        if quantizer is None:
            quantizer = f"seed:{centroid_filter}"
        centroids = vectors.filter(centroid_filter).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
        )
    elif quantizer is None:
        raise ValueError(
            "trained centroids need an explicit quantizer version tag — "
            "the probe must be able to tell WHICH model assigned the "
            "stored members"
        )
    cent = centroids.withColumn("cn", F.sqrt(norm2_expr("ce")))
    members = (
        _nearest_centroids(
            vectors.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("e")
            ),
            cent,
            "id",
            "e",
            keep=1,
        )
        .select("id", "e", F.col("__n_e").alias("vn"), "cid")
        .localCheckpoint(eager=False)
    )  # assignment once: census and commit share the materialization
    census = (
        members.groupBy("cid")
        .agg(F.count("*").alias("n"), F.max("id").alias("mx"))
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.count("*").alias("nonempty"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_n"),
            F.max_by("cid", F.struct(F.col("n"), F.col("cid"))).alias(
                "hot"
            ),
            F.max("mx").alias("max_id"),
        )
        .collect()[0]  # ONE driver row regardless of k/corpus
    )
    total, hot_n = int(census["total"]), int(census["max_n"])
    stats = {
        "total_rows": total,
        "nonempty_clusters": int(census["nonempty"]),
        "max_cluster": hot_n,
        "hot_cluster": None if census["hot"] is None
        else int(census["hot"]),
    }
    if total and hot_n > skew_warn_fraction * total:
        warnings.warn(
            f"semantic index skew: cluster {census['hot']} holds "
            f"{hot_n}/{total} rows "
            f"({hot_n / total:.0%} > {skew_warn_fraction:.0%}) — every "
            f"delta landing there scans O(index) mates; consider more "
            f"centroids (finer clusters) and cap probes with "
            f"max_cluster_size",
            stacklevel=2,
        )
    meta = {
        "source_version": source_version,
        "quantizer": quantizer,
        "max_id": None if census["max_id"] is None
        else int(census["max_id"]),
        "cluster_stats": stats,
    }
    overwrite(spark, cent.select("cid", "ce"), centroids_table, meta=meta)
    overwrite(spark, members, members_table, meta=meta)


def semantic_purge_delta(
    centroids: DataFrame,
    members: DataFrame | None,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    max_cluster_size: int | None = None,
    delta_assigned: DataFrame | None = None,
) -> DataFrame:
    """Label ONLY the delta against an existing semantic index — the
    online half of SemDeDup-at-ingest.  With a frozen quantizer and
    append-only ids (every delta id larger than every indexed id),

        labeling(corpus) = labeling(old) ∪ semantic_purge_delta(index, Δ)

    EXACTLY: dup_of references smaller ids only, so old labels cannot
    change, and a delta doc's dup_of is the min over its above-threshold
    cluster-mates among stored members ∪ smaller-id delta arrivals.
    Per-increment cost is |Δ| × cluster, never |corpus|² — the delta is
    the probe side of the cid join, so clusters without delta rows
    contribute nothing.

    ``centroids`` = (cid, ce), ``members`` = (id, e, vn, cid) — the
    frames :func:`build_semantic_index` persisted; ``delta`` = new rows
    in corpus shape (``id_col``, ``vec_col``).  Returns (id_col, cid,
    dup_of, keep) for DELTA rows only.

    ``max_cluster_size`` caps the STORED-member side per cluster (the
    shared ``_cap_buckets`` guard); the delta side is bounded by |Δ|
    already.  As with the capped text sibling, a capped incremental run
    is union-of-per-run semantics, not equal to a one-shot capped run —
    the exact identity above requires the cap off.

    ``delta_assigned``: a precomputed (id, e, vn, cid) assignment of the
    delta (same quantizer!) — :func:`semantic_purge_from_tables` passes
    the one it already materialized for file-level cluster pruning, so
    the |Δ|×k assignment runs once, not twice."""
    from airflow_crypto_btc_spark.operators.dedup import _cap_buckets

    if delta_assigned is None:
        cent = centroids.withColumn("cn", F.sqrt(norm2_expr("ce")))
        delta_assigned = (
            _nearest_centroids(
                delta.select(
                    F.col(id_col).alias("id"), F.col(vec_col).alias("e")
                ),
                cent,
                "id",
                "e",
                keep=1,
            )
            .select("id", "e", F.col("__n_e").alias("vn"), "cid")
            .localCheckpoint(eager=False)
        )  # probe side of cid join AND the b-side union: compute once
    if members is None:  # empty index (a stream's first batch): the
        mates = None     # b-side is the delta itself
    else:
        # Prune the index to the delta's TOUCHED CLUSTERS before the
        # pair join, via an explicitly-broadcast semi-join: the cid
        # list is bounded by the quantizer size (broadcast-safe by the
        # same argument the centroids are), and the checkpointed delta
        # leaf carries no stats, so without the hint the planner would
        # sort-merge the pair join and shuffle the ENTIRE index per
        # probe — the exact failure the streaming ANN sink's broadcast
        # hint guards against.  After the map-side semi-join,
        # untouched clusters never leave the scan.
        touched = delta_assigned.select("cid").distinct()
        mates = members.select("id", "e", "vn", "cid").join(
            F.broadcast(touched), ["cid"], "left_semi"
        )
        if max_cluster_size is not None:
            mates = _cap_buckets(mates, max_cluster_size, keys=("cid",))
    b = (
        delta_assigned if mates is None
        else mates.unionByName(delta_assigned)
    ).select(
        F.col("id").alias("id_src"),
        F.col("e").alias("eb"),
        F.col("vn").alias("nb"),
        "cid",
    )
    a = delta_assigned.select(
        F.col("id").alias("id_dup"),
        F.col("e").alias("ea"),
        F.col("vn").alias("na"),
        "cid",
    )
    cos = F.when(
        F.col("na") * F.col("nb") != 0,
        F.round(dot_expr("ea", "eb") / (F.col("na") * F.col("nb")), 6),
    )
    dups = (
        a.join(b, ["cid"])
        .filter(F.col("id_src") < F.col("id_dup"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= cosine_threshold)
        .groupBy("id_dup")
        .agg(F.min("id_src").alias("dup_of"))
    )
    return delta_assigned.join(
        dups, delta_assigned.id == dups.id_dup, "left"
    ).select(
        F.col("id").alias(id_col),
        "cid",
        "dup_of",
        F.col("dup_of").isNull().alias("keep"),
    )


def _pin_semantic_index(
    centroids_table: str,
    members_table: str,
    expect_source: str | None,
):
    """The pin of the semantic-index table consumers
    (:func:`semantic_purge_from_tables`, :func:`ivf_topk_from_tables`):
    the two tables must agree on ``source_version`` and ``quantizer``
    (members assigned by one model probed against another's centroids
    would silently mis-cluster).  Returns (centroids, members)
    snapshots."""
    from airflow_crypto_btc_spark.sources.snapshot_table import pin

    return pin(
        "semantic index", centroids_table, members_table,
        expect_source=expect_source, agree=("source_version", "quantizer"),
    )


def ivf_topk_from_tables(
    spark,
    centroids_table: str,
    members_table: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 10,
    expect_source: str | None = None,
    prune_lists: bool = True,
) -> DataFrame:
    """Serve IVF top-k from the PERSISTED semantic index — the members
    table (id, e, vn, cid) IS an inverted-file layout (one list per
    coarse cell), so the same artifact :func:`build_semantic_index`
    maintains for dedup doubles as the IVF serving index: queries rank
    the stored (broadcast) centroids, keep the ``n_probe`` nearest
    lists, and exact cosine runs only against those lists' members —
    the corpus is never re-assigned at query time.  Output and
    semantics are exactly :func:`ivf_topk` with the same centroid set
    (shared assignment helper, same 6-dp rounding and tie-breaks), so
    the in-plan entry's oracle checks this path verbatim.

    ``prune_lists`` makes IVF's whole point PHYSICAL: the probed cid
    set (driver-bounded — ≤ |queries| × n_probe distinct values, and
    queries are bounded by the family convention) collapses to a [lo,
    hi] range passed to the snapshot read's log-level file skipping,
    so after the members table is compacted with
    ``snapshot_table.compact(cluster_by=["cid"])`` a probe OPENS only
    the files whose cid range it touches instead of scanning every
    list and filtering in the join.  The range is a superset of the
    probed set (correctness never depends on it — the cid join still
    filters exactly); scattered probes prune less, which is honest
    range-stats behavior.  The index is pinned (README, "Frozen
    inputs")."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_parts,
        read_snapshot,
    )

    c_snap, m_snap = _pin_semantic_index(
        centroids_table, members_table, expect_source
    )
    cent = read_parts(
        spark, centroids_table, c_snap.files, c_snap
    ).withColumn(
        "cn", F.sqrt(norm2_expr("ce"))
    )
    probed = _nearest_centroids(
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
        ),
        cent,
        "qid",
        "qe",
        keep=n_probe,
    ).select(
        "qid", "qe", F.col("__n_qe").alias("qn"), "cid"
    ).localCheckpoint(eager=False)  # ranked once: the cid collect and
    # the pair join must see the same probe set
    prune = None
    if prune_lists:
        cids = [
            r["cid"]
            for r in probed.select("cid").distinct().collect()
        ]  # bounded by |queries| × n_probe — never corpus-sized
        if not cids:
            prune = None  # empty query set: the join returns nothing
        else:
            # per-cid degenerate ranges: a scattered probe set over a
            # cid-clustered members table skips files between probed
            # lists, not just outside the [min, max] envelope
            prune = ("cid", [(c, c) for c in sorted(set(cids))])
    members = read_snapshot(
        spark, members_table, version=m_snap.version, prune=prune
    ).select(
        F.col("id").alias("nid"),
        F.col("e").alias("ve"),
        "vn",
        "cid",
    )
    cos = F.when(
        F.col("qn") * F.col("vn") != 0,
        F.round(dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        members.join(F.broadcast(probed), ["cid"])
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def semantic_purge_from_tables(
    spark,
    centroids_table: str,
    members_table: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    max_cluster_size: int | None = None,
    expect_source: str | None = None,
    prune_clusters: bool = True,
) -> DataFrame:
    """Table-path front end of :func:`semantic_purge_delta` over the
    pinned index (README, "Frozen inputs"), plus the MONOTONICITY check
    the exactness argument needs: the delta's smallest id must exceed
    the recorded ``max_id`` (one delta-sized aggregation vs one
    metadata scalar) — interleaved ids would invalidate already-emitted
    old labelings, so they are refused, not absorbed.

    ``prune_clusters``: file-level data skipping to match the plan-level
    semi-join — the delta's assignment is materialized ONCE, its touched
    cid list (bounded by min(|Δ|, quantizer size) — driver-safe by the
    same argument that makes the centroid set broadcast-safe) collected,
    and the members table read with one degenerate [cid, cid] prune
    range per touched cluster: on a cid-clustered index, untouched
    clusters' FILES are never opened, not just filtered map-side.
    Answer-invariant — pruning keeps a superset of the rows the
    semi-join keeps."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_parts,
        read_snapshot,
    )

    c_snap, m_snap = _pin_semantic_index(
        centroids_table, members_table, expect_source
    )
    max_id = m_snap.meta.get("max_id")
    if max_id is not None:
        lo = delta.agg(F.min(id_col).alias("lo")).collect()[0]["lo"]
        if lo is not None and lo <= max_id:
            raise ValueError(
                f"delta id {lo} <= indexed max_id {max_id}: the "
                "append-only decomposition requires strictly growing "
                "ids — interleaved arrivals would change already-"
                "emitted labelings; rebuild the index over the full "
                "corpus instead"
            )
    cent_df = read_parts(spark, centroids_table, c_snap.files, c_snap)
    delta_assigned = None
    prune = None
    if prune_clusters:
        cent = cent_df.withColumn("cn", F.sqrt(norm2_expr("ce")))
        delta_assigned = (
            _nearest_centroids(
                delta.select(
                    F.col(id_col).alias("id"), F.col(vec_col).alias("e")
                ),
                cent,
                "id",
                "e",
                keep=1,
            )
            .select("id", "e", F.col("__n_e").alias("vn"), "cid")
            .localCheckpoint(eager=True)
        )  # eager: the cid collect below and the pair join share it
        cids = sorted(
            r["cid"]
            for r in delta_assigned.select("cid").distinct().collect()
        )
        prune = ("cid", [(c, c) for c in cids])
    return semantic_purge_delta(
        cent_df,
        read_snapshot(
            spark, members_table, version=m_snap.version, prune=prune
        ),
        delta,
        id_col,
        vec_col,
        cosine_threshold,
        max_cluster_size,
        delta_assigned=delta_assigned,
    )


def ivf_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    query_filter: str = "vec_id < 20",
    n_probe: int = 4,
    k: int = 10,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k — the index-shaped scale path.

    Structure of a real IVF index, with a deterministic twist so the DuckDB
    oracle can replay it exactly:

    1. **Coarse quantizer**: ``centroid_filter`` picks seed vectors as
       centroids (a k-means training job would produce these offline; the
       assignment/probe dataflow is identical either way).
    2. **Assignment**: every vector joins the *broadcast* centroid set and
       keeps its nearest centroid (cosine, 6-decimal round, centroid-id
       tie-break) — one linear scan, no shuffle of the vector table.
    3. **Probe**: each query ranks the same broadcast centroids and keeps
       the ``n_probe`` nearest inverted lists.
    4. **Search**: exact cosine only against vectors whose assigned
       centroid is probed — the search join is on ``cid``, so at scale the
       vector table can be *partitioned by cid* and each probe touches
       n_probe/|C| of the data instead of all of it.

    Returns (qid, nid, cosine, rnk) like :func:`cosine_topk`; recall < 1 by
    construction (that is the speed trade).

    Pass ``centroids`` — ``(cid, ce array<double>)``, e.g. from
    :func:`kmeans_centroid_arrays` — to search a *trained* coarse
    quantizer; otherwise ``centroid_filter`` picks seed vectors.
    """
    # cent broadcasts into BOTH _nearest calls (assignment + probe), so
    # its subplan executes once per broadcast build.  For a TRAINED
    # quantizer that re-runs the final Lloyd assign→mean chain — cut
    # the lineage once (cent is |C| rows).  For the seed-filter path
    # the subplan is a trivial scan+filter: re-evaluating it is cheaper
    # than the two extra barrier jobs a checkpoint costs (measured both
    # ways at sf0.1, r14 opt).
    if centroids is None:
        cent = vectors.filter(centroid_filter).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
        ).withColumn("cn", F.sqrt(norm2_expr("ce")))
    else:
        cent = centroids.withColumn(
            "cn", F.sqrt(norm2_expr("ce"))
        ).localCheckpoint(eager=False)

    def _nearest(df, id_out, vec_alias, keep, rank_col="__r"):
        return _nearest_centroids(
            df, cent, id_out, vec_alias, keep, rank_col
        )

    assigned = _nearest(
        vectors.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
        ),
        "nid",
        "ve",
        keep=1,
    ).select("nid", "ve", F.col("__n_ve").alias("vn"), "cid")

    probed = _nearest(
        vectors.filter(query_filter).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
        ),
        "qid",
        "qe",
        keep=n_probe,
    ).select("qid", "qe", F.col("__n_qe").alias("qn"), "cid")

    cos = F.when(
        F.col("qn") * F.col("vn") != 0,
        F.round(dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        assigned.join(F.broadcast(probed), ["cid"])
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def kmeans_train(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_filter: str = "vec_id % 25 = 7",
    iterations: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means over spherical (cosine) distance — the
    trainer that produces IVF coarse-quantizer centroids (the
    assignment/probe dataflow in :func:`ivf_topk` consumes them).

    Per iteration:

    1. **Assign** — every vector joins the *broadcast* centroid set and
       keeps its nearest centroid by cosine (6-decimal round, centroid-id
       tie-break).  Expressed as a partial-aggregatable
       ``groupBy(nid).agg(max_by(cid, (cosine, -cid)))`` so the pair table
       is reduced map-side: the shuffle carries one row per vector, never
       the |v|·|c| pair blow-up — at 100 TB the assignment cost is one
       linear scan plus a vector-count-sized shuffle.
    2. **Update** — new centroid = element-wise mean of assigned members:
       ``posexplode`` → per ``(cid, dim)`` decimal sum (associative —
       shuffle order cannot change it) / member count, rounded to 6
       decimals so the next iteration's cosines are cross-engine
       deterministic.

    Determinism contract (DuckDB oracle replays the whole training run):
    seeds are picked by ``seed_filter``; all sums are decimal; every
    centroid component and cosine is rounded to 6 before comparison; a
    zero-norm vector gets sentinel cosine -2.0 (< any real cosine) instead
    of an ANSI divide-by-zero.

    Returns the LAST iteration's update in exploded form
    ``(cid, pos, val, n_members)`` — ``pos`` 1-based to match SQL list
    indexing; empty clusters simply vanish (no rows), as in classic Lloyd.
    """
    to_dbl = "transform({c}, x -> cast(x as double))"
    cent = vectors.filter(seed_filter).select(
        F.col(id_col).alias("cid"),
        F.expr(to_dbl.format(c=vec_col)).alias("ce"),
    )
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.expr(to_dbl.format(c=vec_col)).alias("ve"),
    ).withColumn("vn", F.sqrt(norm2_expr("ve"))).localCheckpoint(
        eager=False
    )  # one cast+norm pass feeds every iteration's probe AND ve re-join

    means = None
    for _ in range(iterations):
        cent = cent.withColumn("cn", F.sqrt(norm2_expr("ce")))
        cos = F.when(
            F.col("vn") * F.col("cn") != 0,
            F.round(dot_expr("ve", "ce") / (F.col("vn") * F.col("cn")), 6),
        ).otherwise(F.lit(-2.0))
        # skinny argmax (same rewrite as pq_train_codebooks): only
        # (nid, cid, cos) flows through the |v|·|c| aggregate; the
        # vector payload re-joins after the reduction to one row/vector
        assign_ids = (
            v.join(F.broadcast(cent))
            .groupBy("nid")
            .agg(
                F.max_by(
                    "cid", F.struct(cos.alias("c"), (-F.col("cid")).alias("t"))
                ).alias("cid"),
            )
        )
        assigned = v.select("nid", "ve").join(assign_ids, "nid")
        exploded = assigned.select(
            "cid", F.posexplode("ve").alias("pos0", "val")
        )
        means = exploded.groupBy(
            "cid", (F.col("pos0") + 1).cast("long").alias("pos")
        ).agg(
            F.round(
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("val"),
            F.count("*").alias("n_members"),
        )
        cent = means.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, val))), "
                "s -> s.val)"
            ).alias("ce")
        ).localCheckpoint(eager=False)
        # lineage cut per round — without it, iteration i's broadcast
        # and the final consumer re-execute every earlier iteration
    return means


def kmeans_centroid_arrays(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_filter: str = "vec_id % 25 = 7",
    iterations: int = 2,
) -> DataFrame:
    """Trained centroids re-assembled as ``(cid, ce array<double>)`` —
    the shape :func:`ivf_topk` accepts via its ``centroids`` parameter."""
    means = kmeans_train(vectors, id_col, vec_col, seed_filter, iterations)
    return means.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, val))), "
            "s -> s.val)"
        ).alias("ce")
    )


def embedding_norms(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector L2 norm + dimension (cheap scan-shaped sanity query)."""
    return vectors.select(
        F.col(id_col),
        F.expr(f"size({vec_col})").alias("dim"),
        F.round(F.sqrt(norm2_expr(vec_col)), 6).alias("l2_norm"),
    )


def int8_quantize(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale = 127/max|x|``,
    ``q_i = round(x_i · scale)`` — the 4× memory-compression step a
    100 TB-scale vector store applies before ANN serving.  Pure array
    higher-order functions (JVM-side, no UDF); a zero vector quantizes to
    null (no scale exists).  Quantized dot products are *integer* math, so
    downstream similarity is exact and engine-reproducible."""
    maxabs = F.expr(
        f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
    )
    df = vectors.withColumn("_maxabs", maxabs)
    scale = F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs"))
    df = df.withColumn("q_scale", scale)
    q = F.when(
        F.col("q_scale").isNotNull(),
        F.expr(
            f"transform({vec_col}, "
            "x -> cast(round(cast(x as double) * q_scale) as int))"
        ),
    )
    return df.withColumn("q_vec", q).drop("_maxabs")


def quantized_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    k: int = 10,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the memory-bound scale
    path.  Same plan shape as `cosine_topk` (broadcast bounded query set,
    streamed vector side, windowed top-k), but every pair evaluates an
    integer dot product over arrays a quarter the size.  Integer sums are
    associative, so the quantized cosine is bit-deterministic across
    engines (only the final double division needs rounding)."""
    # Materialization barrier: in production the int8 vectors are a STORED
    # column (quantize once at ingest); inline, the barrier keeps Catalyst
    # from re-deriving the quantization expressions into the scan filter
    # and join-side projections (measured 2× at sf0.1).  One tiny shuffle
    # of int8 arrays — a quarter of the float bytes.
    qz = (
        int8_quantize(vectors, id_col, vec_col)
        .filter(F.col("q_vec").isNotNull())
        .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
    )
    intdot = (
        "aggregate(zip_with(qe, ve, (x, y) -> cast(x as bigint) * y), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    intnorm2 = (
        "aggregate({0}, cast(0 as bigint), "
        "(acc, x) -> acc + cast(x as bigint) * x)"
    )
    q = qz.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col("q_vec").alias("qe")
    ).withColumn("qn2", F.expr(intnorm2.format("qe")))
    v = qz.select(
        F.col(id_col).alias("nid"), F.col("q_vec").alias("ve")
    ).withColumn("vn2", F.expr(intnorm2.format("ve")))
    pairs = v.join(F.broadcast(q), F.col("nid") != F.col("qid"))
    denom = F.sqrt(F.col("qn2").cast("double")) * F.sqrt(
        F.col("vn2").cast("double")
    )
    cos = F.when(denom != 0, F.round(F.expr(intdot) / denom, 6))
    w = Window.partitionBy("qid").orderBy(F.desc("q_cosine"), F.asc("nid"))
    return (
        pairs.withColumn("q_cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "q_cosine", "rnk")
    )


# ---------------------------------------------------- product quantization


def _unit_vectors(vectors, id_col, vec_col):
    """L2-normalize onto the unit sphere (zero vectors dropped): on unit
    vectors ``||a-b||² = 2 - 2cos``, so PQ's L2-trained codebooks and ADC
    tables rank by cosine — without this, unnormalized magnitudes dominate
    the subspace distances and shortlist recall collapses."""
    n2 = norm2_expr(vec_col)
    return (
        vectors.withColumn("_n2", n2)
        .filter(F.col("_n2") > 0)
        .select(
            F.col(id_col),
            F.expr(
                f"transform({vec_col}, x -> cast(x as double) / sqrt(_n2))"
            ).alias(vec_col),
        )
    )


def pq_train_codebooks(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    iterations: int = 2,
    sample_cap: int | None = None,
    corpus_rows: int | None = None,
):
    """Train product-quantization codebooks: the embedding space is split
    into ``m`` contiguous subspaces and the distributed k-means trainer
    (:func:`kmeans_train`) runs independently per subspace (seeded
    deterministically, so training is replayable).  Returns a driver-side
    ``list[m]`` of (k, sub_dim) numpy codebooks — tiny (k·d doubles) by
    construction, which is exactly why PQ scales: the model ships to
    executors as a broadcast-sized table while the data never leaves its
    partitions.

    ``sample_cap`` bounds the TRAINING set: when the corpus exceeds the
    cap, training runs on the deterministic modulus sample
    ``pmod(id, ceil(n / cap)) = 0`` (≤ ~cap rows, replayable in plain
    SQL — no RNG state) while encode/ADC still cover every vector.  This
    is the 100 TB shape: k-means quality saturates long before 50k
    samples, so the Lloyd iterations touch a fixed-size slice no matter
    how large the corpus grows, and only the single-pass encode scans
    everything.  Below the cap the sample is the whole corpus, so small-
    scale results are unchanged.

    The modulus ``n`` is the RAW corpus row count — deliberately, so it
    is derivable from table statistics (parquet footers, snapshot commit
    logs) WITHOUT a scan: pass it as ``corpus_rows`` (see
    ``sources.tables.parquet_row_count``) and the cold-train profile
    loses its only full pre-pass; omit it and a ``count()`` job runs as
    the portable fallback.  A wrong ``corpus_rows`` only shifts the
    sample size, never correctness — but it must be the value stats
    report, or a replaying oracle (which derives n the same way)
    disagrees on which rows trained.

    NOTE (behavior pin, since round 6): with the default
    ``sample_cap=50000`` in :func:`pq_topk`, corpora above 50k vectors
    train on the sample — codebooks (and thus top-k output) differ from
    a pre-round-6 full-corpus train.  Pass ``sample_cap=None`` to opt
    back into exact-old behavior at full training cost."""
    import numpy as np

    dim = len(vectors.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    unit = _unit_vectors(vectors, id_col, vec_col)
    smod = 1
    if sample_cap is not None:
        n = corpus_rows if corpus_rows is not None else vectors.count()
        smod = max(1, -(-n // sample_cap))
        if smod > 1:
            unit = unit.filter(F.expr(f"pmod({id_col}, {smod}) = 0"))
    # ALL m subspaces train in ONE tagged Lloyd chain: each vector
    # explodes into m (subspace, slice) rows and the assignment joins on
    # the subspace tag, so one pass over the corpus per iteration trains
    # every codebook — m separate chains would scan the data m times,
    # which is the difference between 1 and 8 full passes at 100 TB.
    # The per-(s, cid, pos) decimal means and 6-dp rounds are exactly the
    # per-subspace trainer's math (associative sums — grouping cannot
    # change them), so the books are bit-identical to the sequential
    # formulation the DuckDB oracle replays.
    sliced = unit.select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col(vec_col), s * sub + 1, sub).alias(
                            "ve"
                        ),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sv"),
    ).select(
        "vec_id", F.col("sv.s").alias("s"), F.col("sv.ve").alias("ve")
    ).localCheckpoint(eager=False)
    # ^ materialized once: the seed filter, every iteration's assignment
    # probe, and the per-iteration ve re-join all read this slice table
    # instead of re-exploding the corpus
    # subspace width is known at plan time → the unrolled (codegen'd)
    # dot/norm twins replace the interpreted HOF folds: bit-identical by
    # construction (left-associated adds, see functions/hashing), and
    # the assignment join's |vectors|·|centroids| cosine evaluations are
    # where training actually spends its time (measured ~4 s/iteration
    # of interpreted lambda dispatch at sf0.1 before this)
    v = sliced.withColumn("vn", F.sqrt(norm2_expr_unrolled("ve", sub)))
    # per-subspace seed rule on the SAMPLE QUOTIENT: sampled ids are the
    # multiples of smod, so seeding on pmod(id, 25) would leave most
    # subspaces with zero centroids (only residues divisible by
    # gcd(smod, 25) survive the sample) — id div smod ranges over every
    # residue class and reduces to the unsampled rule when smod = 1
    cent = sliced.filter(
        F.expr(f"pmod(vec_id div {smod}, 25) = pmod(7 + s, 25)")
    ).select("s", F.col("vec_id").alias("cid"), F.col("ve").alias("ce"))
    means = None
    for _ in range(iterations):
        cent = cent.withColumn(
            "cn", F.sqrt(norm2_expr_unrolled("ce", sub))
        )
        cos = F.when(
            F.col("vn") * F.col("cn") != 0,
            F.round(
                dot_expr_unrolled("ve", "ce", sub)
                / (F.col("vn") * F.col("cn")),
                6,
            ),
        ).otherwise(F.lit(-2.0))
        # SKINNY argmax: the |slice|·|centroids| joined stream carries
        # only (s, vec_id, cid, cos) through the aggregate — the ve
        # arrays re-join AFTER the argmax reduces to one row per
        # (s, vec_id), so subvectors never ride a wide shuffle/agg
        # buffer (previously F.first(ve) dragged every array through
        # the 1.28M-row aggregate at sf0.1)
        assign_ids = (
            v.join(F.broadcast(cent), "s")
            .groupBy("s", "vec_id")
            .agg(
                F.max_by(
                    "cid",
                    F.struct(cos.alias("c"), (-F.col("cid")).alias("t")),
                ).alias("cid"),
            )
        )
        assigned = sliced.join(assign_ids, ["s", "vec_id"])
        exploded = assigned.select(
            "s", "cid", F.posexplode("ve").alias("pos0", "val")
        )
        means = exploded.groupBy(
            "s", "cid", (F.col("pos0") + 1).cast("long").alias("pos")
        ).agg(
            F.round(
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("val"),
        )
        cent = means.groupBy("s", "cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, val))), "
                "x -> x.val)"
            ).alias("ce")
        ).localCheckpoint(eager=False)
        # cut the lineage each round: without this, iteration i's
        # broadcast AND the final collect each re-execute every earlier
        # iteration's full assign→mean chain (the classic iterative-
        # algorithm recompute blow-up — cost grows ~quadratically in
        # iterations instead of linearly)
    rows = cent.select("s", "cid", "ce").collect()
    books = []
    for s in range(m):
        sub_rows = sorted(
            ((r["cid"], r["ce"]) for r in rows if r["s"] == s)
        )
        books.append(
            np.array([ce for _, ce in sub_rows], dtype=np.float64)
        )
    return books


def pq_save_codebooks(
    spark, books, table: str, meta: dict | None = None
) -> int:
    """Persist trained codebooks to a snapshot table (rows ``(s, rnk,
    ce)``; ``rnk`` is the codeword's position in the cid-ordered book —
    the index :func:`pq_topk`'s encoder emits).  The table is the serving
    artifact of the offline-train/online-serve split: training happens
    once per corpus version, every subsequent query run loads kilobytes
    of codebook instead of re-running Lloyd iterations — the same
    persisted-index pattern as ``dedup.minhash_lsh_pairs_from_index``."""
    from airflow_crypto_btc_spark.sources import snapshot_table as st

    rows = [
        (s, r, [float(x) for x in book[r]])
        for s, book in enumerate(books)
        for r in range(book.shape[0])
    ]
    df = spark.createDataFrame(rows, "s int, rnk int, ce array<double>")
    return st.overwrite(spark, df, table, meta=meta)


def pq_load_codebooks(spark, table: str, version: int | None = None):
    """Load codebooks persisted by :func:`pq_save_codebooks` back into
    the driver-side ``list[m]`` of numpy arrays :func:`pq_topk` consumes.
    The table is codebook-sized (m·k·sub doubles), so the collect is
    model-download, not data movement; ``version`` time-travels to an
    older model like any snapshot read."""
    import numpy as np

    from airflow_crypto_btc_spark.sources import snapshot_table as st

    rows = st.read_snapshot(spark, table, version=version).collect()
    m = max(r["s"] for r in rows) + 1
    books = []
    for s in range(m):
        sub_rows = sorted((r["rnk"], r["ce"]) for r in rows if r["s"] == s)
        books.append(np.array([ce for _, ce in sub_rows], dtype=np.float64))
    return books


_PQ_OUT_SCHEMA = "qid long, nid long, cosine double, rnk integer"


def _pq_adc_tables(Q, books, m: int):
    """Per-subspace ADC lookup tables tables[s][q][j] = ||q_s - c_sj||²,
    6-dp rounded — THE shared definition for the fused and from-codes
    scorers (a rounding tweak must hit both or bit-identity breaks)."""
    sub = Q.shape[1] // m
    return [
        ((Q[:, s * sub:(s + 1) * sub][:, None, :]
          - books[s][None, :, :]) ** 2).sum(axis=2).round(6)
        for s in range(m)
    ]


def _pq_partial_cut(tables, codes, nids, qids, shortlist: int, m: int):
    """Per-batch partial shortlist frames under the (adc, nid) total
    order — shared by both scorers so batching can never change the
    global candidate set."""
    import numpy as np
    import pandas as pd

    frames = []
    for qi, qid in enumerate(qids):
        adc = np.add.reduce(
            [tables[s][qi][codes[:, s]] for s in range(m)]
        ).round(6)
        keep = min(shortlist + 1, len(adc))
        idx = np.lexsort((nids, adc))[:keep]
        frames.append(
            pd.DataFrame({"qid": qid, "nid": nids[idx], "adc": adc[idx]})
        )
    return frames


def _pq_shortlist_rerank(
    cands: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: str,
    shortlist: int,
    k: int,
) -> DataFrame:
    """Global (adc, nid) shortlist window + exact-cosine rerank — the
    common tail of pq_topk and pq_topk_from_index."""
    w_short = Window.partitionBy("qid").orderBy(
        F.asc("adc"), F.asc("nid")
    )
    shortlisted = (
        cands.filter(F.col("nid") != F.col("qid"))
        .withColumn("rs", F.row_number().over(w_short))
        .filter(F.col("rs") <= shortlist)
        .drop("rs", "adc")
    )
    v = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
    ).withColumn("vn", F.sqrt(norm2_expr("ve")))
    q = vectors.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    ).withColumn("qn", F.sqrt(norm2_expr("qe")))
    exact = (
        shortlisted.join(v, "nid")
        .join(F.broadcast(q), "qid")
        .withColumn(
            "cosine",
            F.when(
                F.col("qn") * F.col("vn") != 0,
                F.round(
                    dot_expr("qe", "ve") / (F.col("qn") * F.col("vn")), 6
                ),
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def pq_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    m: int = 8,
    shortlist: int = 150,
    k: int = 10,
    books=None,
    sample_cap: int | None = 50000,
    corpus_rows: int | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact rerank — the memory-bound ANN
    serving pattern: each vector is compressed to ``m`` codeword ids
    (here m·1 small ints ≈ 32× smaller than the float payload), queries
    scan only codes via per-subspace lookup tables (asymmetric distance
    computation), and the ADC shortlist is reranked with exact cosine on
    the float vectors so the final ranking quality is bounded by recall
    of the shortlist, not by quantization error.

    Dataflow: codebooks trained distributed → broadcast to an Arrow
    ``mapInPandas`` scorer (vectorized numpy: encode + table lookups per
    batch, partial top-``shortlist`` per query per batch) → global
    shortlist via window top-k on the tiny candidate set → exact rerank
    join against the float vectors.

    Cross-engine determinism (the DuckDB oracle replays the WHOLE
    pipeline, including training): every comparison point follows the
    kmeans 6-decimal convention — encode picks argmin of the ROUNDED
    subspace distance (codeword-id tie-break), ADC table entries are
    rounded, the per-(query, vector) ADC sum is rounded again, and both
    the per-batch partial cut and the global shortlist rank by
    ``(adc, nid)`` so batch boundaries cannot change the candidate set
    (each global top-``shortlist`` element survives its batch's cut
    under the same total order)."""
    import numpy as np
    import pandas as pd

    # offline-train/online-serve split: callers pass pre-trained ``books``
    # (from pq_load_codebooks) to skip training entirely — the serving
    # path then costs one encode+ADC scan plus a shortlist rerank, never
    # a Lloyd iteration.  Fresh training is capped to a deterministic
    # ``sample_cap``-row slice (see pq_train_codebooks).
    if books is None:
        books = pq_train_codebooks(
            vectors, id_col, vec_col, m=m, sample_cap=sample_cap,
            corpus_rows=corpus_rows,
        )
    elif len(books) != m:
        raise ValueError(f"got {len(books)} codebooks for m={m}")
    unit = _unit_vectors(vectors, id_col, vec_col)
    qrows = (
        unit.filter(query_filter)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
        .collect()
    )
    if not qrows:  # no queries (or all zero-norm): empty, not IndexError
        return vectors.sparkSession.createDataFrame([], _PQ_OUT_SCHEMA)
    qids = [r["qid"] for r in qrows]
    Q = np.array([r["qe"] for r in qrows], dtype=np.float64)
    sub = Q.shape[1] // m
    # ADC tables shared with the from-codes scorer; one (n_q, k_s) array
    # per subspace (k_s may differ — a Lloyd round can drop an
    # unassigned centroid); rounded per the 6-dp convention
    tables = _pq_adc_tables(Q, books, m)

    out_schema = "qid long, nid long, adc double"

    def score(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            # encode: nearest codeword per subspace (vectorized);
            # rounded distance, lowest-index (= lowest-cid: books are
            # cid-ordered) tie-break — replayable in SQL
            codes = np.empty((len(X), m), dtype=np.int64)
            for s in range(m):
                xs = X[:, s * sub:(s + 1) * sub]
                d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, s] = d2.round(6).argmin(axis=1)
            # ADC sum re-rounded (the oracle sums the same rounded
            # entries in arbitrary order; 6-dp absorbs associativity
            # ulps); shortlist+1 partial cut under the global (adc, nid)
            # order so batching can't drop a tied top candidate and the
            # query's own row can't displace the shortlist-th one
            yield pd.concat(
                _pq_partial_cut(
                    tables, codes, pdf[id_col].to_numpy(), qids,
                    shortlist, m,
                ),
                ignore_index=True,
            )

    # self-exclusion inside _pq_shortlist_rerank is per-pair (a query
    # may legitimately be another query's neighbor)
    cands = widen_small_input(unit.select(id_col, vec_col)).mapInPandas(
        score, out_schema
    )
    return _pq_shortlist_rerank(
        cands, vectors, id_col, vec_col, query_filter, shortlist, k
    )


def pq_encode(
    vectors: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` codeword ids against pre-trained
    codebooks — the offline half of PQ serving: run ONCE per corpus
    version, persist the (nid, codes) rows, and queries never touch the
    float corpus again except to rerank a shortlist.  Encode follows the
    engine's determinism rule (argmin of the 6-dp-ROUNDED subspace
    distance, codeword-id tie-break), so codes are replayable in SQL."""
    import numpy as np
    import pandas as pd

    m = len(books)
    unit = _unit_vectors(vectors, id_col, vec_col)

    def _enc(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            sub = X.shape[1] // m
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                xs = X[:, s * sub:(s + 1) * sub]
                d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, s] = d2.round(6).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col],
                    "codes": [c.tolist() for c in codes],
                }
            )

    return widen_small_input(unit).mapInPandas(
        _enc, schema="nid long, codes array<int>"
    )


def pq_save_index(
    spark,
    vectors: DataFrame,
    index_root: str,
    source_version: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sample_cap: int | None = 50000,
    corpus_rows: int | None = None,
) -> None:
    """Offline PQ index build: train codebooks on the deterministic
    sample, persist them (``<root>/books``) AND the full corpus's codes
    (``<root>/codes``) as version-pinned snapshot tables.  Codes are
    m·4 bytes per vector (vs dim·4 floats — 32× smaller at dim=64/m=8):
    the artifact a 100 TB serving tier actually scans.  Both tables are
    OVERWRITE commits — a rebuild replaces the previous generation."""
    import os

    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    books = pq_train_codebooks(
        vectors, id_col, vec_col, m=m, sample_cap=sample_cap,
        corpus_rows=corpus_rows,
    )
    meta = {"source_version": source_version, "m": m}
    pq_save_codebooks(
        spark, books, os.path.join(index_root, "books"), meta=meta
    )
    overwrite(
        spark,
        pq_encode(vectors, books, id_col, vec_col),
        os.path.join(index_root, "codes"),
        meta=meta,
    )


def pq_topk_from_index(
    spark,
    index_root: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    shortlist: int = 150,
    k: int = 10,
    expect_source: str | None = None,
) -> DataFrame:
    """Serve PQ-ADC top-k from a PERSISTED index (:func:`pq_save_index`):
    queries load the kilobyte codebooks, scan only the CODES table with
    vectorized table lookups (no corpus re-encode — the float vectors
    are touched solely to rerank the shortlist), and the whole pipeline
    keeps the 6-dp determinism contract, so the output is bit-identical
    to :func:`pq_topk` on the same corpus version.  Books and codes are
    pinned (README, "Frozen inputs")."""
    import os

    import numpy as np
    import pandas as pd

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    books_t = os.path.join(index_root, "books")
    codes_t = os.path.join(index_root, "codes")
    # the GENERATION keys only: maintenance commits (a takedown eviction
    # annotating the codes table) add audit keys without changing it
    b_snap, c_snap = pin(
        "PQ index", books_t, codes_t,
        expect_source=expect_source, agree=("source_version", "m"),
    )
    books = pq_load_codebooks(spark, books_t, version=b_snap.version)
    m = len(books)
    unit = _unit_vectors(vectors, id_col, vec_col)
    qrows = (
        unit.filter(query_filter)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
        .collect()
    )
    if not qrows:  # no queries (or all zero-norm): empty, not IndexError
        return spark.createDataFrame([], _PQ_OUT_SCHEMA)
    qids = [r["qid"] for r in qrows]
    Q = np.array([r["qe"] for r in qrows], dtype=np.float64)
    tables = _pq_adc_tables(Q, books, m)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            yield pd.concat(
                _pq_partial_cut(
                    tables, codes, pdf["nid"].to_numpy(), qids,
                    shortlist, m,
                ),
                ignore_index=True,
            )

    codes = read_parts(spark, codes_t, c_snap.files, c_snap)
    cands = widen_small_input(codes).mapInPandas(
        score, "qid long, nid long, adc double"
    )
    return _pq_shortlist_rerank(
        cands, vectors, id_col, vec_col, query_filter, shortlist, k
    )


def ivfpq_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    query_filter: str = "vec_id < 20",
    n_probe: int = 4,
    m: int = 4,
    shortlist: int = 100,
    k: int = 10,
    books=None,
    sample_cap: int | None = 50000,
    corpus_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ combined index — the production billion-scale ANN shape
    (Jégou, Douze & Schmid, PAMI 2011; the FAISS ``IVFPQ`` layout with
    ``by_residual=false``): a coarse quantizer restricts the search to
    ``n_probe`` inverted lists AND product-quantized codes stand in for
    the float vectors inside those lists, so a query touches
    ``n_probe/|C|`` of the corpus at ~32× compression, with an
    exact-cosine rerank of the ADC shortlist bounding the quality loss.
    The engine's IVF (:func:`ivf_topk`) and PQ (:func:`pq_topk`) each
    give one of those two savings; at 100 TB you need both at once.

    Dataflow, Spark-first and fully JVM-side at serve time:

    1. Coarse assignment/probe exactly as :func:`ivf_topk` (broadcast
       centroid set, partial-aggregated ``max_by`` assignment — vectors
       never shuffle).
    2. Codebooks via :func:`pq_train_codebooks` (or pass ``books``);
       codes via :func:`pq_encode` — at scale both persist
       (:func:`pq_save_index`) and serving never re-trains.
    3. ADC over the PROBED stream only: the per-query lookup tables are
       exploded into a broadcast (qid, s, code, d) relation — |queries|
       × m × k_s skinny rows — so scoring is a codegen'd broadcast join
       + partial-aggregated sum, NO Python stage (pq_topk's mapInPandas
       scorer earns its Arrow cost scanning the FULL corpus; the probed
       subset is |q|·n_probe/|C| of it, where the join form wins).
       Shard the query set when |queries| × m × k_s outgrows a
       broadcast.
    4. Global (adc, nid) shortlist + exact rerank — the shared
       :func:`_pq_shortlist_rerank` tail, same 6-dp determinism
       contract as the PQ family, so the DuckDB oracle replays the
       whole pipeline including training."""
    spark = vectors.sparkSession
    cent = vectors.filter(centroid_filter).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
    ).withColumn("cn", F.sqrt(norm2_expr("ce")))
    assigned = _nearest_centroids(
        vectors.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
        ),
        cent, "nid", "ve", keep=1,
    ).select("nid", "cid")
    probed = _nearest_centroids(
        vectors.filter(query_filter).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
        ),
        cent, "qid", "qe", keep=n_probe,
    ).select("qid", "cid")

    if books is None:
        books = pq_train_codebooks(
            vectors, id_col, vec_col, m=m, sample_cap=sample_cap,
            corpus_rows=corpus_rows,
        )
    elif len(books) != m:
        raise ValueError(f"got {len(books)} codebooks for m={m}")
    codes = pq_encode(vectors, books, id_col, vec_col)
    return _ivfpq_score_rerank(
        spark, vectors, codes, assigned, probed, books, m,
        id_col, vec_col, query_filter, shortlist, k,
    )


def _ivfpq_score_rerank(
    spark,
    vectors: DataFrame,
    codes: DataFrame,
    assigned: DataFrame,
    probed: DataFrame,
    books,
    m: int,
    id_col: str,
    vec_col: str,
    query_filter: str,
    shortlist: int,
    k: int,
) -> DataFrame:
    """Shared serve tail of :func:`ivfpq_topk` and
    :func:`ivfpq_topk_from_index`: broadcast-LUT ADC join over the
    probed (codes ⋈ lists) stream + the PQ family's exact rerank —
    fused and from-index serving must score identically by
    construction, not by parallel implementations."""
    import numpy as np

    unit = _unit_vectors(vectors, id_col, vec_col)
    qrows = (
        unit.filter(query_filter)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
        .collect()
    )
    if not qrows:  # no queries (or all zero-norm): empty, not IndexError
        return spark.createDataFrame([], _PQ_OUT_SCHEMA)
    qids = [r["qid"] for r in qrows]
    Q = np.array([r["qe"] for r in qrows], dtype=np.float64)
    tables = _pq_adc_tables(Q, books, m)
    lut = spark.createDataFrame(
        [
            (int(qid), s, j, float(tables[s][qi, j]))
            for qi, qid in enumerate(qids)
            for s in range(m)
            for j in range(tables[s].shape[1])
        ],
        "qid long, s int, code int, d double",
    )

    stream = codes.join(assigned, "nid").join(F.broadcast(probed), "cid")
    scored = (
        stream.select(
            "qid", "nid", F.posexplode("codes").alias("s", "code")
        )
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "nid")
        .agg(F.round(F.sum("d"), 6).alias("adc"))
    )
    return _pq_shortlist_rerank(
        scored, vectors, id_col, vec_col, query_filter, shortlist, k
    )


def ivfpq_save_index(
    spark,
    vectors: DataFrame,
    index_root: str,
    source_version: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    m: int = 4,
    sample_cap: int | None = 50000,
    corpus_rows: int | None = None,
) -> None:
    """Offline IVF-PQ index build: the PQ artifacts (``books`` +
    ``codes``, via :func:`pq_save_index`) PLUS the coarse side — the
    centroid table (``centroids``: cid, ce) and every vector's inverted-
    list assignment (``lists``: nid, cid) — all version-pinned snapshot
    tables under one root.  This is the 100 TB shape: assignment and
    encode each scan the corpus ONCE at build time; serving then touches
    only codes-in-probed-lists plus a float shortlist."""
    import os

    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    pq_save_index(
        spark, vectors, index_root, source_version, id_col, vec_col,
        m=m, sample_cap=sample_cap, corpus_rows=corpus_rows,
    )
    cent_df = vectors.filter(centroid_filter).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
    )
    cent = cent_df.withColumn("cn", F.sqrt(norm2_expr("ce")))
    assigned = _nearest_centroids(
        vectors.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
        ),
        cent, "nid", "ve", keep=1,
    ).select("nid", "cid")
    meta = {"source_version": source_version, "m": m}
    overwrite(
        spark, cent_df, os.path.join(index_root, "centroids"), meta=meta
    )
    overwrite(
        spark, assigned, os.path.join(index_root, "lists"), meta=meta
    )


def _pin_ivfpq_index(index_root: str, expect_source: str | None):
    """Pin the four tables of an :func:`ivfpq_save_index` layout
    (books, codes, centroids, lists) — they must agree on their whole
    meta, so a partial rebuild is refused.  The one agreement rule of
    the from-index serve and the arrivals sink."""
    import os

    from airflow_crypto_btc_spark.sources.snapshot_table import pin

    return pin(
        "IVF-PQ index",
        *(
            os.path.join(index_root, name)
            for name in ("books", "codes", "centroids", "lists")
        ),
        expect_source=expect_source, agree=None,
    )


def ivfpq_topk_from_index(
    spark,
    index_root: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    n_probe: int = 4,
    shortlist: int = 100,
    k: int = 10,
    expect_source: str | None = None,
) -> DataFrame:
    """Serve IVF-PQ from the PERSISTED index (:func:`ivfpq_save_index`):
    queries probe the loaded centroid table, ADC joins the persisted
    CODES restricted to the persisted LISTS, and the float corpus is
    touched only to rerank the shortlist — no re-assignment, no
    re-encode, no training.  The four artifact tables are pinned
    (README, "Frozen inputs") by :func:`_pin_ivfpq_index`.  Output is
    bit-identical to :func:`ivfpq_topk` on the same corpus version
    (shared scoring tail, same 6-dp contract)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import read_parts

    books_s, codes_s, cent_s, lists_s = _pin_ivfpq_index(
        index_root, expect_source
    )
    books = pq_load_codebooks(spark, books_s.table, version=books_s.version)
    cent = read_parts(spark, cent_s.table, cent_s.files, cent_s).withColumn(
        "cn", F.sqrt(norm2_expr("ce"))
    )
    probed = _nearest_centroids(
        vectors.filter(query_filter).select(
            F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
        ),
        cent, "qid", "qe", keep=n_probe,
    ).select("qid", "cid")
    codes = read_parts(spark, codes_s.table, codes_s.files, codes_s)
    assigned = read_parts(spark, lists_s.table, lists_s.files, lists_s)
    return _ivfpq_score_rerank(
        spark, vectors, codes, assigned, probed, books, len(books),
        id_col, vec_col, query_filter, shortlist, k,
    )


def centroid_drift_report(
    reference: DataFrame,
    arrivals: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 25 = 7",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-distribution drift monitor: per FROZEN centroid, the
    reference slice's assignment share vs an arrival slice's, with the
    signed micro-unit drift — the semantic family's re-plan alarm
    (symmetric with ``curation.shard_drift_report``: when arrivals stop
    looking like the corpus the quantizer was trained on, the fix is a
    deliberate retrain + restart, never an online centroid mutation).

    Centroids are frozen: the seed ``centroid_filter`` over the
    REFERENCE slice by default (oracle-deterministic), or pass trained
    arrays (``kmeans_centroid_arrays``) for the production shape.  Each
    side's assignment is one linear scan against the broadcast centroid
    set (``_nearest_centroids`` keep=1 — partial-aggregated, vectors
    never shuffle); everything after operates on centroid-bounded
    frames, so the totals windows are single-partition over ≤|centroids|
    rows, never the corpus.  Shares and drift are exact integer
    micro-units (half-away, the shared ``ratio_micro`` doctrine)."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    if centroids is None:
        centroids = reference.filter(centroid_filter).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("ce")
        )
    cent = centroids.withColumn("cn", F.sqrt(norm2_expr("ce")))

    def _counts(df: DataFrame, out: str) -> DataFrame:
        assigned = _nearest_centroids(
            df.select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("e")
            ),
            cent,
            "id",
            "e",
            keep=1,
        )
        return assigned.groupBy("cid").agg(
            F.count("*").cast("long").alias(out)
        )

    j = (
        _counts(reference, "ref_n")
        .join(_counts(arrivals, "arr_n"), "cid", "full_outer")
        .select(
            "cid",
            F.coalesce("ref_n", F.lit(0)).cast("long").alias("ref_n"),
            F.coalesce("arr_n", F.lit(0)).cast("long").alias("arr_n"),
        )
    )
    # centroid-bounded single-partition windows (≤|centroids| rows)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = j.withColumn("ref_tot", F.sum("ref_n").over(wall)).withColumn(
        "arr_tot", F.sum("arr_n").over(wall)
    )
    return j.select(
        "cid",
        "ref_n",
        "arr_n",
        ratio_micro("ref_n", "ref_tot").alias("ref_share"),
        ratio_micro("arr_n", "arr_tot").alias("arr_share"),
        F.expr(
            "(2 * arr_n * 1000000 + arr_tot) div (2 * arr_tot)"
            " - (2 * ref_n * 1000000 + ref_tot) div (2 * ref_tot)"
        )
        .cast("long")
        .alias("drift_micro"),
    )


def rrf_topk(
    lists: list[DataFrame], k: int = 10, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of multiple top-k retrieval lists — the standard way to combine
    ANN indexes with different blind spots (here: IVF probes clusters,
    hyperplane LSH probes sign-buckets; each finds neighbors the other
    misses, and RRF needs no score calibration between them because it
    consumes only RANKS).

    Each (qid, nid, rnk) row contributes round(10^6/(c + rnk)) in exact
    half-away integer micro-units (the ``ratio_micro`` doctrine — a
    float 1/(c+r) sum would invite cross-engine last-ulp splits at the
    ranking boundary); fused rank orders by (rrf_micro desc, nid).

    Scale: inputs are top-k lists — |queries| × k rows each — so every
    stage (union, (qid, nid) aggregation, per-qid window) is bounded by
    the query workload, never the corpus.  Returns
    (qid, nid, rrf_micro, n_lists, rnk)."""
    u = None
    for df in lists:
        part = df.select("qid", "nid", "rnk")
        u = part if u is None else u.unionByName(part)
    term = F.expr(
        f"(2 * 1000000 + ({c} + rnk)) div (2 * ({c} + rnk))"
    )
    agg = (
        u.withColumn("term", term)
        .groupBy("qid", "nid")
        .agg(
            F.sum("term").cast("long").alias("rrf_micro"),
            F.count("*").cast("long").alias("n_lists"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("rrf_micro"), F.asc("nid")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------- binary quantization


def binary_quantize(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit (1-bit) quantization: each vector collapses to
    ``ceil(dim/32)`` BIGINT words — bit j of word w set iff component
    ``w·32+j`` is strictly positive (ties to 0: a deterministic rule
    both engines share).  32-bit words, not 64: bit 63 would flip the
    BIGINT sign, and positive words keep every engine's shift/compare
    semantics trivially identical.

    This is the memory floor of the quantization ladder (float32 →
    int8 ``int8_quantize`` → 1-bit here, a 32× compression): the
    modern "binary embedding" serving shape where Hamming distance —
    xor + popcount, pure ALU — approximates angular distance
    (Charikar 2002's hyperplane argument applied to the coordinate
    basis).  Returns (id, bits array<bigint>); the row is ~8 bytes per
    32 dims, so a billion-vector corpus fits in ~8 GB per 32 dims and
    candidate generation never touches a float."""
    word = (
        "aggregate(sequence(0, 31), 0L, (acc, j) -> acc + "
        "CASE WHEN try_element_at({v}, "
        "cast(w * 32 + j + 1 as int)) > "
        "cast(0 as double) THEN shiftleft(1L, j) ELSE 0L END)"
    )
    return vectors.select(
        id_col,
        F.expr(
            f"transform(sequence(0, (size({vec_col}) + 31) div 32 - 1),"
            f" w -> {word.format(v=vec_col)})"
        ).alias("bits"),
    )


def hamming_expr(a: str, b: str) -> F.Column:
    """Hamming distance between two equal-length bit-word arrays:
    per-word xor + popcount, summed — one row-local fold."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), "
        "0, (acc, h) -> acc + h)"
    ).cast("int")


def binary_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    k: int = 10,
    oversample: int = 4,
) -> DataFrame:
    """Two-stage binary-quantized ANN: a Hamming shortlist of
    ``k·oversample`` candidates per query over the 1-bit codes, then
    an EXACT float cosine rerank of only the shortlist — the standard
    binary-embedding serve (shortlist cheap and dense-scan-shaped,
    quality restored by reranking a bounded set).

    Plan shape: codes stream (never shuffle) against the broadcast
    query codes; the shortlist window is the only exchange and carries
    |queries|·k·oversample rows; the rerank joins the BROADCAST
    shortlist back to the float vectors (a second corpus scan, no
    corpus shuffle) with the broadcast query vectors.  Ties break
    (hamming asc, nid asc) and (cosine desc, nid asc) — deterministic
    total orders, oracle-replayable end-to-end.  Returns
    (qid, nid, cosine, hamming, rnk 1..k)."""
    bq = binary_quantize(vectors, id_col, vec_col)
    qb = bq.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col("bits").alias("qbits")
    )
    shortlist_w = Window.partitionBy("qid").orderBy(
        F.asc("hamming"), F.asc("nid")
    )
    cand = (
        bq.select(F.col(id_col).alias("nid"), "bits")
        .join(F.broadcast(qb), F.col("nid") != F.col("qid"))
        .withColumn("hamming", hamming_expr("qbits", "bits"))
        .withColumn("srnk", F.row_number().over(shortlist_w))
        .filter(F.col("srnk") <= k * oversample)
        .select("qid", "nid", "hamming")
    )
    qv = vectors.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe")
    ).withColumn("qn", F.sqrt(norm2_expr("qe")))
    # shortlist is |queries|·k·oversample rows — broadcast it onto the
    # vector scan so candidate floats are FETCHED, not shuffled
    fetched = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("ve")
    ).join(F.broadcast(cand), "nid")
    cos = F.when(
        F.col("qn") * F.sqrt(norm2_expr("ve")) != 0,
        F.round(
            dot_expr("qe", "ve") / (F.col("qn") * F.sqrt(norm2_expr("ve"))),
            6,
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        fetched.join(F.broadcast(qv), "qid")
        .withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "hamming", "rnk")
    )


def _asym_score_expr(bits: str, qe: str) -> F.Column:
    """Asymmetric binary distance (the ADC idea applied to sign codes):
    the FLOAT query against the corpus's 1-bit codes — ``sum_i (bit_i ?
    +q_i : -q_i)`` = ``dot(q, sign(v))`` — a strictly better shortlist
    ranker than symmetric Hamming at identical corpus memory, because
    the query side keeps its magnitudes (Jégou et al. 2011's
    asymmetric-distance argument).  One row-local fold; 6-dp rounded
    so the shortlist boundary is engine-exact."""
    return F.round(
        F.expr(
            f"aggregate(sequence(1, size({qe})), cast(0 as double), "
            f"(acc, i) -> acc + CASE WHEN (shiftright(element_at({bits}, "
            f"cast((i - 1) div 32 + 1 as int)), (i - 1) % 32) & 1) = 1 "
            f"THEN cast(element_at({qe}, i) as double) "
            f"ELSE -cast(element_at({qe}, i) as double) END)"
        ),
        6,
    )


def binary_topk_sweep(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "vec_id < 20",
    k: int = 10,
    oversamples: tuple[int, ...] = (2, 4, 8, 16),
) -> DataFrame:
    """The binary-quantization quality/cost CURVE, measured in one
    plan: recall@k of the shortlist-then-exact-rerank serve for every
    (shortlist scorer, oversample) configuration — scorer ∈ symmetric
    Hamming (:func:`binary_topk`'s stage 1) and asymmetric
    float-query-vs-sign-codes (:func:`_asym_score_expr`) — against
    exact cosine top-k on the same queries.  This is the number that
    picks a production operating point: at the 64-dim sign-code floor
    Hamming@4 is thin (~0.54 recall) but asym@8 and Hamming@16 clear
    0.9 (measured at sf0.01), all at identical corpus memory.

    Cost model the caller reads off the curve: shortlist work per
    query is corpus-linear ALU either way (xor+popcount vs ±add);
    rerank work is ``k·oversample`` float fetches — so oversample IS
    the cost axis, and ``shortlist`` is emitted per row.

    Shared-work shape: codes build once; each scorer ranks ONCE at the
    LARGEST oversample (corpus streams against broadcast queries —
    never shuffles); the per-config subsets are srnk prefixes, so the
    sweep re-ranks bounded shortlists instead of re-scanning; exact
    cosines are computed once per DISTINCT candidate pair and joined
    back (all broadcast-sized frames).  Returns one row per
    (method, oversample): (method, oversample, shortlist, n_both,
    n_exact, recall_ann)."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    spark = vectors.sparkSession
    max_os = max(oversamples)
    bq = binary_quantize(vectors, id_col, vec_col)
    qb = bq.filter(query_filter).select(
        F.col(id_col).alias("qid"), F.col("bits").alias("qbits")
    )
    qv = (
        vectors.filter(query_filter)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
        .withColumn("qn", F.sqrt(norm2_expr("qe")))
    )
    ham_w = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc("nid"))
    ham = (
        bq.select(F.col(id_col).alias("nid"), "bits")
        .join(F.broadcast(qb), F.col("nid") != F.col("qid"))
        .withColumn("hamming", hamming_expr("qbits", "bits"))
        .withColumn("srnk", F.row_number().over(ham_w))
        .filter(F.col("srnk") <= k * max_os)
        .select(F.lit("hamming").alias("method"), "qid", "nid", "srnk")
    )
    asym_w = Window.partitionBy("qid").orderBy(
        F.desc("ascore"), F.asc("nid")
    )
    asym = (
        bq.select(F.col(id_col).alias("nid"), "bits")
        .join(
            F.broadcast(qv.select("qid", "qe")),
            F.col("nid") != F.col("qid"),
        )
        .withColumn("ascore", _asym_score_expr("bits", "qe"))
        .withColumn("srnk", F.row_number().over(asym_w))
        .filter(F.col("srnk") <= k * max_os)
        .select(F.lit("asym").alias("method"), "qid", "nid", "srnk")
    )
    cands = ham.unionByName(asym)
    # exact cosine once per DISTINCT shortlisted pair, fetched (not
    # shuffled) off the vector scan via the broadcast pair set
    pairs = cands.select("qid", "nid").distinct()
    cos = F.when(
        F.col("qn") * F.sqrt(norm2_expr("ve")) != 0,
        F.round(
            dot_expr("qe", "ve") / (F.col("qn") * F.sqrt(norm2_expr("ve"))),
            6,
        ),
    )
    cos_df = (
        vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("ve"))
        .join(F.broadcast(pairs), "nid")
        .join(F.broadcast(qv), "qid")
        .select("qid", "nid", cos.alias("cosine"))
    )
    os_df = spark.createDataFrame(
        [(int(o),) for o in oversamples], "oversample long"
    )
    rank_w = Window.partitionBy("method", "oversample", "qid").orderBy(
        F.desc("cosine"), F.asc("nid")
    )
    approx = (
        cands.crossJoin(F.broadcast(os_df))
        .filter(F.col("srnk") <= F.col("oversample") * k)
        .join(F.broadcast(cos_df), ["qid", "nid"])
        .withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= k)
        .select("method", "oversample", "qid", "nid")
    )
    exact = cosine_topk(
        vectors, id_col=id_col, vec_col=vec_col,
        query_filter=query_filter, k=k,
    ).select("qid", "nid")
    hits = (
        approx.join(F.broadcast(exact), ["qid", "nid"], "left_semi")
        .groupBy("method", "oversample")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    grid = spark.createDataFrame(
        [(m, int(o)) for m in ("asym", "hamming") for o in oversamples],
        "method string, oversample long",
    )
    return (
        grid.join(F.broadcast(hits), ["method", "oversample"], "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "method",
            "oversample",
            (F.col("oversample") * k).cast("long").alias("shortlist"),
            F.coalesce("n_both", F.lit(0).cast("long")).alias("n_both"),
            "n_exact",
        )
        .select(
            "method",
            "oversample",
            "shortlist",
            "n_both",
            "n_exact",
            F.when(
                F.col("n_exact") > 0, ratio_micro("n_both", "n_exact")
            ).alias("recall_ann"),
        )
    )
