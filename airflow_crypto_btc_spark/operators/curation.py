"""Corpus-curation operators for the training-data pipeline extension:
TF-IDF term weighting, train/eval contamination detection, and
token-budget sequence packing.

No counterpart in the reference (its text surface is empty — SURVEY §2.8
covers time/casts only); these are the operations a 100 TB pretraining
corpus pipeline runs between dedup and tokenizer sharding.

Scale design:
- **TF-IDF** shuffles once on (doc, token) for term frequencies; the
  document-frequency table is vocabulary-sized (Zipf-bounded, partial
  aggregation collapses the head) and broadcasts back onto the term rows.
- **Contamination** broadcasts the *eval-side* shingle set (eval
  benchmarks are KB-MB even when the train side is 100 TB) as a semi-join
  prune before any wide shuffle — the train corpus is never exploded into
  a shuffle except for the matched shingles.
- **Packing** is one hash-shard shuffle + one in-shard window cumsum;
  bins are a pure function of (shard, doc order), so re-runs and
  repartitions produce identical packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    ratio_micro,
    shingles_expr,
    tokens_expr,
)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    ``idf = round(ln((N + 1) / (df + 1)), 6)`` (smoothed); the round-6 on
    idf and again on the product keeps Spark's and DuckDB's last-ulp
    ``ln`` differences out of the comparison (see the registry's
    determinism rules).  Ties rank deterministically by token text.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_counts = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf",
            F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6),
        )
        .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, F.col("rnk").cast("long").alias("rnk"), "token",
                "tf", "tfidf")
    )


def eval_shingles(
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """The eval side of the contamination check as a standalone frame —
    ``(t_id, sh)`` distinct md5'd shingles.  Compute (and materialize)
    this ONCE when the same eval set is checked repeatedly — e.g. per
    micro-batch in the streaming guard — instead of re-shingling the
    static side on every call."""
    return _contamination_shingled(
        test.withColumn("_tk_t", tokens_expr(text_col)),
        "t", id_col, shingle_k,
    )


def _contamination_shingled(
    df: DataFrame, prefix: str, id_col: str, shingle_k: int
) -> DataFrame:
    return (
        df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.explode(
                F.array_distinct(
                    shingles_expr(f"_tk_{prefix}", k=shingle_k)
                )
            ).alias("shingle"),
        )
        .withColumn("sh", F.md5("shingle"))
        .drop("shingle")
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    min_containment: float = 0.1,
    test_sh: DataFrame | None = None,
) -> DataFrame:
    """Train→eval contamination: pairs of (test doc, train doc) sharing
    ≥ ``min_containment`` of the test doc's distinct ``shingle_k``-token
    shingles.

    The decontamination pattern for corpus-scale inputs: shingle both
    sides, then BROADCAST the eval side's shingles into a semi-prune of
    the train side's — only train shingles that actually hit an eval
    shingle enter the pairing shuffle.  Containment (overlap / test size),
    not symmetric Jaccard: a tiny eval doc fully embedded in a huge train
    doc is 100% contaminated however large the train doc is.

    Pass either ``test`` (raw eval documents) or ``test_sh`` (the
    prebuilt :func:`eval_shingles` frame, for repeated checks against
    the same eval set).
    """
    if test_sh is None:
        if test is None:
            raise ValueError("pass either test or test_sh")
        test_sh = eval_shingles(test, id_col, text_col, shingle_k)
    train_sh = _contamination_shingled(
        train.withColumn("_tk_tr", tokens_expr(text_col)),
        "tr", id_col, shingle_k,
    )
    test_sizes = test_sh.groupBy("t_id").agg(
        F.count("*").cast("long").alias("test_shingles")
    )
    hits = train_sh.join(F.broadcast(test_sh), "sh")
    return (
        hits.groupBy("t_id", "tr_id")
        .agg(F.count("*").cast("long").alias("overlap"))
        .join(F.broadcast(test_sizes), "t_id")
        .withColumn(
            # exact micro-unit ratio: containment feeds the
            # min_containment FILTER, the amplifying consumer —
            # see functions.hashing.ratio_micro
            "containment",
            ratio_micro("overlap", "test_shingles"),
        )
        .filter(F.col("containment") >= min_containment)
        .select(
            F.col("t_id").alias("test_doc_id"),
            F.col("tr_id").alias("train_doc_id"),
            "overlap",
            "containment",
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "source",
    n_per_stratum: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size per-stratum sample: rank documents inside
    each stratum by ``md5(id)`` (a uniform, content-independent order) and
    keep the first ``n_per_stratum``.

    The hash ranking gives reservoir-sampling statistics with none of its
    nondeterminism: the sample is a pure function of the ids, identical
    across engines, runs, and repartitions, and STABLE under corpus growth
    in the prefix sense (a doc already sampled stays sampled unless a new
    doc hash-ranks above it).  One shuffle on the stratum key; skewed
    strata cost one window pass over their own rows only.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(
            id_col,
            strata_col,
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 128,
    stride: int = 96,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token windows (size ``window``,
    step ``stride`` — consecutive chunks share ``window - stride``
    tokens), the context-window chunking step between curation and
    tokenizer sharding.

    Pure per-row array expressions + one ``posexplode`` — no UDF, no
    shuffle: each document's chunks are produced where the row lives, so
    the operator is embarrassingly parallel at any corpus size and the
    output inherits the input's partitioning.  Empty documents produce no
    chunks; the last chunk of a document may be shorter than ``window``.
    """
    toks = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("tokens")
    ).filter(F.size("tokens") > 0)
    starts = F.expr(
        f"filter(sequence(0, size(tokens) - 1), x -> x % {stride} = 0)"
    )
    exploded = toks.select(
        id_col,
        "tokens",
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    chunk = F.expr(f"slice(tokens, start + 1, {window})")
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 512,
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget sequence packing: assign documents to fixed-budget
    training bins.

    Documents hash deterministically into ``shards`` independent streams;
    within a shard (ordered by id) each doc starts at its exclusive token
    cumsum and bins are ``cum_tokens div budget`` — contiguous packing
    where a doc straddling a boundary overflows its bin (training
    pipelines split or truncate at the tokenizer; bin assignment only
    needs to be deterministic and balanced).  Pure integer arithmetic —
    exact in any engine; parallelism = #shards regardless of corpus size,
    and adding documents never repacks earlier shards' prefixes.
    """
    with_n = docs.select(
        F.col(id_col),
        F.expr(
            "cast(conv(substr(md5(cast(doc_id as string)),1,8),16,10) "
            f"as bigint) % {shards}"
        ).alias("shard"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_n.withColumn(
            "cum_excl", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("bin", F.expr(f"cum_excl div {budget}"))
        .withColumn("bin_offset", F.expr(f"cum_excl % {budget}"))
        .select(id_col, "shard", "n_tokens", "bin", "bin_offset")
    )


def domain_quota(
    docs: DataFrame,
    cap: int = 10,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap — the C4/RefinedWeb-style quota that stops
    a handful of giant domains from dominating a web-scale corpus: keep at
    most ``cap`` documents per ``domain_col`` (first by ``id_col``, the
    deterministic arrival order), with the domain's total riding along as
    evidence (``n_domain_docs``) so the gate decision is auditable.

    Scale design — the naive rendition is one global window
    (``row_number() over (partition by domain order by id)``), which
    shuffles and SORTS the entire corpus even though the overwhelming
    majority of web domains sit far under any sane cap.  Instead:

    1. one map-side-combined ``groupBy(domain).count()`` census (output
       is #domains rows, a broadcastable frame at any corpus size);
    2. documents of under-cap domains pass through wholesale via a
       broadcast join on the census — never shuffled, never sorted;
    3. only over-cap domains' rows take the ranked top-``cap`` window —
       at web scale that is the head of the domain distribution, a small
       fraction of rows, and a domain's cost is one pass over its own
       rows.  (A pathological single-domain corpus degrades to the naive
       plan, no worse.)

    Both branches emit the same schema and the union is exactly the
    naive window's answer — the split is a physical optimization only.

    NULL domains: grouped as ONE domain (matching the window twin's
    null partition), not silently dropped by inner-join null semantics
    — missing domain metadata must not exempt documents from the cap,
    and a quota gate that loses rows is a correctness bug.  The join
    runs on an internal null-coalesced key; the output keeps the
    original (possibly null) domain value.
    """
    dom = F.coalesce(F.col(domain_col), F.lit("\x00__null_domain__"))
    census = (
        docs.groupBy(dom.alias("_dom"))
        .agg(F.count("*").cast("long").alias("n_domain_docs"))
    )
    docs_c = (
        docs.select(id_col, "lang", domain_col)
        .withColumn("_dom", dom)
        .join(F.broadcast(census), "_dom")
    )
    under = docs_c.filter(F.col("n_domain_docs") <= cap)
    w = Window.partitionBy("_dom").orderBy(id_col)
    over = (
        docs_c.filter(F.col("n_domain_docs") > cap)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    return under.unionByName(over).select(
        id_col, "lang", domain_col, "n_domain_docs"
    )


def domain_quota_census(
    docs: DataFrame,
    cap: int = 10,
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain accounting for :func:`domain_quota`: documents seen,
    kept, dropped under the cap.  Pure aggregate arithmetic on the census
    — no second pass over the documents, no window at all (the kept count
    is ``least(n, cap)`` by construction), so the report costs one
    map-side-combined aggregation regardless of corpus size.
    """
    return (
        docs.groupBy(domain_col)
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            domain_col,
            "n_docs",
            F.least(F.col("n_docs"), F.lit(cap)).cast("long").alias("n_kept"),
            F.greatest(F.col("n_docs") - cap, F.lit(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def quota_decisions(
    docs: DataFrame,
    cap: int = 10,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The full per-document admission audit frame — every document with
    its 1-based arrival rank inside its domain and the gate verdict
    (``admitted`` ⇔ rank ≤ cap).  This is the batch twin of
    ``streaming/quota_stream.domain_quota_sink``'s decisions table: fed
    the corpus in id order, the sink produces exactly these rows
    (asserted in tests/test_streaming_quota.py), so the oracle that
    checks this frame checks the streamed gate's arithmetic too.

    Unlike :func:`domain_quota` there is no under-cap fast path here —
    the audit frame NEEDS every row's rank, so the global window is the
    spec, not a missed optimization (Catalyst still applies no
    WindowGroupLimit because unranked rows aren't discarded).  Use
    :func:`domain_quota` for the kept-set; this for the audit trail.
    """
    w = Window.partitionBy(domain_col).orderBy(id_col)
    return docs.select(id_col, domain_col).select(
        id_col,
        domain_col,
        F.row_number().over(w).cast("long").alias("admit_rank"),
        (F.row_number().over(w) <= cap).alias("admitted"),
    )


def balanced_shards(
    docs: DataFrame,
    shards: int = 8,
    oversample: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Balanced OUTPUT sharding: assign every document to one of
    ``shards`` training shards so that per-shard token mass is balanced
    — the step that writes N same-sized tokenizer shards without a
    global sort.

    The naive balanced assignment ranks the whole corpus by size
    (``row_number() over (order by n_tokens desc)`` — an unpartitioned
    window, i.e. every row through ONE partition: the exact scale trap
    this engine bans).  Instead, two levels:

    1. documents hash-assign to ``shards × oversample`` MICRO-shards
       (deterministic md5, no data-dependent skew); per-micro-shard
       token totals come from one map-side-combined aggregation whose
       output is ``shards × oversample`` rows — bounded, never
       corpus-sized;
    2. the micro-shard census alone takes the ranked window (descending
       total, id tie-break) and a SERPENTINE (boustrophedon) pass deals
       micro-shards onto shards — rank 1..K left-to-right, K+1..2K
       right-to-left — the classic LPT-style greedy that lands heavy
       and light micro-shards together;
    3. documents pick up their shard through a broadcast join on the
       bounded micro→shard map.

    The corpus is scanned twice and shuffled once (the hash micro-shard
    aggregation); the only window runs over a census frame whose size is
    a configuration constant.  Randomized micro-sharding already
    balances token mass to ~1/√(corpus/micro-shards) relative error at
    web scale; the serpentine deal tightens the residual spread —
    measured ≤ ~2 % max/mean imbalance on the fixtures.  Pure integer
    arithmetic throughout: exact in any engine.

    Returns ``(id, n_tokens, micro_shard, shard)``.
    """
    m = shards * oversample
    with_n = docs.select(
        F.col(id_col),
        F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)),1,8),16,10) "
            f"as bigint) % {m}"
        ).alias("micro_shard"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    )
    census = with_n.groupBy("micro_shard").agg(
        F.sum("n_tokens").alias("tok_total")
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("tok_total"), F.asc("micro_shard"))
    )
    lane = (rk - 1) % (2 * shards)
    assign = census.select(
        "micro_shard",
        F.when(lane < shards, lane)
        .otherwise(2 * shards - 1 - lane)
        .cast("long")
        .alias("shard"),
    )
    return with_n.join(F.broadcast(assign), "micro_shard").select(
        id_col, "n_tokens", "micro_shard", "shard"
    )


def shard_summary(assignment: DataFrame) -> DataFrame:
    """Per-shard balance report over a :func:`balanced_shards` frame:
    doc count, token mass, and each shard's exact micro-unit share of
    the corpus — the numbers a sharding job logs to prove its output is
    actually balanced (and the frame the imbalance alarm reads)."""
    totals = assignment.groupBy().agg(
        F.sum("n_tokens").alias("tok_corpus")
    )
    return (
        assignment.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tok_total"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "shard",
            "n_docs",
            "tok_total",
            ratio_micro("tok_total", "tok_corpus").alias("share"),
        )
    )


def build_shard_map(
    spark,
    docs: DataFrame,
    table: str,
    source_version: str,
    shards: int = 8,
    oversample: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the micro→shard assignment map — the offline half of
    CONSISTENT output sharding: the serpentine deal is planned once on a
    reference corpus census and every later assignment (batch re-runs,
    streaming arrivals) reads the FROZEN map, so a document's shard
    never changes as unrelated documents arrive.

    Unlike :func:`balanced_shards`' inline census (which only ranks the
    micro-shards the corpus actually hashes into), the persisted map is
    COMPLETE over all ``shards × oversample`` micro-shards — absent
    ones enter the ranking with a zero token total — so a future
    arrival can never miss the map (no serving-time fallback path to
    diverge on).  ``source_version`` + the (shards, oversample) design
    land in commit metadata; serving refuses a mismatch from metadata
    alone.  Rebuild is an OVERWRITE commit."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    m = shards * oversample
    with_n = docs.select(
        F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)),1,8),16,10) "
            f"as bigint) % {m}"
        ).alias("micro_shard"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    )
    census = with_n.groupBy("micro_shard").agg(
        F.sum("n_tokens").alias("tok_total")
    )
    complete = (
        spark.range(m)
        .select(F.col("id").alias("micro_shard"))
        .join(census, "micro_shard", "left")
        .select(
            "micro_shard",
            F.coalesce("tok_total", F.lit(0)).alias("tok_total"),
        )
    )
    rk = F.row_number().over(
        Window.orderBy(F.desc("tok_total"), F.asc("micro_shard"))
    )
    lane = (rk - 1) % (2 * shards)
    assign = complete.select(
        "micro_shard",
        "tok_total",
        F.when(lane < shards, lane)
        .otherwise(2 * shards - 1 - lane)
        .cast("long")
        .alias("shard"),
    )
    overwrite(
        spark, assign, table,
        meta={
            "source_version": source_version,
            "shards": int(shards),
            "oversample": int(oversample),
        },
    )


def shards_from_map(
    spark,
    docs: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """Assign documents against the PERSISTED shard map — same output
    contract as :func:`balanced_shards` (``(id, n_tokens, micro_shard,
    shard)``) with the assignment FROZEN at map-build time: one
    broadcast join on a bounded map, no census aggregation, no window —
    the exchange-light scan a sharding re-run or ingest gate pays.
    The map is pinned (README, "Frozen inputs")."""
    return _assign_from_map(
        spark, docs, table, id_col, text_col, expect_source
    )[0]


def _assign_from_map(
    spark, docs, table, id_col, text_col, expect_source
) -> tuple[DataFrame, DataFrame]:
    """(:func:`shards_from_map`'s assignment, the map rows it joined):
    both from one pinned commit of the map."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("shard map", table, expect_source=expect_source)
    m = int(snap.meta["shards"]) * int(snap.meta["oversample"])
    mapping = read_parts(spark, table, snap.files, snap)
    with_n = docs.select(
        F.col(id_col),
        F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)),1,8),16,10) "
            f"as bigint) % {m}"
        ).alias("micro_shard"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    )
    assigned = with_n.join(
        F.broadcast(mapping.select("micro_shard", "shard")), "micro_shard"
    ).select(id_col, "n_tokens", "micro_shard", "shard")
    return assigned, mapping


def shard_drift_report(
    spark,
    docs: DataFrame,
    map_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """Balance-drift monitor for the frozen shard map: per shard, the
    DESIGN token share (from the census the map was planned on, stored
    in the map rows) against the OBSERVED share on the current corpus,
    plus the signed micro-unit drift — the alarm feed that says when the
    frozen plan has drifted far enough to justify a re-plan (which is a
    deliberate rebuild + stream restart, never an online mutation).

    One frozen-map assignment scan + two bounded aggregations; the map
    is broadcast twice (assignment join, design shares) and never
    shuffled."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    assigned, mapping = _assign_from_map(
        spark, docs, map_table, id_col, text_col, expect_source
    )
    observed = assigned.groupBy("shard").agg(
        F.sum("n_tokens").alias("obs_tokens")
    )
    obs_tot = observed.groupBy().agg(
        F.sum("obs_tokens").alias("obs_corpus")
    )
    design = (
        mapping.groupBy("shard")
        .agg(F.sum("tok_total").alias("design_tokens"))
    )
    des_tot = design.groupBy().agg(
        F.sum("design_tokens").alias("design_corpus")
    )
    return (
        observed.join(F.broadcast(design), "shard")
        .crossJoin(F.broadcast(obs_tot))
        .crossJoin(F.broadcast(des_tot))
        .select(
            "shard",
            "obs_tokens",
            "design_tokens",
            "obs_corpus",
            "design_corpus",
            ratio_micro("obs_tokens", "obs_corpus").alias("obs_share"),
            ratio_micro("design_tokens", "design_corpus").alias(
                "design_share"
            ),
        )
        .withColumn(
            "drift_micro",
            F.expr(
                "(2 * obs_tokens * 1000000 + obs_corpus)"
                " div (2 * obs_corpus)"
                " - (2 * design_tokens * 1000000 + design_corpus)"
                " div (2 * design_corpus)"
            ).cast("long"),
        )
        .drop("obs_corpus", "design_corpus")
    )


def card_facts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document data-card facts — the ingest-time projection the
    card family extracts ONCE per document: exact-dup digest, predicted
    language, token/BPE counts, and the exact quality micro-score.
    One corpus scan, no shuffle; document bodies never leave it.
    Returns (id, fp_md5, lang, n_tokens, n_bpe_tokens, quality_micro) —
    the skinny rows both the batch card and the streaming facts
    maintainer roll up."""
    from airflow_crypto_btc_spark.operators.dedup import NORMALIZED_TEXT
    from airflow_crypto_btc_spark.operators.text import (
        QUALITY_MICRO_SQL,
        lang_id,
        BPE_ISH_PATTERN,
    )

    return (
        lang_id(docs, text_col)  # tokens + score_* + lang_pred, one pass
        .withColumn("n_tokens", F.expr("size(tokens)"))
        # lang_id's English stop count IS quality's stop_cnt — reuse it
        .withColumn("stop_cnt", F.col("score_en"))
        .withColumn(
            "n_uniq_tokens", F.expr("size(array_distinct(tokens))")
        )
        .withColumn(
            "n_bpe_tokens",
            F.size(
                F.regexp_extract_all(
                    text_col, F.lit(BPE_ISH_PATTERN), 1
                )
            ),
        )
        .withColumn(
            "fp_md5",
            F.expr(f"md5({NORMALIZED_TEXT.format(col=text_col)})"),
        )
        .withColumn(
            "quality_micro",
            F.when(
                F.col("n_tokens") > 0, F.expr(QUALITY_MICRO_SQL)
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .select(
            id_col,
            "fp_md5",
            F.col("lang_pred").alias("lang"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            "quality_micro",
        )
    )


def card_from_facts(facts: DataFrame) -> DataFrame:
    """Roll per-document card facts up to the per-language release card.
    Operates on digest-level rows only: a partial-aggregated groupBy
    (fp_md5, lang) so nothing body-sized crosses a shuffle, a
    digest-partitioned window for cross-language dup counts, and a
    language rollup whose output is bounded by the language alphabet
    (≤6 rows) — the final share window is single-partition over a
    provably tiny frame, never over the corpus.  All ratios are exact
    integer micro-units (``ratio_micro``)."""
    g = facts.groupBy("fp_md5", F.col("lang").alias("lang_pred")).agg(
        F.count("*").cast("long").alias("n_fl"),
        F.sum("n_tokens").cast("long").alias("tok"),
        F.sum("n_bpe_tokens").cast("long").alias("bpe"),
        F.sum("quality_micro").cast("long").alias("qm"),
    )
    # cross-LANGUAGE duplicate visibility: a digest's total count, not
    # its per-language count, decides dup-ness (a doc duplicated across
    # two language buckets is a dup in both)
    g = g.withColumn(
        "n_f", F.sum("n_fl").over(Window.partitionBy("fp_md5"))
    )
    lang = g.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.sum("n_fl").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_f") > 1, F.col("n_fl")).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum("bpe").cast("long").alias("total_bpe_tokens"),
        F.sum("qm").cast("long").alias("sum_qm"),
    )
    # bounded single-partition window: input is one row per predicted
    # language (≤6), NOT corpus-sized — the unpartitioned-window trap
    # doctrine does not apply to alphabet-bounded frames
    lang = lang.withColumn(
        "corpus_tokens",
        F.sum("total_tokens").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return lang.select(
        "lang",
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "total_bpe_tokens",
        ratio_micro("total_tokens", "corpus_tokens").alias(
            "token_share"
        ),
        (
            F.expr("(2 * sum_qm + n_docs) div (2 * n_docs)")
            / 1000000.0
        ).alias("mean_quality"),
    )


def corpus_data_card(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language release data card — the summary table a training-data
    pipeline ships with every corpus release: document counts,
    exact-duplicate accounting, whitespace- and BPE-ish token totals,
    the language's share of corpus tokens, and mean document quality.
    ``card_facts`` (one scan, ingest-time projection) composed with
    ``card_from_facts`` (digest-level rollup) — the same two halves the
    streaming facts maintainer keeps current incrementally."""
    return card_from_facts(card_facts(docs, text_col, id_col))


def corpus_diff_report(
    spark,
    table: str,
    from_version: int,
    to_version: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language release diff between two snapshot VERSIONS of a
    documents table — "what changed since the last corpus release":
    documents and tokens inserted/deleted, one row per language.

    Built on the commit-log change feed (``snapshot_changes``): an
    append-only span costs ONLY a scan of the added files (zero
    old-snapshot reads — the 100 TB common case for a growing corpus);
    a span containing a rewrite commit falls back to the feed's
    multiset-exact two-snapshot diff, gated on ``key_cols`` so the
    expensive path is always an explicit choice.  Language scoring runs
    on the changed rows only, after the feed has reduced the span to
    its deltas."""
    from airflow_crypto_btc_spark.operators.text import lang_id
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        snapshot_changes,
    )

    feed = snapshot_changes(
        spark, table, from_version, to_version, key_cols=[id_col]
    )
    per = lang_id(feed, text_col).select(
        "_change_type",
        "lang_pred",
        F.expr("size(tokens)").alias("n_tokens"),
    )
    ins = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
    del_ = F.when(F.col("_change_type") == "delete", 1).otherwise(0)
    return per.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.sum(ins).cast("long").alias("docs_added"),
        F.sum(ins * F.col("n_tokens")).cast("long").alias("tokens_added"),
        F.sum(del_).cast("long").alias("docs_removed"),
        F.sum(del_ * F.col("n_tokens"))
        .cast("long")
        .alias("tokens_removed"),
    )


def training_order(
    docs: DataFrame,
    seed: str = "epoch0",
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reproducible global training order: every document gets a
    deterministic (shard, position, order_key) — the shuffle a training
    run reads, pinned so a re-run (or an auditor) replays the exact
    byte order.  ``seed`` reshuffles between epochs without touching
    the data.

    The order key is md5(seed ‖ id): uniform, engine-portable, and
    independent of ingest order.  Its first 8 hex chars (as an integer)
    pick the shard; position is the rank WITHIN the shard by the full
    key — a per-shard sort, never a global one, so parallelism is
    #shards and no single partition ever sees the corpus.  The global
    order is (shard, position) lexicographic: readers consume shard
    files round-robin or in sequence, both reproducible."""
    keyed = docs.select(
        F.col(id_col),
        F.md5(
            F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
        ).alias("order_key"),
        F.size(tokens_expr(text_col)).cast("long").alias("n_tokens"),
    ).withColumn(
        "shard",
        F.expr(
            "cast(conv(substr(order_key, 1, 8), 16, 10) as bigint)"
            f" % {shards}"
        ),
    )
    w = Window.partitionBy("shard").orderBy("order_key", id_col)
    return keyed.withColumn(
        "position", F.row_number().over(w).cast("long")
    ).select(id_col, "shard", "position", "order_key", "n_tokens")


def token_budget_head(
    docs: DataFrame,
    budget: int,
    seed: str = "epoch0",
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The first ``budget`` tokens of the reproducible training order —
    "train on the first N tokens of epoch-0 order" as a corpus filter.

    GLOBAL cumulative sums are the classic distributed prefix-sum: a
    single unpartitioned window would drag the corpus through one
    partition, so instead (1) per-shard token totals aggregate to a
    #shards-row frame, (2) each shard's exclusive OFFSET — the sum of
    all earlier positions across shards at interleave granularity —
    would require a merge order; we define the global order as shard-
    major ((shard, position) lexicographic, matching ``training_order``),
    so the offset is just the sum of earlier shards' totals, computed
    on the tiny frame and broadcast back, and (3) the in-shard
    exclusive cumsum adds to the offset.  A document straddling the
    boundary is kept (training truncates at the tokenizer), documents
    past it are dropped — so the kept set is exactly a prefix of the
    global order."""
    ordered = training_order(
        docs, seed=seed, shards=shards, id_col=id_col, text_col=text_col
    )
    per_shard = ordered.groupBy("shard").agg(
        F.sum("n_tokens").alias("shard_tokens")
    )
    # offsets on the #shards-row frame: bounded, broadcast back
    offs = per_shard.withColumn(
        "shard_offset",
        F.coalesce(
            F.sum("shard_tokens").over(
                Window.orderBy("shard").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0).cast("bigint"),
        ),
    ).select("shard", "shard_offset")
    w = (
        Window.partitionBy("shard")
        .orderBy("position")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ordered.withColumn(
            "cum_in_shard",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint")),
        )
        .join(F.broadcast(offs), "shard")
        .withColumn(
            "global_offset", F.col("shard_offset") + F.col("cum_in_shard")
        )
        .filter(F.col("global_offset") < budget)
        .select(
            id_col, "shard", "position", "n_tokens", "global_offset"
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
    band_width_micro: int = 100_000,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020,
    arXiv:1911.00359): rank every document by its LM score and split the
    corpus into ``n_buckets`` equal-count buckets — bucket 1 ("head") is
    the most fluent third, bucket ``n`` ("tail") the least; CCNet trains
    on head+middle and discards or down-weights tail.  Scoring is the
    corpus-estimated unigram LM (``text.unigram_logprob_score``);
    unscorable (empty) documents are excluded, mirroring CCNet.

    Semantics are EXACTLY ``ntile(n_buckets)`` over the total order
    (mean_logprob DESC, id) — but a global ntile window would drag the
    corpus through one partition, so the rank is decomposed the
    distributed way (same doctrine as ``token_budget_head``'s
    prefix-sum):

    1. each document's exact 6-dp score maps to an integer micro-key;
       keys group into VALUE BANDS (``key div band_width_micro`` —
       floor division, so bands are value-ordered);
    2. per-band counts aggregate to a #bands-row frame (bounded by the
       score RANGE, not the corpus: unigram logprobs live in roughly
       [-25, 0], ≈250 bands at the default width) where each band's
       exclusive higher-rank offset is one tiny window;
    3. in-band rank is a window PARTITIONED by band — distributed —
       and global_rank = band_offset + in_band_rank;
    4. the ntile bucket is closed-form from (rank, n): the first
       ``n mod k`` buckets take ``ceil(n/k)`` rows, cumulative cut
       ``C_b = b*(n div k) + least(b, n mod k)``.

    Returns (id, n_tokens, mean_logprob, bucket) — bucket 1-based.
    """
    from airflow_crypto_btc_spark.operators.text import (
        unigram_logprob_score,
    )

    scored = (
        unigram_logprob_score(
            docs.select(F.col(id_col).alias("doc_id"), text_col),
            text_col,
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "_key",
            F.round(F.col("mean_logprob") * 1_000_000.0).cast("long"),
        )
        .withColumn(
            "_band",
            F.floor(F.col("_key") / F.lit(float(band_width_micro))).cast(
                "long"
            ),
        )
    )
    band_counts = scored.groupBy("_band").agg(
        F.count("*").alias("_bn")
    )
    w_bands = (
        Window.orderBy(F.desc("_band"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # #bands rows — bounded by score range, never the corpus
    offsets = band_counts.withColumn(
        "_higher",
        F.coalesce(F.sum("_bn").over(w_bands), F.lit(0).cast("bigint")),
    ).select("_band", "_higher")
    w_in = Window.partitionBy("_band").orderBy(
        F.desc("_key"), F.asc("doc_id")
    )
    n_frame = scored.agg(F.count("*").alias("_n"))
    ranked = (
        scored.join(F.broadcast(offsets), "_band")
        .withColumn(
            "_rank",
            F.col("_higher") + F.row_number().over(w_in).cast("long"),
        )
        .crossJoin(F.broadcast(n_frame))
    )
    qdiv = (F.col("_n") / n_buckets).cast("long")  # n div k (n >= 0)
    rem = F.col("_n") % n_buckets
    bucket = F.lit(None).cast("long")
    # smallest b with rank <= C_b, C_b = b*qdiv + least(b, rem)
    for b in range(n_buckets, 0, -1):
        cut = F.lit(b) * qdiv + F.least(F.lit(b).cast("long"), rem)
        bucket = F.when(F.col("_rank") <= cut, F.lit(b)).otherwise(
            bucket
        )
    return ranked.select(
        F.col("doc_id").alias(id_col),
        "n_tokens",
        "mean_logprob",
        bucket.cast("long").alias("bucket"),
    )


def ppl_cutoffs(per_doc: DataFrame) -> DataFrame:
    """Boundary scores of a :func:`perplexity_buckets` split — the FROZEN
    artifact CCNet-style serving classifies against: ``cut_head`` /
    ``cut_middle`` are the minimum mean_logprob inside buckets 1 and 2
    of the reference split.  One row; persist it (snapshot table, source
    version in the commit meta) and gate arrivals with
    :func:`ppl_gate_from_cutoffs` — serve time then never ranks."""
    return per_doc.agg(
        F.min(
            F.when(F.col("bucket") == 1, F.col("mean_logprob"))
        ).alias("cut_head"),
        F.min(
            F.when(F.col("bucket") == 2, F.col("mean_logprob"))
        ).alias("cut_middle"),
    )


def ppl_gate_from_cutoffs(
    scored: DataFrame, cut_head: float, cut_middle: float
) -> DataFrame:
    """Classify scored documents against FROZEN perplexity cutoffs — the
    serve half of the CCNet split: one comparison per row, no window, no
    rank, so arrivals stream through at scan cost.  Ties AT a boundary
    go to the better bucket (``score >= cut_head`` → head), unlike the
    equal-count build, which splits boundary ties by id — the standard
    build/serve asymmetry of a frozen percentile gate, documented here
    and replayed by the oracle.  ``scored`` is (doc_id, n_tokens,
    mean_logprob), e.g. from the persisted unigram LM."""
    return scored.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "mean_logprob",
        F.when(F.col("mean_logprob") >= F.lit(cut_head), F.lit(1))
        .when(F.col("mean_logprob") >= F.lit(cut_middle), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("bucket"),
    )


def temperature_mixture_plan(
    docs: DataFrame,
    budget: int = 100,
    alpha_pct: int = 30,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Derive a training-mixture plan by TEMPERATURE sampling (the
    mT5 / XLM-R α-schedule, α = ``alpha_pct``/100, default 0.3):
    per-language sampling weight ∝ (token share)^α, so low-resource
    languages are up-sampled relative to their raw share and the
    head language stops dominating — the step that PRODUCES the
    quota table ``mixture`` entries consume as a fixed dimension.

    Exactness discipline: token shares are exact micro-units; the one
    float hop (``power(share, α)``) is 6-dp rounded like every ln()
    in the engine; quotas then apportion the integer ``budget`` by
    Hamilton's largest-remainder method — floor quotas plus one unit
    to the largest remainders (ties by lang asc) — all plain integer
    arithmetic, so Σquota == budget exactly and no engine can split a
    boundary.  Everything after the one corpus scan operates on the
    alphabet-bounded language rollup (≤ #langs rows; the bounded
    single-partition windows are the vocab-cut precedent).

    Returns (lang, n_docs, n_tokens, share_micro, weight_micro,
    quota)."""
    from airflow_crypto_btc_spark.functions.hashing import tokens_expr

    per_lang = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.size(tokens_expr(text_col)).cast("long").alias("n_toks"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("long").alias("t_total"))
    alpha = alpha_pct / 100.0
    weighted = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.expr(
            "cast((2 * n_tokens * 1000000 + t_total)"
            " div (2 * t_total) as bigint)"
        ).alias("share_micro"),
        F.expr(
            f"cast(round(power(cast(n_tokens as double)"
            f" / cast(t_total as double), {alpha!r}) * 1000000)"
            " as bigint)"
        ).alias("weight_micro"),
    )
    wtot = weighted.agg(
        F.sum("weight_micro").cast("long").alias("w_total")
    )
    base = weighted.crossJoin(F.broadcast(wtot)).select(
        "*",
        F.expr(f"({budget} * weight_micro) div w_total").alias("q_floor"),
        F.expr(f"({budget} * weight_micro) % w_total").alias("q_rem"),
    )
    # largest-remainder top-up over the ≤#langs-row frame (bounded
    # single partition — the vocab-cut precedent)
    w = Window.orderBy(F.desc("q_rem"), F.asc("lang"))
    spill = base.agg(
        (F.lit(budget) - F.sum("q_floor")).cast("long").alias("n_spill")
    )
    return (
        base.withColumn("rem_rank", F.row_number().over(w))
        .crossJoin(F.broadcast(spill))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "share_micro",
            "weight_micro",
            F.expr(
                "cast(q_floor + CASE WHEN rem_rank <= n_spill"
                " THEN 1 ELSE 0 END as bigint)"
            ).alias("quota"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    test_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Group-aware train/test assignment: every member of a near-dup
    cluster splits by its cluster REPRESENTATIVE's hash, so
    near-duplicates can never straddle the boundary — the eval-set
    contamination channel document-level hashing leaves open (Lee et
    al. 2022 measure exactly this leak: test examples with near-dup
    twins in train overstate model quality).  ``text.train_test_split``
    stays the per-document rule; this is the rule a pipeline that ALSO
    runs near-dup detection should use, and it degenerates to the
    per-document rule on singleton clusters (test-pinned), so adopting
    it never reshuffles unclustered history.

    ``clusters`` is (doc_id, cluster_id) COMPLETE over the corpus
    (``dedup.near_dup_clusters`` emits singletons as their own id) and
    broadcast-joins onto the corpus — cluster rows are bounded by the
    corpus, and at 100 TB the join is key-distributed by the same id
    both sides carry.  Returns (doc_id, cluster_id, split, moved):
    ``moved`` marks documents whose side DIFFERS from the naive
    per-document hash — the audit column that quantifies how much the
    naive rule was leaking."""
    def bucket(col: str) -> str:
        from airflow_crypto_btc_spark.functions.hashing import (
            md5_bucket_sql,
        )

        return md5_bucket_sql(col, buckets)

    return (
        docs.select(id_col)
        .join(clusters, id_col)
        .select(
            id_col,
            "cluster_id",
            F.expr(
                f"CASE WHEN {bucket('cluster_id')} < {test_pct} "
                "THEN 'test' ELSE 'train' END"
            ).alias("split"),
            F.expr(
                f"({bucket('cluster_id')} < {test_pct}) != "
                f"({bucket(id_col)} < {test_pct})"
            ).alias("moved"),
        )
    )
