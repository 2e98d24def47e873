"""Text-analysis operators for the training-data-pipeline extension
(BASELINE.json north star; no counterpart in the reference — the reference's
scalar surface is time/casts only, SURVEY §2.8).

All operators are pure column expressions over native functions + HOF
lambdas: per-row, no shuffle, no Python UDF — the shape that scales to
100 TB of documents (embarrassingly parallel over partitions, whole-stage
codegen, columns pruned to ``text`` at the scan).

Operators:
- token statistics (whitespace + BPE-ish regex token counting)
- language ID (stopword + Han-script heuristic)
- quality scoring (length/stopword/uniqueness ratios)
- document fingerprinting (content md5 + order-sensitive rolling hash)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    ratio_micro,
    rolling_fingerprint_expr,
    tokens_expr,
)

# Small per-language stopword sets (public common function words).  The
# heuristic is intentionally tiny — real language ID would use trained
# n-gram profiles; the *engine* contract is deterministic scoring + argmax.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it"),
    "fr": ("le", "la", "les", "et", "un", "une", "est", "dans"),
    "de": ("der", "die", "und", "das", "ein", "ist", "nicht"),
    "es": ("el", "los", "las", "una", "y", "es", "por", "que"),
}
_LANG_ORDER = ("en", "fr", "de", "es")  # deterministic tie-break priority

# BPE-ish pre-tokenization: letter runs | digit runs | single other symbol.
BPE_ISH_PATTERN = r"([a-z]+|[0-9]+|[^a-z0-9\s])"


def _stop_count(lang: str, tokens_col: str = "tokens") -> Column:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains(array({arr}), t)))"
    )


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("tokens", tokens_expr(text_col))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish regex
    tokens, total/avg token length."""
    df = with_tokens(df, text_col)
    sum_len = (
        "aggregate(transform(tokens, t -> length(t)), 0, (a, x) -> a + x)"
    )
    return (
        df.withColumn("n_tokens", F.expr("size(tokens)"))
        .withColumn("n_uniq_tokens", F.expr("size(array_distinct(tokens))"))
        .withColumn(
            "n_bpe_tokens",
            F.size(F.regexp_extract_all(text_col, F.lit(BPE_ISH_PATTERN), 1)),
        )
        .withColumn("sum_token_len", F.expr(sum_len))
        .withColumn(
            # empty-doc guard: ANSI mode (Spark 4 default) errors on /0
            "avg_token_len",
            F.when(
                F.col("n_tokens") > 0,
                ratio_micro("sum_token_len", "n_tokens"),
            ),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-argmax language ID with a Han-script fast path.

    Adds per-language scores and ``lang_pred``.  Deterministic: fixed
    priority order breaks ties; all-zero scores → 'unknown'."""
    df = with_tokens(df, text_col)
    for lang in _LANG_ORDER:
        df = df.withColumn(f"score_{lang}", _stop_count(lang))
    # Han characters → zh outright (Java regex script class).
    df = df.withColumn(
        "score_zh",
        F.size(F.regexp_extract_all(text_col, F.lit(r"(\p{IsHan})"), 1)),
    )
    pred = F.when(F.col("score_zh") > 0, F.lit("zh"))
    all_zero = None
    for lang in _LANG_ORDER:
        c = F.col(f"score_{lang}") == 0
        all_zero = c if all_zero is None else (all_zero & c)
    pred = pred.when(all_zero, F.lit("unknown"))
    for i, lang in enumerate(_LANG_ORDER):
        cond = None
        for other in _LANG_ORDER[i + 1 :]:
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = (
            pred.when(cond, F.lit(lang))
            if cond is not None
            else pred.otherwise(F.lit(lang))
        )
    return df.withColumn("lang_pred", pred)


# 0.4·min(1, n/50) + 0.3·min(1, 3s/n) + 0.3·u/n as the EXACT rational
# (2·min(50,n)·n + 75·(min(n,3s) + u)) / (250·n), rounded half-away in
# integer micro-units: 250·n divides 2·10^6 for many doc lengths, so the
# double formulation lands EXACTLY on 6-dp rounding boundaries and a
# downstream quality gate would amplify an engine split into different
# survivor sets (same doctrine as _jaccard_micro / the unigram-LM mean).
# Requires columns n_tokens / stop_cnt / n_uniq_tokens; identical text
# (s/div/\/\//) runs on the DuckDB side — shared by quality_score and
# the corpus data card so the two can never drift apart.
QUALITY_MICRO_SQL = (
    "(2 * (2 * least(CAST(50 AS BIGINT), n_tokens) * n_tokens"
    " + 75 * (least(CAST(n_tokens AS BIGINT), 3 * stop_cnt)"
    " + n_uniq_tokens)) * 1000000"
    " + 250 * CAST(n_tokens AS BIGINT))"
    " div (500 * CAST(n_tokens AS BIGINT))"
)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document quality heuristic in [0,1]:
    0.4·length-score + 0.3·stopword-score + 0.3·uniqueness-ratio.
    Filters garbage (too short, no function words, degenerate repetition) —
    the standard pretraining-corpus gate shape."""
    df = with_tokens(df, text_col)
    n = F.expr("size(tokens)")
    df = (
        df.withColumn("n_tokens", n)
        .withColumn("stop_cnt", _stop_count("en"))
        .withColumn("n_uniq_tokens", F.expr("size(array_distinct(tokens))"))
    )
    micro = F.expr(QUALITY_MICRO_SQL)
    return df.withColumn(
        "quality",
        # empty doc → quality 0 (ANSI /0 guard; fixture docs are non-empty)
        F.when(
            F.col("n_tokens") > 0, micro / 1000000.0
        ).otherwise(F.lit(0.0)),
    )


def train_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    test_pct: int = 10,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic train/test assignment by content-independent id hash:
    bucket = md5(id) mod ``buckets``; buckets < ``test_pct`` are 'test'.

    Hash-based (not ``randomSplit``): the assignment is a pure function of
    the id, so it is stable across runs, engines, repartitions, and
    incremental appends — new documents never reshuffle old ones between
    splits (the property that keeps eval sets uncontaminated as a corpus
    grows)."""
    bucket = F.expr(
        f"cast(conv(substr(md5(cast({id_col} as string)), 1, 8), 16, 10) "
        f"as bigint) % {buckets}"
    )
    return df.withColumn("split_bucket", bucket).withColumn(
        "split",
        F.when(F.col("split_bucket") < test_pct, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: content md5 over normalized text (exact-dup
    key) + order-sensitive polynomial rolling hash over tokens."""
    df = with_tokens(df, text_col)
    normalized = (
        f"lower(trim(regexp_replace({text_col}, '\\\\s+', ' ')))"
    )
    return df.withColumn("fp_md5", F.expr(f"md5({normalized})")).withColumn(
        "fp_rolling", rolling_fingerprint_expr()
    )


def repetition_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: top-token fraction,
    type-token ratio, and duplicate-bigram fraction.

    Scale design: the top-token count runs as explode → two keyed
    aggregations (work O(total tokens), map-side partial combine), while
    the bigram stats are per-row array expressions (O(doc_len)) on the
    UN-exploded side, joined back on doc_id.  The bigram expressions must
    NOT ride the explode projection: Spark's Generate re-evaluates
    projected expressions once per OUTPUT row, which silently turns an
    O(doc_len) array build into O(doc_len²) per document (measured 7×
    super-linear before the split).  Both join sides hash-partition on
    doc_id, so the join adds no extra pass over token rows.  Documents
    with zero tokens are excluded (no denominator).
    """
    from airflow_crypto_btc_spark.functions.hashing import shingles_expr

    tok = with_tokens(df, text_col).filter(F.expr("size(tokens) > 0"))
    bi = shingles_expr("tokens", 2)
    bstats = tok.select(
        "doc_id",
        F.size(bi).alias("n_bi"),
        F.size(F.array_distinct(bi)).alias("n_bi_d"),
    )
    counts = (
        tok.select("doc_id", F.explode("tokens").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    one = F.lit(1.0)
    stats = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round((F.max("c") * one) / F.sum("c"), 6).alias("top_token_frac"),
        F.round((F.count("*") * one) / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )
    return stats.join(bstats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_types",
        "top_token_frac",
        "type_token_ratio",
        F.round(
            F.when(
                F.col("n_bi") > 0,
                one - (F.col("n_bi_d") * one) / F.col("n_bi"),
            ),
            6,
        ).alias("dup_bigram_frac"),
    )


def dup_ngram_coverage(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Cross-document duplicated-span accounting — the distributable
    core of exact-substring deduplication (Lee et al. 2022,
    arXiv:2107.06499, which builds a suffix array to find repeated
    spans; the k-token rolling-gram formulation below is its shuffle-
    friendly approximation): every k-gram position whose gram occurs in
    ≥2 DISTINCT documents is a duplicated span position.  Per document:
    (doc_id, n_grams, n_dup_grams, dup_coverage) — coverage exact via
    ``ratio_micro``; docs shorter than k tokens report 0 grams and NULL
    coverage.  Within-document repetition is deliberately NOT counted
    (that is :func:`repetition_scores`' dup_bigram_frac); this is the
    cross-corpus training-leakage signal.

    Grams are keyed by md5 — the SAME function on both engines, so the
    oracle replays exactly even in the astronomically-unlikely
    collision case, and the shuffle moves 32-byte keys instead of
    k-token strings.  Scale: the gram arrays are built on the
    UN-exploded side (never riding the Generate projection — the
    O(doc_len²) trap `repetition_scores` documents); the doc-frequency
    census aggregates map-side-deduplicated (doc_id, h) pairs; work is
    O(total tokens), state O(distinct grams) — the shape the MinHash
    band index already carries."""
    from airflow_crypto_btc_spark.functions.hashing import (
        ratio_micro,
        shingles_expr,
    )

    tok = with_tokens(df, text_col)
    grams = shingles_expr("tokens", k)
    g = tok.select(
        "doc_id", F.explode(grams).alias("gram")
    ).select("doc_id", F.md5("gram").alias("h")).localCheckpoint(
        eager=False
    )  # one tokenize+explode scan feeds the census AND the position join
    dfreq = (
        g.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )
    dup = (
        g.join(dfreq.filter("df >= 2"), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    sizes = tok.select(
        "doc_id", F.size(grams).cast("long").alias("n_grams")
    )
    return (
        sizes.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.when(
                F.col("n_grams") > 0,
                ratio_micro("n_dup_grams", "n_grams"),
            ).alias("dup_coverage"),
        )
    )


def dup_span_scrub(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    count_mode: str = "documents",
) -> DataFrame:
    """Exact-substring SCRUB — the curation ACTION whose accounting
    half is :func:`dup_ngram_coverage` (Lee et al. 2022,
    arXiv:2107.06499): every token covered by a duplicated k-gram is
    removed from EVERY document.  Like the released
    ``deduplicate-text-datasets`` tool, ExactSubstr cuts all copies of
    a duplicated span, not all-but-one (keep-one would need a global
    owner election per overlapping span cluster, which the paper notes
    does not measurably matter).

    ``count_mode`` selects the duplication census:

    - ``"documents"`` (default): a gram is duplicated when it occurs in
      ≥2 DISTINCT documents — a DELIBERATE DEVIATION from the released
      tool, because intra-document repetition is a QUALITY signal
      (``text_repetition_score``), not contamination, and the
      per-doc-deduped census is one exchange cheaper.
    - ``"occurrences"``: the cited tool's semantics — a gram with ≥2
      total corpus-wide OCCURRENCES is duplicated, so a k-gram repeated
      only WITHIN one document is scrubbed too (boilerplate headers
      repeated inside a crawl page).  Occurrence mode always scrubs a
      superset of documents mode's tokens; the delta is exactly the
      intra-doc repeats.  A/B on the sf0.01 fixture corpus: IDENTICAL
      (2,430 = 2,430 tokens scrubbed over 500 docs — the synthetic
      fixture has no intra-document 8-gram repeats), so the mode
      difference is pinned by a unit test with planted internal
      repeats instead.  The plan shape is identical; the occurrence
      census simply skips the per-doc dedup exchange.

    Returns (doc_id, n_tokens, n_scrubbed, clean_text); ``clean_text``
    is token-normalized (single-space joined) for scrubbed and
    untouched documents alike, so the output column is uniformly
    canonical.

    Scale shape: one tokenize scan feeds the gram census (md5 keys —
    32-byte shuffle rows, map-side deduped per doc) exactly as the
    coverage operator; the scrub itself splits the corpus into the
    UNTOUCHED majority — which never leaves a pure projection (no
    token ever exploded or shuffled) — and the AFFECTED minority,
    whose duplicated gram starts explode into covered positions
    (O(dup positions × k) narrow rows), anti-join the posexploded
    tokens, and reassemble per doc.  Work is O(total tokens) worst
    case and O(affected tokens) typical; nothing quadratic, no UDF.
    A fully-duplicated document still emits its row (clean_text '')
    via the affected-spine left join."""
    from airflow_crypto_btc_spark.functions.hashing import shingles_expr

    if count_mode not in ("documents", "occurrences"):
        raise ValueError(
            f"count_mode must be 'documents' or 'occurrences', "
            f"got {count_mode!r}"
        )
    tok = with_tokens(df, text_col).select("doc_id", "tokens")
    g = (
        tok.select(
            "doc_id",
            F.posexplode(shingles_expr("tokens", k)).alias(
                "gpos", "gram"
            ),
        )
        .select("doc_id", "gpos", F.md5("gram").alias("h"))
        .localCheckpoint(eager=False)
    )  # one scan feeds census AND position join
    census = (
        g.dropDuplicates(["doc_id", "h"])
        if count_mode == "documents"
        else g
    )
    dfreq = census.groupBy("h").agg(F.count("*").alias("df"))
    covered = (
        g.join(dfreq.filter("df >= 2"), "h")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(gpos, gpos + {k - 1})")).alias(
                "pos"
            ),
        )
        .dropDuplicates(["doc_id", "pos"])
        .localCheckpoint(eager=False)
    )  # feeds affected_ids AND the anti-join: without the cut the
    # census join + position explode execute once per consumer
    affected_ids = covered.select("doc_id").distinct().localCheckpoint(
        eager=False
    )  # three consumers (semi ×2, anti ×1); O(affected docs) rows
    kept = (
        tok.join(affected_ids, "doc_id", "left_semi")
        .select("doc_id", F.posexplode("tokens").alias("pos", "tk"))
        .join(covered, ["doc_id", "pos"], "left_anti")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort("
            "collect_list(struct(pos, tk))), x -> x.tk))"
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    affected_out = (
        tok.join(affected_ids, "doc_id", "left_semi")
        .select("doc_id", F.size("tokens").cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_scrubbed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    untouched = tok.join(affected_ids, "doc_id", "left_anti").select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_scrubbed"),
        F.expr("concat_ws(' ', tokens)").alias("clean_text"),
    )
    return affected_out.unionByName(untouched)


def build_gram_index(
    spark,
    docs: DataFrame,
    gram_table: str,
    source_version: str,
    text_col: str = "text",
    k: int = 8,
) -> None:
    """Persist the corpus GRAM-FREQUENCY index — the offline half of
    cross-document duplicated-span accounting: (h, df) where h =
    md5(k-token gram) and df = distinct-document frequency, as a
    snapshot table recording ``source_version`` AND ``k`` in commit
    metadata (the probe takes its gram width from the index, so a
    mismatched-k scoring run cannot exist).  State is O(distinct
    grams) — the same scale shape as the MinHash band index.  Rebuild
    is an OVERWRITE commit, same as every persisted artifact here."""
    from airflow_crypto_btc_spark.functions.hashing import shingles_expr
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    tok = with_tokens(docs, text_col)
    g = tok.select(
        "doc_id", F.explode(shingles_expr("tokens", k)).alias("gram")
    ).select("doc_id", F.md5("gram").alias("h"))
    rows = (
        g.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count("*").cast("long").alias("df"))
    )
    overwrite(
        spark, rows, gram_table,
        meta={"source_version": source_version, "k": k},
    )


def dup_coverage_from_index(
    spark,
    delta: DataFrame,
    gram_table: str,
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """Score a DELTA of new documents against the FROZEN corpus gram
    index — the online half of :func:`dup_ngram_coverage` (the ingest
    gate a 100 TB pipeline runs per batch instead of re-aggregating the
    corpus).  A delta gram position is duplicated when its gram occurs
    anywhere in the indexed corpus (one corpus doc + this delta doc ≥ 2
    distinct docs) OR in ≥2 distinct delta docs.  EXACT for delta rows:
    identical to recomputing :func:`dup_ngram_coverage` over
    corpus ∪ delta and keeping the delta's rows (indexed docs' own
    coverage does change as new duplicates arrive — rebuilding re-scores
    them; this function serves arrivals).  Stale indexes are refused
    from commit metadata before any data file is read; ``k`` is pinned
    from the index meta.

    Scale: the index is NEVER shuffled — the delta's distinct gram-hash
    set rides a broadcast left-semi into the index scan (bounded by
    |Δ| × grams-per-doc; for multi-million-gram batches swap the
    broadcast for the sharded-bloom pre-filter the novelty family
    uses), and the resulting hit set, also delta-bounded, broadcasts
    back onto the delta's positions."""
    from airflow_crypto_btc_spark.functions.hashing import (
        ratio_micro,
        shingles_expr,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("gram index", gram_table, expect_source=expect_source)
    k = int(snap.meta.get("k", 8))
    tok = with_tokens(delta, text_col)
    grams = shingles_expr("tokens", k)
    g = tok.select(
        "doc_id", F.explode(grams).alias("gram")
    ).select("doc_id", F.md5("gram").alias("h")).localCheckpoint(
        eager=False
    )  # one tokenize+explode of the delta feeds df census + positions
    delta_df = (
        g.dropDuplicates(["doc_id", "h"])
        .groupBy("h")
        .agg(F.count("*").alias("ddf"))
        .localCheckpoint(eager=False)
    )  # feeds the corpus probe AND the delta-internal branch
    corpus_hits = read_parts(
        spark, gram_table, snap.files, snap
    ).select("h").join(
        F.broadcast(delta_df.select("h")), ["h"], "left_semi"
    )
    dup_h = (
        delta_df.filter("ddf >= 2")
        .select("h")
        .unionByName(corpus_hits)
        .distinct()
    )
    dup = g.join(F.broadcast(dup_h), ["h"], "left_semi").groupBy(
        "doc_id"
    ).agg(F.count("*").alias("n_dup"))
    sizes = tok.select(
        "doc_id", F.size(grams).cast("long").alias("n_grams")
    )
    return (
        sizes.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.when(
                F.col("n_grams") > 0,
                ratio_micro("n_dup_grams", "n_grams"),
            ).alias("dup_coverage"),
        )
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Corpus-level collocation mining: top-k bigrams by pointwise mutual
    information, `pmi = ln((c_ab/NB) / ((c_a/NU)(c_b/NU)))`, restricted to
    bigrams seen ≥ `min_count` times.

    Scale design: unigram and bigram counts are keyed aggregations with
    map-side combine; the unigram vocabulary (Zipf-bounded, ≪ corpus) is
    broadcast to both probability joins; the scalar corpus totals ride a
    broadcast single-row cross join.  Ranking is a deterministic global
    top-k on (rounded pmi DESC, bigram) — the rounded sort key makes the
    cut identical across engines.
    """
    from airflow_crypto_btc_spark.functions.hashing import shingles_expr

    tok = with_tokens(df, text_col).filter(F.expr("size(tokens) > 0"))
    uni = (
        tok.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    big = (
        tok.select(F.explode(shingles_expr("tokens", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    # One-pass corpus totals, no second explode: every doc with n ≥ 1
    # tokens contributes n−1 bigrams, so NB = NU − #docs.
    totals = tok.agg(
        F.sum(F.size("tokens")).cast("double").alias("nu"),
        (F.sum(F.size("tokens")) - F.count("*")).cast("double").alias("nb"),
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    joined = (
        big.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(
            F.broadcast(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "c_a")),
            "w1",
        )
        .join(
            F.broadcast(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "c_b")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("nu") * F.col("nu"))
            / (F.col("nb") * F.col("c_a") * F.col("c_b"))
        ),
        6,
    )
    return (
        joined.select(
            "bigram",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(top_k)
    )


# ------------------------------------------------------------ PII scrubbing

#: (placeholder, pattern) in APPLICATION ORDER — each pattern is written
#: in the common subset of Java regex (Spark) and RE2 (DuckDB): character
#: classes, bounded repetition, and non-capturing groups only — no
#: lookaround, no backreferences — so the DuckDB oracle replays the
#: masking byte-for-byte.  Emails mask first so a dotted user part is
#: never half-eaten by a number rule; IPs mask BEFORE phones because a
#: dotted IPv4 with a 3-digit octet (192.168.100.1) is also a valid
#: phone-shape match and must keep its <IP> type in the audit counts;
#: the id rule (standalone 9+ digit runs) goes last so it only sees
#: digits the earlier rules left behind.  The phone tail is a
#: non-capturing optional group requiring ≥1 digit, so a trailing
#: separator is never swallowed ("call 555-123-4567." keeps its period).
PII_RULES: tuple[tuple[str, str], ...] = (
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("<PHONE>",
     r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}(?:[-. ][0-9]{1,4})?"),
    ("<ID>", r"\b[0-9]{9,}\b"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask common PII shapes (emails, phone numbers, IPv4 addresses,
    long standalone digit runs) with typed placeholders — the redaction
    pass a training corpus runs BEFORE any text ships to a model.

    Pure per-row JVM regex (``regexp_count`` + chained
    ``regexp_replace``): no shuffle, no Python, fuses into the document
    scan — the cost at 100 TB is the scan itself.  Counts are taken
    BEFORE masking (per rule, on the text as that rule sees it), so the
    audit trail records exactly what each rule matched.

    Returns (doc_id, clean_text, n_emails, n_phones, n_ips, n_ids).
    """
    cleaned = F.col(text_col)
    counts = {}
    for placeholder, pat in PII_RULES:
        counts[placeholder] = F.regexp_count(cleaned, F.lit(pat))
        cleaned = F.regexp_replace(cleaned, pat, placeholder)
    return df.select(
        "doc_id",
        cleaned.alias("clean_text"),
        counts["<EMAIL>"].cast("long").alias("n_emails"),
        counts["<PHONE>"].cast("long").alias("n_phones"),
        counts["<IP>"].cast("long").alias("n_ips"),
        counts["<ID>"].cast("long").alias("n_ids"),
    )


def strip_markup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Drop HTML/XML markup from scraped text: tags removed, the four
    core entities decoded (amp last, so ``&amp;lt;`` decodes to the
    literal ``&lt;`` and never resurrects a tag), runs of whitespace
    collapsed, ends trimmed.  Per-row JVM expressions only — the same
    fuse-into-the-scan shape as :func:`scrub_pii`.

    Returns (doc_id, clean_text, n_removed) where ``n_removed`` is the
    character count dropped by the cleanup (markup + collapsed space).

    SINGLE-PASS contract: tags are stripped from the RAW text and
    entities decoded afterwards, so a decoded ``<`` can never be
    mistaken for a tag opener within the pass — but for the same reason
    the operator is NOT idempotent (re-running it on its own output
    would tag-strip text between decoded angle brackets).  Run it once,
    at ingest; tests pin both properties.
    """
    raw = F.col(text_col)
    no_tags = F.regexp_replace(raw, r"<[^>]*>", "")
    decoded = no_tags
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&amp;", "&"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    # explicit whitespace class, NOT \s: Java's \s includes vertical tab
    # (\x0B) while RE2's does not — an explicit class keeps Spark and the
    # DuckDB oracle byte-identical on any input
    collapsed = F.trim(F.regexp_replace(decoded, "[ \t\n\r\f]+", " "))
    return df.select(
        "doc_id",
        collapsed.alias("clean_text"),
        (F.length(raw) - F.length(collapsed)).cast("long").alias(
            "n_removed"
        ),
    )


# --------------------------------------------------- unigram LM scoring

def unigram_logprob_score(
    df: DataFrame, text_col: str = "text", round_dp: int = 6
) -> DataFrame:
    """Perplexity-proxy quality score: a unigram language model is
    estimated from the corpus ITSELF (add-one-smoothed token
    frequencies) and each document is scored by its mean token log
    probability — the cheap stand-in for model-based quality filtering
    (out-of-distribution gibberish scores low, common fluent text
    scores high) a curation pipeline runs before spending GPU time.

    Shape at scale: one explode+groupBy builds the vocabulary (shuffles
    (token, 1) pairs, never documents), the totals ride a broadcast,
    and scoring joins each document's exploded tokens against the
    vocabulary — a key-distributed join where the vocab side is
    Zipf-bounded (vocabulary grows ~log of corpus), then one groupBy
    back to doc granularity.  Everything is JVM expressions; the
    per-token log P is 6-dp rounded so the decimal-cast mean is
    bit-stable across engines and the DuckDB oracle replays it exactly.

    Returns (doc_id, n_tokens, mean_logprob); empty docs score null.
    """
    toks = df.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_total"),
        F.count("*").alias("n_vocab"),
    )
    # add-one smoothing: P(t) = (c_t + 1) / (N + |V|); rounded per-token
    logp = F.round(
        F.log(
            (F.col("c") + 1).cast("double")
            / (F.col("n_total") + F.col("n_vocab")).cast("double")
        ),
        round_dp,
    )
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", logp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # exact integer micro-units, not a double (or decimal)
            # quotient: summing round_dp-rounded terms makes exact
            # .xxxxxx5 means LIKELY, a double quotient leaves the tie
            # at the mercy of each engine's libm (measured: sf0.1 docs
            # split -3.402035 vs -3.402036), and DuckDB has no decimal
            # division to align with Spark's.  Each lp is integral in
            # 10^-round_dp units, so the sum is an exact long and the
            # mean's HALF-AWAY-FROM-ZERO tie-break is plain integer
            # arithmetic both engines reproduce bit-for-bit.
            F.sum(
                F.round(F.col("lp") * float(10 ** round_dp))
                .cast("long")
            ).alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.when(
                    F.col("__s") < 0,
                    -F.expr(
                        "(2 * (-__s) + n_tokens) div (2 * n_tokens)"
                    ),
                ).otherwise(
                    F.expr("(2 * __s + n_tokens) div (2 * n_tokens)")
                )
                / float(10 ** round_dp)
            ).alias("mean_logprob"),
        )
    )
    return df.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_logprob",
    )


def build_text_models(
    spark,
    docs: DataFrame,
    idf_table: str,
    unigram_table: str,
    source_version: str,
    text_col: str = "text",
) -> None:
    """Persist the corpus-derived TEXT MODELS — the offline half of
    model-based text scoring: the smoothed-IDF table (token, df, idf)
    and the add-one unigram LM (token, c, logp), each a snapshot table
    recording ``source_version`` plus its normalization constants
    (n_docs; n_total/n_vocab) in commit metadata so the serving
    functions can refuse a stale model before reading a data file —
    the same freshness contract as every other persisted artifact
    (``build_minhash_index`` / ``build_semantic_index`` / PQ books).

    Why persist: ``tfidf_top_terms`` and ``unigram_logprob_score``
    estimate their statistics from the scored corpus ITSELF — correct
    for one-shot analytics, but a 100 TB deployment fits the model ONCE
    on the reference corpus and scores arrivals against it (ingest-time
    quality gates must not re-aggregate the corpus per batch, and the
    score of a document must not drift as unrelated documents arrive).

    One tokenize pass feeds both models: per-(doc, token) counts reduce
    to document frequencies (IDF) and total counts (LM) in a single
    Zipf-bounded aggregation tree.  Rebuild is an OVERWRITE commit."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    toks = docs.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    per_token = tf.groupBy("token").agg(
        F.count("*").alias("df"), F.sum("tf").alias("c")
    ).localCheckpoint(eager=False)  # one aggregation feeds both models
    n_docs = docs.count()
    totals = per_token.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_total"),
        F.count("*").alias("n_vocab"),
    ).collect()[0]
    n_total, n_vocab = int(totals["n_total"]), int(totals["n_vocab"])
    idf_rows = per_token.select(
        "token",
        "df",
        F.round(
            F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)), 6
        ).alias("idf"),
    )
    lm_rows = per_token.select(
        "token",
        "c",
        F.round(
            F.log(
                (F.col("c") + 1).cast("double")
                / F.lit(float(n_total + n_vocab))
            ),
            6,
        ).alias("logp"),
    )
    overwrite(
        spark, idf_rows, idf_table,
        meta={"source_version": source_version, "n_docs": n_docs},
    )
    overwrite(
        spark, lm_rows, unigram_table,
        meta={
            "source_version": source_version,
            "n_total": n_total,
            "n_vocab": n_vocab,
        },
    )


def tfidf_top_terms_from_model(
    spark,
    docs: DataFrame,
    idf_table: str,
    k: int = 3,
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document scored against the PERSISTED
    IDF model — same output contract as ``curation.tfidf_top_terms``,
    and identical values when the scored corpus IS the model's corpus
    (the in-plan entry's oracle checks this path verbatim).  Documents
    may contain tokens the model never saw: they take the df=0 smoothed
    idf, ``ln(n_docs + 1)``, instead of silently dropping — a NEW
    document's distinctive vocabulary is exactly what TF-IDF should
    surface.  The model side is vocabulary-sized (Zipf-bounded) and
    broadcasts; the corpus is never re-aggregated."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )
    from pyspark.sql import Window

    [snap] = pin("text model", idf_table, expect_source=expect_source)
    n_docs = int(snap.meta["n_docs"])
    model = read_parts(spark, idf_table, snap.files, snap).select(
        "token", "idf"
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    oov_idf = F.round(F.log(F.lit(float(n_docs + 1))), 6)
    scored = tf.join(F.broadcast(model), "token", "left").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.coalesce("idf", oov_idf), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id", F.col("rnk").cast("long").alias("rnk"), "token",
            "tf", "tfidf",
        )
    )


def unigram_logprob_from_model(
    spark,
    docs: DataFrame,
    unigram_table: str,
    text_col: str = "text",
    round_dp: int = 6,
    expect_source: str | None = None,
) -> DataFrame:
    """Perplexity-proxy scoring against the PERSISTED unigram LM — same
    output contract as ``unigram_logprob_score``, identical values on
    the model's own corpus, and the score of a document never drifts as
    unrelated documents arrive (the inline estimator's statistics move
    with every ingest; the model's are frozen at build).  Unseen tokens
    take the add-one floor ``ln(1 / (n_total + n_vocab))`` — gibberish
    scores LOW against a frozen model, which is the quality-gate
    behavior the inline self-estimate cannot express."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("text model", unigram_table, expect_source=expect_source)
    denom = float(int(snap.meta["n_total"]) + int(snap.meta["n_vocab"]))
    model = read_parts(spark, unigram_table, snap.files, snap).select(
        "token", "logp"
    )
    toks = docs.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("token")
    )
    oov_lp = F.round(F.log(F.lit(1.0) / F.lit(denom)), round_dp)
    scored = (
        toks.join(F.broadcast(model), "token", "left")
        .select(
            "doc_id", F.coalesce("logp", oov_lp).alias("lp")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # integer micro-unit mean — the half-way tie-break argument
            # in unigram_logprob_score applies verbatim
            F.sum(
                F.round(F.col("lp") * float(10 ** round_dp))
                .cast("long")
            ).alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.when(
                    F.col("__s") < 0,
                    -F.expr(
                        "(2 * (-__s) + n_tokens) div (2 * n_tokens)"
                    ),
                ).otherwise(
                    F.expr("(2 * __s + n_tokens) div (2 * n_tokens)")
                )
                / float(10 ** round_dp)
            ).alias("mean_logprob"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_logprob",
    )


# ------------------------------------------------------ bigram LM scoring


def _bigram_pairs(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, prev, tok) adjacent-token pairs, built row-locally from
    the token array (no per-doc window, no shuffle); the size guard
    matters — Spark ``sequence(1, 0)`` counts DOWN (the shingles trap).

    Shape matters here: the generator explodes the INDEX sequence and
    the pair fields project AFTERWARDS via ``element_at``.  Exploding
    a NAMED pre-built pair array instead measured **23.7 s vs 1.16 s**
    at sf0.1: InferFiltersFromGenerate adds size/not-null filters on
    the named array and pushdown substitutes the whole build into
    them, re-deriving the tokenize per element — O(L²) regex work per
    row (mechanism pinned by plan diff; recorded in SCALING.md beside
    the other generator traps)."""
    return (
        df.select("doc_id", tokens_expr(text_col).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN "
                    "sequence(1, size(toks) - 1) ELSE array() END"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("element_at(toks, i)").alias("prev"),
            F.expr("element_at(toks, i + 1)").alias("tok"),
        )
    )


def _micro_mean(grouped_lp: DataFrame, n_col: str, round_dp: int) -> DataFrame:
    """Exact integer micro-unit mean of 6-dp-rounded log terms — the
    unigram_logprob_score tie-break argument applies verbatim."""
    return grouped_lp.select(
        "doc_id",
        n_col,
        (
            F.when(
                F.col("__s") < 0,
                -F.expr(f"(2 * (-__s) + {n_col}) div (2 * {n_col})"),
            ).otherwise(
                F.expr(f"(2 * __s + {n_col}) div (2 * {n_col})")
            )
            / float(10**round_dp)
        ).alias("mean_logprob"),
    )


def bigram_logprob_score(
    df: DataFrame, text_col: str = "text", round_dp: int = 6
) -> DataFrame:
    """Interpolated bigram LM quality score — the n-gram upgrade of
    ``unigram_logprob_score`` (one step toward the 5-gram KenLM the
    CCNet pipeline actually gates with): each adjacent pair scores
    ``ln(λ·P(tok|prev) + (1−λ)·P(tok))`` with λ=0.5, add-one smoothing
    on both components, and the per-doc mean taken in exact integer
    micro-units.  Word order now matters — scrambled fluent vocabulary
    scores LOW where the unigram model cannot tell — which is the
    failure mode that motivates n-gram gates.

    Shape at scale: pairs build row-locally from the token array (no
    per-doc window); the bigram table is key-distributed (it can be
    100M+ rows at corpus scale — never broadcast), while the unigram
    table and totals ride broadcasts (Zipf-bounded).  Returns
    (doc_id, n_bigrams, mean_logprob); docs under 2 tokens score null.
    """
    # Materialization barrier (the int8-quantization precedent): the
    # census and the scoring side both consume pairs — the barrier
    # computes the tokenize+explode ONCE and shields the Generate from
    # any downstream constraint pushdown (see _bigram_pairs).
    pairs = _bigram_pairs(df, text_col).localCheckpoint(eager=False)
    bi = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c_uv"))
    toks = df.select(
        "doc_id", F.explode(tokens_expr(text_col)).alias("token")
    )
    # same barrier: uni feeds three consumers (c_u side, c_v side,
    # totals) — without it each one re-scans and re-tokenizes the corpus
    uni = (
        toks.groupBy("token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = uni.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("n_vocab")
    )
    scored = (
        pairs.join(bi, ["prev", "tok"])
        .join(
            F.broadcast(uni.select(F.col("token").alias("prev"),
                                   F.col("c").alias("c_u"))),
            "prev",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("tok"),
                                   F.col("c").alias("c_v"))),
            "tok",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(0.5)
                    * (
                        (F.col("c_uv") + 1).cast("double")
                        / (F.col("c_u") + F.col("n_vocab")).cast("double")
                    )
                    + F.lit(0.5)
                    * (
                        (F.col("c_v") + 1).cast("double")
                        / (F.col("n_total") + F.col("n_vocab")).cast(
                            "double"
                        )
                    )
                ),
                round_dp,
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.round(F.col("lp") * float(10**round_dp)).cast("long")
            ).alias("__s"),
        )
    )
    out = _micro_mean(scored, "n_bigrams", round_dp)
    return df.select("doc_id").join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "mean_logprob",
    )


def build_bigram_lm(
    spark,
    docs: DataFrame,
    bigram_table: str,
    unigram_table: str,
    source_version: str,
    text_col: str = "text",
) -> None:
    """Persist the bigram LM — (prev, tok, c_uv) plus its own
    (token, c) unigram stats — version-pinned with the normalization
    constants (n_total, n_vocab) in commit metadata, the
    build_text_models freshness contract.  A 100 TB deployment fits
    the LM once on the reference corpus; ingest gates score arrivals
    against the FROZEN counts (unseen pairs take the add-one floor —
    the score of a document never drifts as unrelated text arrives)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    pairs = _bigram_pairs(docs, text_col)
    bi = pairs.groupBy("prev", "tok").agg(
        F.count("*").cast("long").alias("c_uv")
    )
    uni = (
        docs.select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = uni.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_total"),
        F.count("*").alias("n_vocab"),
    ).collect()[0]
    meta = {
        "source_version": source_version,
        "n_total": int(totals["n_total"]),
        "n_vocab": int(totals["n_vocab"]),
    }
    overwrite(spark, bi, bigram_table, meta=meta)
    overwrite(spark, uni, unigram_table, meta=meta)


def bigram_logprob_from_model(
    spark,
    docs: DataFrame,
    bigram_table: str,
    unigram_table: str,
    text_col: str = "text",
    round_dp: int = 6,
    expect_source: str | None = None,
) -> DataFrame:
    """Interpolated bigram scoring against the FROZEN persisted LM —
    same output contract as ``bigram_logprob_score`` and identical
    values on the model's own corpus.  Unseen pairs/tokens coalesce to
    count 0 and take the add-one smoothed floor (a pair over an unseen
    context u scores ``ln(0.5/|V| + 0.5·(c_v+1)/(N+|V|))``), so novel
    text scores low instead of erroring — the ingest-gate behavior."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    bi_snap, uni_snap = pin(
        "text model", bigram_table, unigram_table,
        expect_source=expect_source, agree=(),
    )
    n_total = int(bi_snap.meta["n_total"])
    n_vocab = int(bi_snap.meta["n_vocab"])
    # barrier: see bigram_logprob_score — without it the join-key null
    # constraints re-derive the pair build below the Generate
    pairs = _bigram_pairs(docs, text_col).localCheckpoint(eager=False)
    bi = read_parts(spark, bigram_table, bi_snap.files, bi_snap)
    uni = read_parts(spark, unigram_table, uni_snap.files, uni_snap)
    scored = (
        pairs.join(bi, ["prev", "tok"], "left")
        .join(
            F.broadcast(uni.select(F.col("token").alias("prev"),
                                   F.col("c").alias("c_u"))),
            "prev",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("tok"),
                                   F.col("c").alias("c_v"))),
            "tok",
            "left",
        )
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.lit(0.5)
                    * (
                        (F.coalesce("c_uv", F.lit(0)) + 1).cast("double")
                        / (
                            F.coalesce("c_u", F.lit(0)) + F.lit(n_vocab)
                        ).cast("double")
                    )
                    + F.lit(0.5)
                    * (
                        (F.coalesce("c_v", F.lit(0)) + 1).cast("double")
                        / F.lit(float(n_total + n_vocab))
                    )
                ),
                round_dp,
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.round(F.col("lp") * float(10**round_dp)).cast("long")
            ).alias("__s"),
        )
    )
    out = _micro_mean(scored, "n_bigrams", round_dp)
    return docs.select("doc_id").join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "mean_logprob",
    )
