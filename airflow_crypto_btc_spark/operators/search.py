"""Lexical full-text retrieval: BM25 over a distributed inverted index.

A training-data platform needs lexical search next to its vector search
— retrieval-based curation (pull every document matching a benchmark
prompt), targeted decontamination, and the lexical half of hybrid
(BM25 + embedding) retrieval all run on it.  The reference
(`dags/dag_btc_daily.py`) has no search surface; this extends the
engine's similarity family (SURVEY §2 extension) with the standard
public formulation: Robertson & Zaragoza 2009 Okapi BM25, with the
Lucene non-negative idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

Scale shape: the posting table (token, doc_id, tf) is key-distributed
by token — at 100 TB it is the thing that must never be broadcast or
collected; queries are the small side and ride broadcasts, so scoring
is one shuffle-free pass over the postings of the queried tokens (the
token join prunes everything else), a groupBy sized by
|query terms × matching docs|, and a per-query top-k window.  Document
lengths join key-distributed on doc_id; corpus stats (N, Σdl) are one
1-row broadcast.

Cross-engine determinism (the registry doctrine): idf is 6-dp rounded,
each per-term partial score is 6-dp rounded and converted to integer
MICRO-units before the per-document sum — long addition is
order-independent where double addition is not — and ties rank by
doc_id.  All BM25 terms are non-negative, so Spark's HALF_UP and
DuckDB's half-away rounding agree everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import tokens_expr

#: classic Okapi defaults
K1 = 1.2
B = 0.75


def default_queries(
    docs: DataFrame,
    n_queries: int = 20,
    q_tokens: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic query set: the first ``n_queries`` documents' first
    ``q_tokens`` tokens, distinct per query (the simple BM25 form scores
    distinct query terms; qtf weighting is a documented non-goal).  The
    same convention as the vector entries' ``vec_id < 20`` probe set."""
    return (
        docs.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.slice(tokens_expr(text_col), 1, q_tokens)).alias(
                "token"
            ),
        )
        .distinct()
    )


def postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The inverted index rows: (token, doc_id, tf)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_expr(text_col)).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def doc_lengths(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, dl) — BM25's length normalization input."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_expr(text_col)).cast("long").alias("dl"),
    )


def bm25_topk_from_parts(
    post: DataFrame,
    dlen: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    require_all_terms: bool = False,
) -> DataFrame:
    """Score a broadcastable query-term table against posting/doc-length
    tables (inline or snapshot-served — both front ends call this).

    Returns (query_id, rnk, doc_id, n_terms, score): rank by summed
    micro-unit BM25 descending, doc_id ascending on ties; ``n_terms``
    counts the query terms the document matched.

    ``require_all_terms=True`` keeps only documents matching EVERY term
    of the query (boolean-AND retrieval) — the exact-match mode
    decontamination sweeps use: a benchmark prompt's terms must ALL be
    present before a doc is flagged.  Implemented as a post-aggregation
    filter ``n_terms = |query|`` — the per-term scan is identical, the
    query-size table is a broadcast, so the AND costs nothing extra at
    scale (it only SHRINKS the ranking window's input)."""
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qtok = queries.select("query_id", "token").distinct()
    # df only for queried tokens: postings semi-joined to the broadcast
    # query vocabulary BEFORE the df aggregate, so the census is sized
    # by the queried postings, not the corpus vocabulary
    qpost = post.join(
        F.broadcast(qtok.select("token").distinct()), "token"
    ).localCheckpoint(eager=False)  # feeds both the df census and scoring
    dfreq = qpost.groupBy("token").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = (
        qpost.join(F.broadcast(qtok), "token")
        .join(F.broadcast(dfreq), "token")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf6",
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                6,
            ),
        )
        .withColumn(
            "term_micro",
            F.round(
                F.round(
                    F.col("idf6")
                    * (F.col("tf") * (k1 + 1.0))
                    / (
                        F.col("tf")
                        + k1 * (1.0 - b)
                        + k1
                        * b
                        * (F.col("dl") * F.col("n_docs")).cast("double")
                        / F.col("sum_dl")
                    ),
                    6,
                )
                * 1000000.0
            ).cast("long"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("term_micro").alias("score_micro"),
        )
    )
    if require_all_terms:
        qsize = qtok.groupBy("query_id").agg(
            F.count("*").cast("long").alias("n_query_terms")
        )
        scored = (
            scored.join(F.broadcast(qsize), "query_id")
            .filter(F.col("n_terms") == F.col("n_query_terms"))
            .drop("n_query_terms")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            "n_terms",
            (F.col("score_micro") / 1000000.0).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
    require_all_terms: bool = False,
) -> DataFrame:
    """Inline BM25 top-k: postings, lengths, and scores in one lineage
    (Catalyst shares the tokenize scan across the three consumers)."""
    if queries is None:
        queries = default_queries(docs, id_col=id_col, text_col=text_col)
    return bm25_topk_from_parts(
        postings(docs, id_col, text_col),
        doc_lengths(docs, id_col, text_col),
        queries,
        k=k,
        k1=k1,
        b=b,
        require_all_terms=require_all_terms,
    )


def build_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    postings_table: str,
    doclen_table: str,
    source_version: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted index as two snapshot tables.  The postings
    append carries the source fingerprint in its commit meta; the serve
    path pins it (README, "Frozen inputs")."""
    from airflow_crypto_btc_spark.sources.snapshot_table import append

    meta = {"source_version": source_version}
    append(
        spark, postings(docs, id_col, text_col), postings_table, meta=meta
    )
    append(
        spark, doc_lengths(docs, id_col, text_col), doclen_table, meta=meta
    )


def bm25_topk_from_index(
    spark: SparkSession,
    postings_table: str,
    doclen_table: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    expect_source: str | None = None,
    require_all_terms: bool = False,
) -> DataFrame:
    """BM25 served from the persisted inverted index — the scan a
    100 TB curation query actually pays: no re-tokenization, postings
    pruned to the queried tokens at the join.  Both tables are pinned
    (README, "Frozen inputs")."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    snaps = pin(
        "BM25 index", postings_table, doclen_table,
        expect_source=expect_source, agree=(),
    )
    postings_df, doclen_df = (
        read_parts(spark, s.table, s.files, s) for s in snaps
    )
    return bm25_topk_from_parts(
        postings_df,
        doclen_df,
        queries,
        k=k,
        k1=k1,
        b=b,
        require_all_terms=require_all_terms,
    )


def hybrid_rrf_topk(
    bm25_ranks: DataFrame,
    vector_ranks: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector ranking — the
    standard hybrid-retrieval combiner (Cormack et al. 2009), reusing
    the engine's RRF convention (``sim_rrf_topk``): each input
    contributes 1/(rrf_k + rank) in exact micro-units, candidates
    missing from one list contribute nothing from it, ties break by
    doc_id.  Inputs are (query_id, rnk, doc_id) from ``bm25_topk*`` and
    any vector top-k."""
    def side(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            "query_id",
            "doc_id",
            # exact reciprocal in micro-units: (10^6 + (rrf_k+rnk)/2)
            # div (rrf_k+rnk) is 1e6/(rrf_k+rnk) rounded half-away —
            # integer, so the cross-engine sum is order-free
            F.expr(
                f"(2 * 1000000 + (({rrf_k} + rnk)))"
                f" div (2 * ({rrf_k} + rnk))"
            ).alias(f"c_{name}"),
        )
    fused = (
        side(bm25_ranks, "lex")
        .join(side(vector_ranks, "vec"), ["query_id", "doc_id"], "outer")
        .withColumn(
            "rrf_micro",
            F.coalesce("c_lex", F.lit(0)) + F.coalesce("c_vec", F.lit(0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            (F.col("rrf_micro") / 1000000.0).alias("rrf_score"),
        )
    )
