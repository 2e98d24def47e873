"""Reference implementations the text-kernel parity tests check the
served operators against.

- JVM-expression forms of the Arrow kernels in ``operators/dedup.py``
  (MinHash signatures, SimHash) and ``operators/vocab.py`` (BPE counts):
  the same math written as Spark higher-order SQL expressions, 1:1 with
  the DuckDB oracle SQL.
- Pure-Python models of the two segmenters served as JVM expressions:
  Viterbi (``operators/unigram.viterbi_segment``) and greedy MaxMatch
  (``operators/wordpiece.wordpiece_segment``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import tokens_expr
from airflow_crypto_btc_spark.operators.dedup import with_shingle_sets
from airflow_crypto_btc_spark.operators.vocab import (
    _BPE_EOW,
    _BPE_MARK,
    _BPE_SCRUB,
)


def minhash_signature_expr(
    shingles_col: str = "shingles", num_hashes: int = 12
) -> Column:
    """MinHash signature: array of ``num_hashes`` lexicographic-min md5
    values over seed-salted shingles (all NULL for an empty set)."""
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), j -> "
        f"array_min(transform({shingles_col}, "
        f"s -> md5(concat(cast(j as string), '|', s)))))"
    )


def minhash_signatures_hof(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """(id, sig, set_size) of ``dedup.minhash_signatures`` in JVM
    expressions."""
    return (
        with_shingle_sets(df, text_col, k_shingle)
        .withColumn("sig", minhash_signature_expr("shingle_set", num_hashes))
        .select(
            id_col, "sig", F.col("set_size").cast("long").alias("set_size")
        )
    )


def simhash_from_md5_expr(md5s_col: str = "tok_md5", bits: int = 16) -> Column:
    """SimHash over PRE-hashed tokens (``md5s_col`` = array of md5 hex
    strings): bit i = sign of the sum over tokens of ±1 by the parity of
    hex digit i; ties (sum == 0) → 0."""
    assert bits <= 32
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, i) -> "
        f"acc + CASE WHEN aggregate({md5s_col}, 0, (a, h) -> a + "
        f"CASE WHEN cast(conv(substr(h, cast(i+1 as int), 1),16,10) "
        f"as int) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN shiftleft(cast(1 as bigint), cast(i as int)) ELSE 0 END)"
    )


def simhash_fingerprints_hof(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) of ``dedup.simhash_fingerprints`` in JVM
    expressions."""
    return (
        df.withColumn("tokens", tokens_expr(text_col))
        .withColumn("tok_md5", F.expr("transform(tokens, t -> md5(t))"))
        .withColumn("simhash", simhash_from_md5_expr("tok_md5", bits))
        .select(F.col(id_col), "simhash")
    )


def bpe_encode_counts_hof(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens) of ``vocab.bpe_encode_counts`` as one
    per-row projection: each scrubbed word becomes its spaced,
    marker-terminated symbol string, the merges apply as a chain of
    literal ``replace`` calls in training order, and the count is the
    sum of the words' post-merge symbol counts."""
    word_tok = (
        f"concat(' ', concat_ws(' ', "
        f"transform(sequence(1, length(w)), "
        f"i -> concat(substr(w, i, 1), '{_BPE_MARK}'))), "
        f"' {_BPE_EOW}{_BPE_MARK}')"
    )
    expr = word_tok
    for _, left, right, _pc in merges:
        sl = left.replace("\\", "\\\\").replace("'", "\\'")
        sr = right.replace("\\", "\\\\").replace("'", "\\'")
        expr = (
            f"replace({expr}, ' {sl}{_BPE_MARK} {sr}{_BPE_MARK}', "
            f"' {sl}{sr}{_BPE_MARK}')"
        )
    per_word = f"size(split(btrim({expr}), ' '))"
    toks_sql = (
        f"transform(filter(split({text_col}, '\\\\s+'), t -> t != ''), "
        f"t -> translate(t, '{_BPE_SCRUB}', ''))"
    )
    return docs.select(
        F.col(id_col),
        F.size(tokens_expr(text_col)).cast("long").alias("n_words"),
        F.expr(
            f"aggregate(transform({toks_sql}, w -> {per_word}), "
            f"cast(0 as bigint), (acc, x) -> acc + cast(x as bigint))"
        ).cast("long").alias("n_bpe_tokens"),
    )


def py_greedy(word: str, vocab: set[str], maxl: int):
    """Reference WordPiece MaxMatch: longest piece at each position,
    ## continuation namespace, whole-word UNK on any miss."""
    pos, pieces = 0, []
    while pos < len(word):
        for ln in range(min(maxl, len(word) - pos), 0, -1):
            cand = word[pos : pos + ln]
            key = cand if pos == 0 else "##" + cand
            if key in vocab:
                pieces.append(key)
                pos += ln
                break
        else:
            return ["[UNK]"], True
    return pieces, False


def py_viterbi(word: str, scores: dict[str, int], maxl: int):
    """Reference Viterbi DP with the engines' (score, l, seg)
    tie-break; None = no segmentation."""
    dp = [None] * (len(word) + 1)
    dp[0] = (0, 0, "")
    for i in range(1, len(word) + 1):
        cands = []
        for ln in range(1, min(maxl, i) + 1):
            prev = dp[i - ln]
            piece = word[i - ln : i]
            if prev is not None and piece in scores:
                seg = piece if i == ln else prev[2] + " " + piece
                cands.append((prev[0] + scores[piece], ln, seg))
        dp[i] = max(cands) if cands else None
    return dp[len(word)]
