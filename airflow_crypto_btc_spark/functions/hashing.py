"""Portable deterministic hashing kernels.

Cross-engine rule: the only hash both Spark and DuckDB compute bit-identically
is ``md5`` (hex string).  Every dedup/fingerprint operator therefore derives
its randomness from md5:

- *numeric hash*: first 8 hex chars → bigint (``conv(...,16,10)`` in Spark,
  ``('0x'||…)::BIGINT`` in DuckDB) — range [0, 2^32).
- *minhash*: lexicographic ``array_min`` over md5 strings — fixed-width hex
  means string-min == numeric-min, no integer conversion needed.
- *bit extraction* (simhash): parity of the i-th hex digit.

The ``*_expr`` helpers return Spark ``Column``s built from SQL expression
strings (expression text keeps them 1:1 with the DuckDB oracle SQL in
``plans/registry.py``); they are **per-row array expressions — no explode,
no shuffle, no UDF**.  :func:`split_tokens` is the Python side of
:func:`tokens_expr` for the Arrow kernels (MinHash/SimHash in
``operators/dedup.py``, BPE counts in ``operators/vocab.py``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 1_000_000_007

#: Java's ``\s`` — what Spark's ``split(text, '\\s+')`` compiles — is
#: ASCII-only ``[ \t\n\x0B\f\r]``; Python's ``\s`` would also split on
#: U+00A0/U+3000, which CJK documents contain
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def hex8_to_bigint_sql(hex_expr: str) -> str:
    """Spark SQL text: first 8 hex chars of ``hex_expr`` as bigint."""
    return f"cast(conv(substr({hex_expr},1,8),16,10) as bigint)"


def tokens_expr(text_col: str = "text") -> Column:
    """Whitespace tokenization, empty-safe (mirrors DuckDB
    ``list_filter(regexp_split_to_array(text,'\\s+'), t -> t <> '')``)."""
    return F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")


def split_tokens(text) -> list[str]:
    """:func:`tokens_expr` in Python, token for token (a non-string
    yields no tokens)."""
    if not isinstance(text, str):
        return []
    return [t for t in _JAVA_WS.split(text) if t]


def shingles_expr(tokens_col: str = "tokens", k: int = 3) -> Column:
    """k-token shingles joined by single spaces; empty array below k tokens
    (guard required: Spark ``sequence(0, negative)`` counts DOWN)."""
    lam = " || ' ' || ".join(f"{tokens_col}[i+{j}]" for j in range(k))
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {k} THEN "
        f"transform(sequence(0, size({tokens_col})-{k}), i -> {lam}) "
        f"ELSE array() END"
    )


def rolling_fingerprint_expr(tokens_col: str = "tokens") -> Column:
    """Polynomial rolling hash over token hashes, mod 1e9+7 — the
    order-sensitive document fingerprint (reordered tokens hash
    differently, unlike a bag-of-words md5)."""
    h = hex8_to_bigint_sql("md5(t)")
    return F.expr(
        f"aggregate(transform({tokens_col}, t -> {h}), cast(0 as bigint), "
        f"(acc, x) -> pmod(acc * 131 + x, {MERSENNE_P}))"
    )


def dot_expr(a: str, b: str) -> Column:
    """Float-array dot product in double precision, sequential fold (exact
    per-element products; sum order = array order)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def norm2_expr(a: str) -> Column:
    """Squared L2 norm of a float array, in double."""
    return F.expr(
        f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def dot_expr_unrolled(a: str, b: str, n: int) -> Column:
    """Fixed-width twin of :func:`dot_expr` for dimensions known at plan
    time: an unrolled chain of ``element_at`` products instead of an
    ``aggregate()`` fold.  Higher-order functions are INTERPRETED per
    element (a lambda dispatch per product — measured ~4 s per Lloyd
    iteration on 1.3 M candidate pairs in PQ training), while the
    unrolled chain compiles into whole-stage codegen.  Bit-parity is
    guaranteed, not hoped for: left-associated addition
    ``((t1 + t2) + t3) + …`` performs the same IEEE operations in the
    same order as the fold's ``((0 + t1) + t2) + …`` (adding 0.0 to the
    first term is exact), so swapping the two forms can never change a
    value, a 6-dp round, or a rank."""
    terms = [
        F.element_at(F.col(a), i + 1).cast("double")
        * F.element_at(F.col(b), i + 1).cast("double")
        for i in range(n)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def norm2_expr_unrolled(a: str, n: int) -> Column:
    """Fixed-width twin of :func:`norm2_expr` (see
    :func:`dot_expr_unrolled` for the codegen rationale and the
    bit-parity argument)."""
    return dot_expr_unrolled(a, a, n)

def ratio_micro(num: str, den: str) -> Column:
    """``num/den`` for nonnegative integer columns as an EXACT 6-dp
    value: integer micro-units with a half-away-from-zero tie-break,
    reproduced bit-for-bit by Spark and DuckDB (``//`` there).  Small-
    integer ratios land EXACTLY on 6-dp rounding boundaries (any
    denominator whose reduced form divides 2·10^6 but not 10^6 — powers
    of two are the everyday case), where a double round splits by
    engine and any downstream threshold or winner-selection amplifies
    the split into row-set differences.  Used by Jaccard, containment,
    quality, mean-token-length, and the LM mean (there with a signed
    variant); the tie formula is property-tested in
    tests/test_properties.py."""
    return (
        F.expr(
            f"(2 * CAST({num} AS BIGINT) * 1000000"
            f" + CAST({den} AS BIGINT))"
            f" div (2 * CAST({den} AS BIGINT))"
        )
        / 1000000.0
    )


def md5_bucket_sql(col: str, buckets: int) -> str:
    """The md5-prefix modulo bucket (SQL-expression string) shared by
    the batch leakage-safe split (operators/curation.leakage_safe_split)
    and its streaming maintainer (streaming/split_stream) — ONE
    definition so streamed assignments stay bit-compatible with a full
    rebuild by construction, not by parallel-edit discipline.  DuckDB
    twin: ``('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8))::BIGINT %
    buckets``."""
    return (
        f"cast(conv(substr(md5(cast({col} as string)), 1, 8), 16, 10)"
        f" as bigint) % {buckets}"
    )
