"""Edge-case pins for the served tokenizer kernels on inputs the
hypothesis batteries (alphabet ``abcd``) never draw: segmentation ties,
multi-byte UTF-8 (where code-point vs byte indexing could diverge),
unreachable words, max-piece-length boundaries, and the BPE scrub
quirks.  The segmenters are checked against the pure-Python models in
``kernel_reference``; the Arrow BPE kernel against its JVM-expression
form there.
"""

from __future__ import annotations

import pytest

from kernel_reference import bpe_encode_counts_hof, py_greedy, py_viterbi

from airflow_crypto_btc_spark.operators.unigram import viterbi_segment
from airflow_crypto_btc_spark.operators.vocab import bpe_encode_counts
from airflow_crypto_btc_spark.operators.wordpiece import wordpiece_segment

#: tie-rich integer score pool: 'ab'+'c' vs 'a'+'bc' score equal when
#: lp(ab)+lp(c) == lp(a)+lp(bc) — the (score, l, seg) tie-break must
#: pick the LONGEST FINAL piece
_TIE_MODEL = [
    ("a", -100), ("b", -100), ("c", -100),
    ("ab", -150), ("bc", -150), ("abc", -400),
    ("é", -120), ("éé", -180), ("日", -90), ("日本", -130),
    ("x", -100),
]

_WORDS = [
    "abc",        # tie between ab+c (-250) and a+bc (-250): final-piece len
    "abcabc",     # chained ties
    "ababab",
    "a", "ab", "ba",
    "axa",        # reachable via single chars
    "aza",        # 'z' unreachable -> NULL seg
    "ééé",        # multi-byte: 2-byte char, code-point indexing
    "日本日",      # 3-byte CJK chars
    "é日é",
    "xxxxxxxxxxxxxxxxxxxxxxxxx",  # long word, single-char path
    "cba",
]


def _collect(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


@pytest.mark.smoke
def test_viterbi_segment_matches_python_on_ties_and_multibyte(spark):
    sdf = spark.createDataFrame(_TIE_MODEL, "piece string, lp long")
    wdf = spark.createDataFrame([(w,) for w in _WORDS], "word string")
    scores = dict(_TIE_MODEL)
    for maxl in (1, 2, 3):
        got = _collect(viterbi_segment(wdf, sdf, max_piece_len=maxl))
        want = []
        for w in _WORDS:
            t = py_viterbi(w, scores, maxl)
            want.append((w, None, None) if t is None else (w, t[2], t[0]))
        assert got == sorted(want), f"max_piece_len={maxl}"


def test_viterbi_segment_passes_through_extra_columns(spark):
    sdf = spark.createDataFrame(_TIE_MODEL, "piece string, lp long")
    wdf = spark.createDataFrame(
        [("abc", 7), ("aza", 3)], "word string, cnt long"
    )
    rows = {
        r["word"]: (r["cnt"], r["seg"], r["lp"])
        for r in viterbi_segment(wdf, sdf, max_piece_len=3).collect()
    }
    # ab+c and a+bc tie at -250; the (score, l, seg) order prefers the
    # LONGER FINAL piece -> 'a bc'
    assert rows["abc"] == (7, "a bc", -250)
    assert rows["aza"] == (3, None, None)


@pytest.mark.smoke
def test_wordpiece_segment_matches_python_on_edges(spark):
    vocab_pieces = [
        "a", "b", "ab", "abc", "##a", "##b", "##c", "##ab", "##bc",
        "é", "##é", "日", "##本",
    ]
    vdf = spark.createDataFrame(
        [(p, i + 1) for i, p in enumerate(vocab_pieces)],
        "piece string, piece_id long",
    )
    words = [
        "abc",      # whole-word match beats greedy splits
        "abcabc",   # greedy continuation walk
        "aba", "ba", "b",
        "az",       # fails mid-word -> whole word [UNK]
        "za",       # fails at position 1
        "ééé", "日本", "本日",  # multi-byte; 本 has no raw form -> UNK
        "aaaaaaaaaaaaaaa",
    ]
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    for maxl in (1, 2, 3):
        got = _collect(wordpiece_segment(wdf, vdf, max_piece_len=maxl))
        want = []
        for w in words:
            pieces, unk = py_greedy(w, set(vocab_pieces), maxl)
            want.append((w, " ".join(pieces), len(pieces), unk))
        assert got == sorted(want), f"max_piece_len={maxl}"


@pytest.mark.smoke
def test_bpe_encode_counts_matches_hof_including_scrub_quirks(spark):
    merges = [
        (1, "a", "b", 9), (2, "ab", "c", 8), (3, "b", "b", 7),
        (4, "bb", "bb", 6), (5, "c", "</w>", 5), (6, "é", "é", 4),
    ]
    docs = spark.createDataFrame(
        [
            (1, "abc ab a  b\t\tc"),        # multi-space/tab runs
            (2, "bbbb bbbbb bbbbbb"),       # repeated-symbol canonical runs
            (3, "abcabc cab"),
            (4, ""),                        # zero tokens
            (5, "  \t "),                   # whitespace only
            (6, "a\x1fb \x1e\x1f x"),       # scrubbed control chars;
                                            # one token empty after scrub
            (7, "éééé é"),                  # multi-byte merges
            (8, "ab c abc"),
        ],
        "doc_id long, text string",
    )
    got = _collect(bpe_encode_counts(docs, merges))
    want = _collect(bpe_encode_counts_hof(docs, merges))
    assert got == want
