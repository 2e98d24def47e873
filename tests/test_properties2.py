"""Property battery for the round-10 second-wave families: each
operator's exact-semantics claim holds on arbitrary inputs, checked
against an independent pure-Python reference (same doctrine as
test_properties.py; small examples — one Spark job each)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kernel_reference import py_greedy, py_viterbi

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=8),
    min_size=1,
    max_size=12,
    unique=True,
)
_piece_pool = st.lists(
    st.tuples(
        st.text(alphabet="abcd", min_size=1, max_size=3),
        st.booleans(),  # continuation form?
    ),
    min_size=1,
    max_size=14,
    unique=True,
)


@given(words=_words, pool=_piece_pool)
@settings(**SETTINGS)
def test_wordpiece_segment_matches_python_greedy(spark, words, pool):
    from airflow_crypto_btc_spark.operators.wordpiece import (
        wordpiece_segment,
    )

    vocab = {("##" + p if cont else p) for p, cont in pool}
    vdf = spark.createDataFrame(
        [(p, i + 1) for i, p in enumerate(sorted(vocab))],
        "piece string, piece_id long",
    )
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: (r["pieces_str"], r["is_unk"])
        for r in wordpiece_segment(wdf, vdf, max_piece_len=3).collect()
    }
    for w in words:
        pieces, unk = py_greedy(w, vocab, 3)
        assert got[w] == (" ".join(pieces), unk), w


_coords = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=65535),
        st.integers(min_value=0, max_value=65535),
    ),
    min_size=1,
    max_size=24,
)


@given(coords=_coords)
@settings(**SETTINGS)
def test_morton_matches_python_interleave(spark, coords):
    from airflow_crypto_btc_spark.operators.zorder import morton_expr

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(coords)],
        "id long, x int, y int",
    )
    got = {
        r["id"]: r["z"]
        for r in df.select("id", morton_expr("x", "y").alias("z")).collect()
    }
    for i, (x, y) in enumerate(coords):
        want = sum(
            (((x >> b) & 1) << (2 * b)) + (((y >> b) & 1) << (2 * b + 1))
            for b in range(16)
        )
        assert got[i] == want


_vecs = st.lists(
    st.lists(
        st.floats(
            min_value=-4, max_value=4,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=70,
    ),
    min_size=1,
    max_size=8,
)


@given(vecs=_vecs)
@settings(**SETTINGS)
def test_binary_quantize_matches_python_sign_packing(spark, vecs):
    from airflow_crypto_btc_spark.operators.similarity import (
        binary_quantize,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["bits"] for r in binary_quantize(df).collect()}
    for i, v in enumerate(vecs):
        n_words = (len(v) + 31) // 32
        want = [
            sum(
                1 << j
                for j in range(32)
                if w * 32 + j < len(v) and v[w * 32 + j] > 0
            )
            for w in range(n_words)
        ]
        assert got[i] == want


_vals = st.lists(
    st.floats(
        min_value=0.0, max_value=1023.0,
        allow_nan=False, allow_infinity=False,
    ),
    min_size=1,
    max_size=60,
)


@given(vals=_vals, p=st.integers(min_value=1, max_value=999_999))
@settings(**SETTINGS)
def test_qhist_quantile_matches_python_replay(spark, vals, p):
    from decimal import Decimal, ROUND_HALF_UP

    from airflow_crypto_btc_spark.operators.sketch import (
        QHIST_BUCKETS,
        QHIST_HI_MICRO,
        QHIST_LO_MICRO,
        qhist_quantile,
        qhist_registers,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)],
        "event_id long, value double",
    )
    got = {
        r["p_micro"]: r["est_micro"]
        for r in qhist_quantile(
            qhist_registers(df), probs_micro=(p,)
        ).collect()
    }
    width = (QHIST_HI_MICRO - QHIST_LO_MICRO) // QHIST_BUCKETS
    regs: dict[int, int] = {}
    for v in vals:
        # decimal(38,6) cast = half-up 6-dp rounding of the double
        vm = int(
            (Decimal(repr(v)) * 1_000_000).to_integral_value(ROUND_HALF_UP)
        )
        b = min(QHIST_BUCKETS - 1, max(0, (vm - QHIST_LO_MICRO) // width))
        regs[b] = regs.get(b, 0) + 1
    total = len(vals)
    need = (p * total + 999_999) // 1_000_000
    cum = 0
    for b in sorted(regs):
        if cum + regs[b] >= need:
            want = (
                QHIST_LO_MICRO
                + b * width
                + ((need - cum) * width) // regs[b]
            )
            break
        cum += regs[b]
    assert got[p] == want


_texts2 = st.lists(
    st.text(alphabet="ab \t", min_size=0, max_size=30),
    min_size=1,
    max_size=6,
)


@given(texts=_texts2)
@settings(**SETTINGS)
def test_bigram_pairs_match_python_zip(spark, texts):
    from airflow_crypto_btc_spark.operators.text import _bigram_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, list] = {i: [] for i in range(len(texts))}
    for r in _bigram_pairs(df, "text").collect():
        got[r["doc_id"]].append((r["prev"], r["tok"]))
    for i, t in enumerate(texts):
        toks = t.split()
        want = list(zip(toks, toks[1:]))
        assert sorted(got[i]) == sorted(want), t


# ------------------------------------------------------- unigram LM (r11)

def _py_half_away(x: float) -> int:
    import math

    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def _py_unigram_train(
    word_counts: dict[str, int],
    size: int,
    seed_size: int,
    maxl: int,
    em_rounds: int,
    permille: int,
):
    """Reference hard-EM unigram trainer (census → tiered seed → EM →
    two-tier cut → micro scores), mirroring operators/unigram.py."""
    import math

    census: dict[str, int] = {}
    for w, c in word_counts.items():
        for p in range(len(w)):
            for ln in range(1, min(maxl, len(w) - p) + 1):
                piece = w[p : p + ln]
                census[piece] = census.get(piece, 0) + c
    chars = {p: c for p, c in census.items() if len(p) == 1}
    tot_chars = sum(chars.values())

    def tier(p: str) -> int:
        return (
            0
            if len(p) == 1 and chars[p] * 1000 >= tot_chars * permille
            else 1
        )

    ordered = sorted(
        census.items(), key=lambda kv: (tier(kv[0]), -kv[1], kv[0])
    )
    universe = [(p, c, tier(p)) for p, c in ordered[:seed_size]]
    for _ in range(em_rounds):
        tot = sum(c for _, c, _ in universe)
        scores = {
            p: _py_half_away(math.log(c / tot) * 1e6)
            for p, c, _ in universe
        }
        vcnt: dict[str, int] = {}
        for w, c in word_counts.items():
            t = py_viterbi(w, scores, maxl)
            if t is None:
                continue
            for piece in t[2].split(" "):
                vcnt[piece] = vcnt.get(piece, 0) + c
        universe = [
            (p, max(vcnt.get(p, 0), 1) if tr == 0 else vcnt.get(p, 0), tr)
            for p, _, tr in universe
            if tr == 0 or vcnt.get(p, 0) > 0
        ]
    cut = sorted(universe, key=lambda x: (x[2], -x[1], x[0]))[:size]
    tot = sum(c for _, c, _ in cut)
    return {
        p: (i + 1, c, _py_half_away(math.log(c / tot) * 1e6))
        for i, (p, c, _tr) in enumerate(cut)
    }


_uni_words = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=7),
    min_size=1,
    max_size=10,
    unique=True,
)
_uni_pool = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=3),
    st.integers(min_value=-9_000_000, max_value=-100_000),
    min_size=1,
    max_size=12,
)


@given(words=_uni_words, pool=_uni_pool)
@settings(**SETTINGS)
def test_unigram_viterbi_matches_python_dp(spark, words, pool):
    from airflow_crypto_btc_spark.operators.unigram import viterbi_segment

    sdf = spark.createDataFrame(
        [(p, lp) for p, lp in pool.items()], "piece string, lp long"
    )
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: (r["seg"], r["lp"])
        for r in viterbi_segment(wdf, sdf, max_piece_len=3).collect()
    }
    for w in words:
        t = py_viterbi(w, pool, 3)
        want = (None, None) if t is None else (t[2], t[0])
        assert got[w] == want, w


_uni_texts = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(texts=_uni_texts)
@settings(**SETTINGS)
def test_unigram_train_matches_python_em(spark, texts):
    from airflow_crypto_btc_spark.operators.unigram import unigram_train

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["piece"]: (r["piece_id"], r["cnt"], r["logp_micro"])
        for r in unigram_train(
            df, size=12, seed_size=24, em_rounds=2,
            alphabet_min_permille=10,
        ).collect()
    }
    wc: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    want = _py_unigram_train(
        wc, size=12, seed_size=24, maxl=3, em_rounds=2, permille=10
    )
    assert got == want


# --------------------------------------------- KMV fold order-invariance

_kmv_keys = st.lists(
    st.integers(min_value=0, max_value=200),
    min_size=1,
    max_size=40,
)
_kmv_cut = st.lists(
    st.integers(min_value=0, max_value=3), min_size=1, max_size=40
)


@given(keys=_kmv_keys, assign=_kmv_cut)
@settings(**SETTINGS)
def test_kmv_fold_is_batch_partition_invariant(
    spark, tmp_path_factory, keys, assign
):
    """Partition an arbitrary key multiset into up to 4 batches in an
    arbitrary way and fold them through kmv_sink: the served sketch
    must equal the pure-Python k smallest distinct md5 hashes of the
    whole set — batching, duplicates-across-batches, and arrival order
    all cancel (the theta union law), matching the CDC fold's
    arrival-order doctrine."""
    import hashlib

    from airflow_crypto_btc_spark.operators.sketch import kmv_from_table
    from airflow_crypto_btc_spark.streaming.sketch_stream import kmv_sink

    k = 6
    t = str(tmp_path_factory.mktemp("kmvp") / "kmv")
    sink = kmv_sink(
        t, query_name="kmvp", key_expr="cast(key as string)",
        group_cols=["g"], k=k,
    )
    batches: dict[int, list[int]] = {}
    for i, key in enumerate(keys):
        batches.setdefault(assign[i % len(assign)], []).append(key)
    for bid, vals in sorted(batches.items()):
        sink(
            spark.createDataFrame(
                [("g1", v) for v in vals], "g string, key long"
            ),
            bid,
        )
    got = [
        (r["pos"], r["h32"])
        for r in sorted(
            kmv_from_table(spark, t, ["g"], k=k).collect(),
            key=lambda r: r["pos"],
        )
    ]
    want_hashes = sorted(
        {
            int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
            for v in keys
        }
    )[:k]
    assert got == list(enumerate(want_hashes, start=1))
