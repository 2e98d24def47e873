"""Unigram-LM (SentencePiece) subword tokenization: Viterbi
segmentation under a piece probability model, trained by EM (Kudo
2018, arXiv:1804.10959) — the third industry tokenizer beside BPE
(operators/vocab.py) and WordPiece (operators/wordpiece.py), which
completes the trio HF ``tokenizers`` ships.

Semantics (deterministic hard-EM variant, engine-exact):
- A word segments into the piece sequence maximizing the sum of piece
  log probabilities (the unigram independence assumption); ties break
  by longest final piece, then piece string — a total order both
  engines reproduce, so the segmentation is value-replayable.
- The model trains by VITERBI-EM (hard EM): E-step segments every
  distinct word under the current model, M-step recounts pieces from
  those one-best segmentations.  DELIBERATE DEVIATION from Kudo's
  forward-backward soft EM: expected counts are sums of floating
  products over all segmentations — un-replayable bit-for-bit across
  engines — while the hard E-step is an integer-scored DP the DuckDB
  oracle replays exactly; hard EM is the standard determinism-first
  approximation and converges to the same local shape on the corpora
  this engine curates.  Likewise the final cut keeps the top-``size``
  pieces by (tier, count desc, piece) instead of Kudo's loss-ranked
  pruning: frequency ranking is the deterministic proxy.
- Log probabilities are INTEGER MICRO-UNITS: ``round(ln(cnt/total) ·
  1e6)`` — both engines evaluate ln on the identical rational double
  and round half-away (the text-model recipe of
  ``text.unigram_logprob_score``); every DP comparison thereafter is
  exact BIGINT arithmetic.
- The alphabet rule is WordPiece's: single chars holding at least
  ``alphabet_min_permille``/1000 of total char mass are tier 0 —
  seeded unconditionally, floored at count 1 through every EM round
  (SentencePiece's required-character set), and ranked ahead of any
  multi-char piece at the final cut, so coverage survives pruning.
  Rare chars compete as tier 1 and may fall out, keeping the
  ``[UNK]`` serve path honestly exercised.

Scale design (the 100 TB shape):
- **Training is fully distributed — no driver collect at all.**  BPE
  needed driver batching because its 32k merges are inherently
  SEQUENTIAL jobs; unigram EM has ``em_rounds`` (2-5) rounds total,
  each ONE pass over the DISTINCT-word table (Zipf-bounded,
  vocabulary-sized — the corpus is scanned once for the census and
  never again): Viterbi runs row-locally against the broadcast score
  map, the recount is one map-side-combined aggregation over
  seed-bounded keys.  Nothing here is driver-paced, so the word table
  never needs to fit driver memory.
- **The Viterbi DP is row-local, zero UDF**: one ``aggregate`` fold
  over word positions carrying the DP table as an array of structs —
  best score per prefix via ``array_max`` over ≤``max_piece_len``
  candidates probing the broadcast piece map (the WordPiece greedy
  walk's dynamic-programming sibling).  An UNSEEN word segments at
  serve time against nothing but the broadcast model.
- **Encode** mirrors the WordPiece doctrine: distinct words segment
  once, fold into ONE broadcast map, documents take a single
  projection — corpus rows never enter an exchange.
- **Freeze**: piece ids and scores are only meaningful against one
  model generation; the snapshot table pins the full build
  configuration in commit meta and the serve path refuses a mismatch
  from metadata alone.

No counterpart in the reference (``dags/dag_btc_daily.py`` has no
text surface); extends the SURVEY §2.8 tokenizer family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import tokens_expr

#: the whole-word fallback token (a word containing a char outside the
#: frozen piece set has no segmentation)
UNK = "[UNK]"

#: log probability charged to an [UNK] word, integer micro-units:
#: ln(p) = -25 ↔ p ≈ 1.4e-11, below any real piece probability at a
#: trainable corpus size, so UNK never outscores a real segmentation
UNK_LOGP_MICRO = -25_000_000

#: per-BYTE log probability charged under byte fallback (SentencePiece
#: ``--byte_fallback``: every byte piece carries the same tiny score).
#: ln(p) = -20 per byte — an accounting charge only: fallback fires
#: exclusively when NO segmentation exists, so it never competes with
#: a real Viterbi path
BYTE_LOGP_MICRO = -20_000_000


def byte_pieces_sql(word_col: str) -> str:
    """The byte-fallback decomposition as ONE SQL expression: the
    word's UTF-8 bytes as SentencePiece-style ``<0xNN>`` pieces,
    space-joined (uppercase hex — Spark and DuckDB agree byte-for-byte,
    verified both engines).  Production SentencePiece/GPT-2 never emit
    UNK: an unencodable unit decomposes into byte pieces, exactly the
    HF ``ByteFallback`` decorator semantics (applied at the word level,
    the unit this family's ``[UNK]`` replaces)."""
    return (
        f"array_join(transform(sequence(1, octet_length({word_col})), "
        f"i -> concat('<0x', substr(hex(encode({word_col}, 'UTF-8')), "
        f"2*i - 1, 2), '>')), ' ')"
    )


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """The ONE corpus scan: distinct words with counts (Zipf-bounded —
    vocabulary-sized, never corpus-sized)."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def _substring_census(words: DataFrame, max_piece_len: int) -> DataFrame:
    """All substrings of length 1..max_piece_len with TOTAL occurrence
    counts (every occurrence in every word, weighted by word count) —
    unigram pieces are position-independent, so unlike WordPiece there
    is no ``##`` continuation form.  Work is O(len · max_piece_len)
    rows per DISTINCT word, one map-side-combined aggregation."""
    pieces = (
        "flatten(transform(sequence(1, length(word)), p -> "
        f"transform(sequence(1, least({max_piece_len}, "
        "length(word) - p + 1)), l -> substr(word, p, l))))"
    )
    return (
        words.select(F.explode(F.expr(pieces)).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def _seed_vocab(
    words: DataFrame,
    seed_size: int,
    max_piece_len: int,
    alphabet_min_permille: int,
) -> DataFrame:
    """Seed piece set: top-``seed_size`` substrings under the two-tier
    order (tier 0 = the qualified alphabet — single chars with at
    least ``alphabet_min_permille``/1000 of total char mass — tier 1
    everything else by count desc, piece asc).  The qualified alphabet
    always fits: it is ranked first and alphabets are tens of chars
    against a seed of hundreds.  Returns (piece, cnt, tier)."""
    census = _substring_census(words, max_piece_len)
    # char mass from the len-1 pieces: every char occurrence is
    # exactly one length-1 substring occurrence, so the len-1 counts
    # partition total char occurrences
    chars = census.filter(F.length("piece") == 1).select(
        F.col("piece").alias("ch"), F.col("cnt").alias("ccnt")
    )
    tot = chars.agg(F.sum("ccnt").cast("long").alias("tot_chars"))
    qual = chars.crossJoin(F.broadcast(tot)).select(
        "ch",
        F.expr(
            f"ccnt * 1000 >= tot_chars * {alphabet_min_permille}"
        ).alias("alpha"),
    )
    tiered = (
        census.join(
            F.broadcast(qual), census.piece == qual.ch, "left"
        )
        .select(
            "piece",
            "cnt",
            F.expr(
                "CASE WHEN alpha THEN 0 ELSE 1 END"
            ).alias("tier"),
        )
    )
    return tiered.orderBy(
        F.asc("tier"), F.desc("cnt"), F.asc("piece")
    ).limit(seed_size)


def _scores_map(scored: DataFrame) -> DataFrame:
    """Fold (piece, lp) into a one-row broadcastable map frame (built
    distributed — never collected to the driver)."""
    return scored.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "lp"))
        ).alias("vm")
    )


def _lp_micro(counts: DataFrame) -> DataFrame:
    """Integer micro-unit log probabilities over a counted piece set:
    ``round(ln(cnt/total) * 1e6)`` — the identical rational double in
    both engines, rounded half-away (the text-model recipe), so every
    downstream DP comparison is exact BIGINT arithmetic.  Keeps all
    input columns and adds ``lp``."""
    tot = counts.agg(F.sum("cnt").cast("long").alias("tot"))
    return counts.crossJoin(F.broadcast(tot)).withColumn(
        "lp",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("tot").cast("double"))
            * 1_000_000.0
        ).cast("long"),
    ).drop("tot")


def _viterbi_expr(word_col: str, max_piece_len: int) -> str:
    """The row-local Viterbi DP as ONE SQL expression against the
    broadcast score map ``vm``: an ``aggregate`` fold over positions
    carrying the DP table — dp[i+1] = best (score, l, seg) covering
    the length-i prefix, best = ``array_max`` over ≤max_piece_len
    candidates (struct order (score, l, seg): highest score, then the
    LONGEST final piece, then piece text — the deterministic
    tie-break).  An unreachable prefix holds NULL; an unreachable
    word yields a NULL terminal (the caller's [UNK] case)."""
    cand = (
        f"filter(transform(sequence(1, least({max_piece_len}, i)), l -> "
        f"CASE WHEN element_at(acc, i - l + 1) IS NOT NULL "
        f"AND vm[substr({word_col}, i - l + 1, l)] IS NOT NULL THEN "
        f"named_struct("
        f"'score', element_at(acc, i - l + 1).score "
        f"+ vm[substr({word_col}, i - l + 1, l)], "
        f"'l', l, "
        f"'seg', CASE WHEN i = l THEN substr({word_col}, i - l + 1, l) "
        f"ELSE concat(element_at(acc, i - l + 1).seg, ' ', "
        f"substr({word_col}, i - l + 1, l)) END) "
        f"END), c -> c IS NOT NULL)"
    )
    return (
        f"aggregate(sequence(1, length({word_col})), "
        f"array(named_struct('score', 0L, 'l', 0, 'seg', '')), "
        f"(acc, i) -> array_append(acc, array_max({cand})), "
        f"acc -> element_at(acc, length({word_col}) + 1))"
    )


def viterbi_segment(
    words: DataFrame,
    scored: DataFrame,
    max_piece_len: int = 3,
    word_col: str = "word",
) -> DataFrame:
    """Viterbi-segment each word against a (piece, lp) model, entirely
    row-local over the broadcast score map.  Input may be any word set
    — unseen serve-time words segment the same way.  Returns the input
    columns plus (seg, lp): NULL seg means no segmentation exists (a
    char outside the piece set — the caller's [UNK] case).

    Served as a JVM expression because an Arrow form measured slower
    at sf0.1 (text_unigram_encode 3.2 → 5.3 s): the distinct-word table
    is small, so its extra model collect and Python pass cost more than
    the DP."""
    dp = _viterbi_expr(word_col, max_piece_len)
    return (
        words.crossJoin(F.broadcast(_scores_map(scored)))
        .withColumn("__t", F.expr(dp))
        .select(
            *[c for c in words.columns],
            F.expr("__t.seg").alias("seg"),
            F.expr("__t.score").alias("lp"),
        )
    )


def _em_round(
    words: DataFrame,
    universe: DataFrame,
    scored: DataFrame,
    max_piece_len: int,
) -> DataFrame:
    """One hard-EM round: Viterbi-segment the word table under the
    current scores (E-step), recount pieces from the one-best
    segmentations weighted by word counts (M-step), and retain from
    ``universe`` every counted piece plus the tier-0 alphabet floored
    at count 1 (SentencePiece's required-character set — a char that
    no one-best path uses must stay encodable).  A training word with
    no segmentation under the CURRENT model (its chars fell outside
    the seed) contributes nothing to the recount.  Returns the next
    (piece, cnt, tier) universe.

    The localCheckpoint barrier before the explode is the generator
    doctrine (SCALING.md): the segmentation string is an expensive
    derived column — exploding it unbarriered would let pushdown
    substitution re-derive the whole DP per output row."""
    seg = (
        viterbi_segment(words, scored, max_piece_len)
        .filter(F.col("seg").isNotNull())
        .select("cnt", "seg")
        .localCheckpoint(eager=False)
    )
    recount = (
        seg.select(F.explode(F.split("seg", " ")).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("vcnt"))
    )
    return (
        universe.join(recount, "piece", "left")
        .filter((F.col("tier") == 0) | (F.coalesce("vcnt", F.lit(0)) > 0))
        .select(
            "piece",
            F.expr(
                "CASE WHEN tier = 0 THEN greatest(coalesce(vcnt, 0L), 1L) "
                "ELSE vcnt END"
            ).alias("cnt"),
            "tier",
        )
    )


def unigram_train(
    docs: DataFrame,
    size: int = 64,
    seed_size: int = 256,
    max_piece_len: int = 3,
    em_rounds: int = 2,
    alphabet_min_permille: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Train the unigram-LM piece model: substring-census seed →
    ``em_rounds`` of hard EM → two-tier top-``size`` cut → final
    integer micro-unit scores.  Returns (piece, piece_id, cnt,
    logp_micro) with ids 1..size along the same deterministic
    (tier, cnt desc, piece asc) order as the cut."""
    words = _word_counts(docs, text_col)
    return _train_from_words(
        words,
        size=size,
        seed_size=seed_size,
        max_piece_len=max_piece_len,
        em_rounds=em_rounds,
        alphabet_min_permille=alphabet_min_permille,
    )


def _train_from_words(
    words: DataFrame,
    size: int,
    seed_size: int,
    max_piece_len: int,
    em_rounds: int,
    alphabet_min_permille: int,
) -> DataFrame:
    universe = _seed_vocab(
        words, seed_size, max_piece_len, alphabet_min_permille
    ).localCheckpoint(eager=False)
    for _ in range(em_rounds):
        scored = _lp_micro(universe).select("piece", "lp")
        universe = _em_round(
            words, universe, scored, max_piece_len
        ).localCheckpoint(eager=False)
    cut = universe.orderBy(
        F.asc("tier"), F.desc("cnt"), F.asc("piece")
    ).limit(size)
    # rank over the ≤size-row cut: bounded single partition (the
    # vocab-build precedent), then rescore over the RETAINED mass
    w = Window.orderBy(F.asc("tier"), F.desc("cnt"), F.asc("piece"))
    ranked = cut.select(
        "piece",
        F.row_number().over(w).cast("long").alias("piece_id"),
        "cnt",
    )
    return _lp_micro(ranked).select(
        "piece", "piece_id", "cnt", F.col("lp").alias("logp_micro")
    )


def _encode_against(
    docs: DataFrame,
    model: DataFrame,
    max_piece_len: int,
    id_col: str,
    text_col: str,
    words: DataFrame | None = None,
    byte_fallback: bool = False,
) -> DataFrame:
    """Shared encode core (the WordPiece doctrine): Viterbi-segment
    the docs' DISTINCT words once against the frozen model, fold
    word → (pieces, n, lp, unk) into one broadcast map, then a single
    projection over document rows.

    ``byte_fallback=True`` is the production serve mode (SentencePiece
    ``--byte_fallback``): a word with no segmentation decomposes into
    its UTF-8 ``<0xNN>`` byte pieces instead of ``[UNK]`` — no input is
    ever unencodable, so ``n_unk_words`` is structurally 0 and the
    fallback count lands in ``n_fallback_words``.  Each byte piece
    charges :data:`BYTE_LOGP_MICRO`; the fallback is evaluated inside
    the same per-word map fold, so the plan shape (one distinct-word
    segmentation, one broadcast, one corpus projection) is unchanged."""
    if words is None:
        words = docs.select(
            F.explode(tokens_expr(text_col)).alias("word")
        ).distinct()
    scored = model.select("piece", F.col("logp_micro").alias("lp"))
    if byte_fallback:
        fb_ps = byte_pieces_sql("word")
        fb_n = "cast(octet_length(word) as bigint)"
        fb_lp = f"cast(octet_length(word) as bigint) * {BYTE_LOGP_MICRO}L"
    else:
        fb_ps, fb_n, fb_lp = f"'{UNK}'", "1L", f"{UNK_LOGP_MICRO}L"
    seg = viterbi_segment(words, scored, max_piece_len).select(
        "word",
        F.expr(f"coalesce(seg, {fb_ps})").alias("ps"),
        F.expr(
            f"CASE WHEN seg IS NULL THEN {fb_n} "
            "ELSE cast(size(split(seg, ' ')) as bigint) END"
        ).alias("n"),
        F.expr(f"coalesce(lp, {fb_lp})").alias("lp"),
        F.expr("seg IS NULL").alias("fb"),
    )
    sm = seg.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("word"),
                    F.struct("ps", "n", "lp", "fb"),
                )
            )
        ).alias("sm")
    )
    fb_count = (
        F.expr("size(filter(toks, t -> sm[t].fb))")
        .cast("long")
        .alias("n_fallback_words" if byte_fallback else "n_unk_words")
    )
    out = (
        docs.select(F.col(id_col), tokens_expr(text_col).alias("toks"))
        .crossJoin(F.broadcast(sm))
        .select(
            id_col,
            F.expr(
                "array_join(transform(toks, t -> sm[t].ps), ' ')"
            ).alias("up_str"),
            F.expr("aggregate(toks, 0L, (s, t) -> s + sm[t].n)").alias(
                "n_pieces"
            ),
            F.expr("aggregate(toks, 0L, (s, t) -> s + sm[t].lp)").alias(
                "logp_micro"
            ),
            *(
                [F.lit(0).cast("long").alias("n_unk_words"), fb_count]
                if byte_fallback
                else [fb_count]
            ),
        )
    )
    return out


def unigram_encode(
    docs: DataFrame,
    size: int = 64,
    seed_size: int = 256,
    max_piece_len: int = 3,
    em_rounds: int = 2,
    alphabet_min_permille: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train the model from the corpus and encode it end-to-end — the
    word census is scanned ONCE and shared between training and the
    serve segmentation.  Returns (id, up_str, n_pieces, logp_micro,
    n_unk_words); logp_micro is the document's total segmentation
    log likelihood in micro-units (UNK words charge
    ``UNK_LOGP_MICRO`` each)."""
    words = _word_counts(docs, text_col)
    model = _train_from_words(
        words,
        size=size,
        seed_size=seed_size,
        max_piece_len=max_piece_len,
        em_rounds=em_rounds,
        alphabet_min_permille=alphabet_min_permille,
    )
    return _encode_against(
        docs,
        model,
        max_piece_len,
        id_col,
        text_col,
        words=words.select("word"),
    )


def build_unigram_table(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    size: int = 64,
    seed_size: int = 256,
    max_piece_len: int = 3,
    em_rounds: int = 2,
    alphabet_min_permille: int = 10,
    text_col: str = "text",
    source_version: str | None = None,
) -> int:
    """Persist the trained piece model as a version-pinned snapshot
    table — the frozen-tokenizer doctrine: piece scores are only
    meaningful against one model generation, so commit meta pins the
    full build configuration and the serve path refuses a mismatch
    before touching a row."""
    from airflow_crypto_btc_spark.sources.snapshot_table import append

    return append(
        spark,
        unigram_train(
            docs,
            size=size,
            seed_size=seed_size,
            max_piece_len=max_piece_len,
            em_rounds=em_rounds,
            alphabet_min_permille=alphabet_min_permille,
            text_col=text_col,
        ),
        table,
        meta={
            "source_version": source_version,
            "size": size,
            "seed_size": seed_size,
            "max_piece_len": max_piece_len,
            "em_rounds": em_rounds,
            "alphabet_min_permille": alphabet_min_permille,
        },
    )


def unigram_encode_from_model(
    spark: SparkSession,
    docs: DataFrame,
    model_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    byte_fallback: bool = False,
) -> DataFrame:
    """Encode documents against the FROZEN persisted piece model.
    Serving needs no word table at all: unseen words segment at serve
    time with the row-local Viterbi DP over the broadcast model —
    max_piece_len rides the commit meta so a mismatched-width probe
    cannot exist.  ``byte_fallback=True`` replaces the ``[UNK]`` word
    path with UTF-8 ``<0xNN>`` byte pieces (see
    :func:`_encode_against`) — the production serve mode."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("unigram model", model_table, expect_source=expect_source)
    return _encode_against(
        docs,
        read_parts(spark, model_table, snap.files, snap),
        int(snap.meta["max_piece_len"]),
        id_col,
        text_col,
        byte_fallback=byte_fallback,
    )
