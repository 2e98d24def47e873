"""WordPiece tokenization: greedy longest-match-first (MaxMatch)
subword segmentation against a frozen piece vocabulary — the
BERT-family encode step (Wu et al. 2016; Song et al. 2021, "Fast
WordPiece Tokenization", whose LinMaxMatch trie collapses here to a
broadcast hash map because the vocab is kilobytes).

Semantics (the published spec, engine-exact):
- A word is segmented left-to-right; at each position the LONGEST
  vocab piece that matches wins.  The first piece of a word uses its
  raw form, every later piece its ``##``-prefixed continuation form —
  ``"scan"`` → ``sc ##a ##n`` when ``sc`` is in vocab.
- If ANY reached position matches no piece, the WHOLE word becomes
  ``[UNK]`` (the spec's word-level fallback, not a char skip).
- The vocab is frequency-built in two tiers, the BERT shape: tier 0
  is the qualified alphabet — BOTH forms of every single char whose
  RAW char mass (summed across forms) holds at least
  ``alphabet_min_permille``/1000 of total char occurrences — tier 1
  everything else by (count desc, piece asc); the top-``size`` cut
  over (tier, count desc, piece) is one deterministic total order,
  so the boundary never splits by engine.  Rare chars fall OUT of
  the alphabet, keeping the ``[UNK]`` path honestly exercised
  (qualifying per form instead starves word-initial forms — measured
  26/31 UNK words on the fixture vs 2/31 under raw-char mass).  (``##`` is the reserved continuation marker,
  as in BERT itself; input words containing ``#`` would share its
  namespace — both engines key identically, so equality still holds.)

Scale design (the 100 TB shape):
- **Census**: substring pieces explode off the DISTINCT-word table
  (Zipf-bounded, vocabulary-sized — never the corpus), O(L·maxlen)
  rows per word, one map-side-combined aggregation; the top-``size``
  cut is TakeOrderedAndProject, and id assignment ranks the ≤size-row
  result (bounded single partition, the vocab_build precedent).
- **Segment**: the greedy walk is ROW-LOCAL — a per-word ``jumps``
  array (longest match per position, computed by higher-order
  ``transform``/``filter`` probing the broadcast piece map) followed
  by one ``aggregate`` walking pos → pos + jumps[pos].  No UDF, no
  shuffle, no driver round-trip: an UNSEEN word segments at serve
  time against nothing but the broadcast vocab — which is why the
  frozen-model path needs no word table.
- **Encode**: segmented distinct words fold into ONE broadcast map
  (built distributed via ``map_from_entries(collect_list(...))``);
  documents take a single projection — corpus rows never enter any
  exchange, the encode_from_vocab doctrine.
- **Freeze**: piece ids are only meaningful against one vocab
  generation; the snapshot table pins (source_version, size,
  max_piece_len, alphabet_min_permille) in commit meta and the serve
  path refuses a mismatched generation from metadata alone.

No counterpart in the reference (``dags/dag_btc_daily.py`` has no
text surface); extends the SURVEY §2.8 tokenizer family alongside
BPE (operators/vocab.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import tokens_expr

#: the spec's whole-word fallback token
UNK = "[UNK]"


def _pieces_expr(word_col: str, max_piece_len: int) -> F.Column:
    """All candidate pieces of a word: substrings of length
    1..max_piece_len, raw form at position 1, ``##``-form after."""
    return F.expr(
        f"flatten(transform(sequence(1, length({word_col})), p -> "
        f"transform(sequence(1, least({max_piece_len}, "
        f"length({word_col}) - p + 1)), l -> "
        f"CASE WHEN p = 1 THEN substr({word_col}, p, l) "
        f"ELSE concat('##', substr({word_col}, p, l)) END)))"
    )


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """The ONE corpus scan: distinct words with counts (Zipf-bounded —
    vocabulary-sized, never corpus-sized)."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def wordpiece_vocab_build(
    docs: DataFrame,
    size: int = 64,
    max_piece_len: int = 3,
    alphabet_min_permille: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Two-tier frequency-built piece vocabulary; returns
    (piece, piece_id, cnt) with ids 1..size assigned along the same
    deterministic (tier, cnt desc, piece asc) order as the cut."""
    return _vocab_from_words(
        _word_counts(docs, text_col),
        size=size,
        max_piece_len=max_piece_len,
        alphabet_min_permille=alphabet_min_permille,
    )


def _vocab_from_words(
    words: DataFrame,
    size: int,
    max_piece_len: int,
    alphabet_min_permille: int,
) -> DataFrame:
    # raw char of a single-char piece in either form: 'x' or '##x'
    # (exact while '#' stays out of the input space — ## is reserved)
    raw_char = (
        "CASE WHEN length(piece) = 1 THEN piece "
        "WHEN length(piece) = 3 AND substr(piece, 1, 2) = '##' "
        "THEN substr(piece, 3, 1) END"
    )
    census = (
        words.select(
            F.explode(_pieces_expr("word", max_piece_len)).alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .withColumn("raw_char", F.expr(raw_char))
    )
    # char mass per RAW char (both forms pooled): every char
    # occurrence is exactly one len-1 piece in exactly one form, so
    # the pooled sums partition total char occurrences.  The char
    # table is alphabet-sized — a broadcast, never collected.
    chars = (
        census.filter(F.col("raw_char").isNotNull())
        .groupBy("raw_char")
        .agg(F.sum("cnt").cast("long").alias("ccnt"))
    )
    tot = chars.agg(F.sum("ccnt").cast("long").alias("tot_chars"))
    qual = chars.crossJoin(F.broadcast(tot)).select(
        "raw_char",
        F.expr(
            f"ccnt * 1000 >= tot_chars * {alphabet_min_permille}"
        ).alias("alpha"),
    )
    tiered = census.join(F.broadcast(qual), "raw_char", "left").select(
        "piece",
        "cnt",
        F.expr(
            "CASE WHEN alpha THEN 0 ELSE 1 END"
        ).alias("tier"),
    )
    top = tiered.orderBy(
        F.asc("tier"), F.desc("cnt"), F.asc("piece")
    ).limit(size)
    # rank over the ≤size-row top cut: bounded single partition
    w = Window.orderBy(F.asc("tier"), F.desc("cnt"), F.asc("piece"))
    return top.select(
        "piece",
        F.row_number().over(w).cast("long").alias("piece_id"),
        "cnt",
    )


def _vocab_map(vocab: DataFrame) -> DataFrame:
    """Fold the piece vocab into a one-row broadcastable map frame
    (built distributed — never collected to the driver)."""
    return vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "piece_id"))
        ).alias("vm")
    )


def wordpiece_segment(
    words: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = 3,
    word_col: str = "word",
) -> DataFrame:
    """Greedy MaxMatch segmentation of each word against the piece
    vocab, entirely row-local over the broadcast map: a per-position
    longest-match ``jumps`` array, then one ``aggregate`` walk
    (pos → pos + jumps[pos]; a null jump fails the WHOLE word to
    ``[UNK]``).  Input may be any word set — unseen serve-time words
    segment the same way.  Returns (word, pieces_str, n_pieces,
    is_unk).

    Served as a JVM expression because an Arrow form measured slower
    at sf0.1 (text_wordpiece_encode 1.8 → 2.8 s): the distinct-word
    table is small, so its extra vocab collect and Python pass cost
    more than the walk."""
    jumps = (
        f"transform(sequence(1, length({word_col})), p -> "
        f"array_max(filter(sequence(1, least({max_piece_len}, "
        f"length({word_col}) - p + 1)), "
        f"l -> vm[CASE WHEN p = 1 THEN substr({word_col}, p, l) "
        f"ELSE concat('##', substr({word_col}, p, l)) END] "
        "IS NOT NULL)))"
    )
    # the walk advances ≥1 per step, so length(word) iterations always
    # cover it; completed/failed states pass through untouched
    walk = f"""
      aggregate(
        sequence(1, length({word_col})),
        named_struct('pos', 1,
                     'pieces', cast(array() as array<string>),
                     'ok', true),
        (acc, i) -> CASE
          WHEN NOT acc.ok OR acc.pos > length({word_col}) THEN acc
          WHEN element_at(jumps, acc.pos) IS NULL THEN
            named_struct('pos', acc.pos, 'pieces', acc.pieces,
                         'ok', false)
          ELSE named_struct(
            'pos', acc.pos + element_at(jumps, acc.pos),
            'pieces', array_append(acc.pieces,
              CASE WHEN acc.pos = 1
                THEN substr({word_col}, acc.pos,
                            element_at(jumps, acc.pos))
                ELSE concat('##', substr({word_col}, acc.pos,
                            element_at(jumps, acc.pos))) END),
            'ok', true)
        END,
        acc -> named_struct(
          'pieces',
          CASE WHEN acc.ok THEN acc.pieces ELSE array('{UNK}') END,
          'ok', acc.ok))
    """
    return (
        words.crossJoin(F.broadcast(_vocab_map(vocab)))
        .withColumn("jumps", F.expr(jumps))
        .withColumn("seg", F.expr(walk))
        .select(
            word_col,
            F.expr("array_join(seg.pieces, ' ')").alias("pieces_str"),
            F.expr("size(seg.pieces)").cast("long").alias("n_pieces"),
            F.expr("NOT seg.ok").alias("is_unk"),
        )
    )


def _encode_against(
    docs: DataFrame,
    vocab: DataFrame,
    max_piece_len: int,
    id_col: str,
    text_col: str,
    words: DataFrame | None = None,
    byte_fallback: bool = False,
) -> DataFrame:
    """Shared encode core: segment the docs' DISTINCT words once
    (vocabulary-sized work), fold word → (pieces, n, unk) into one
    broadcast map, then a single projection over document rows.  A
    caller that already censused the corpus passes ``words`` so the
    scan isn't paid twice.

    ``byte_fallback=True`` is the production serve mode (the HF
    ``ByteFallback`` decorator over the word-level ``[UNK]`` unit): a
    failed word decomposes into its UTF-8 ``<0xNN>`` byte pieces, so
    no input is ever unencodable — ``n_unk_words`` is structurally 0
    and the fallback count lands in ``n_fallback_words``.  Evaluated
    inside the same per-word map fold; plan shape unchanged."""
    from airflow_crypto_btc_spark.operators.unigram import (
        byte_pieces_sql,
    )

    if words is None:
        words = docs.select(
            F.explode(tokens_expr(text_col)).alias("word")
        ).distinct()
    seg = wordpiece_segment(words, vocab, max_piece_len=max_piece_len)
    if byte_fallback:
        seg = seg.select(
            "word",
            F.expr(
                f"CASE WHEN is_unk THEN {byte_pieces_sql('word')} "
                "ELSE pieces_str END"
            ).alias("pieces_str"),
            F.expr(
                "CASE WHEN is_unk THEN cast(octet_length(word) as bigint) "
                "ELSE n_pieces END"
            ).alias("n_pieces"),
            "is_unk",
        )
    fb_count = (
        F.expr("size(filter(toks, t -> sm[t].unk))")
        .cast("long")
        .alias("n_fallback_words" if byte_fallback else "n_unk_words")
    )
    sm = seg.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("word"),
                    F.struct(
                        F.col("pieces_str").alias("ps"),
                        F.col("n_pieces").alias("n"),
                        F.col("is_unk").alias("unk"),
                    ),
                )
            )
        ).alias("sm")
    )
    return (
        docs.select(F.col(id_col), tokens_expr(text_col).alias("toks"))
        .crossJoin(F.broadcast(sm))
        .select(
            id_col,
            F.expr(
                "array_join(transform(toks, t -> sm[t].ps), ' ')"
            ).alias("wp_str"),
            F.expr(
                "aggregate(toks, 0L, (s, t) -> s + sm[t].n)"
            ).alias("n_pieces"),
            *(
                [F.lit(0).cast("long").alias("n_unk_words"), fb_count]
                if byte_fallback
                else [fb_count]
            ),
        )
    )


def wordpiece_encode(
    docs: DataFrame,
    size: int = 64,
    max_piece_len: int = 3,
    alphabet_min_permille: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build the vocab from the corpus and encode it end-to-end —
    the word census is scanned ONCE and shared between the vocab
    build and the segmentation.  Returns (id, wp_str, n_pieces,
    n_unk_words)."""
    words = _word_counts(docs, text_col)
    vocab = _vocab_from_words(
        words,
        size=size,
        max_piece_len=max_piece_len,
        alphabet_min_permille=alphabet_min_permille,
    )
    return _encode_against(
        docs,
        vocab,
        max_piece_len,
        id_col,
        text_col,
        words=words.select("word"),
    )


def build_wordpiece_table(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    size: int = 64,
    max_piece_len: int = 3,
    alphabet_min_permille: int = 10,
    text_col: str = "text",
    source_version: str | None = None,
) -> int:
    """Persist the piece vocab as a version-pinned snapshot table —
    the frozen-tokenizer doctrine: piece boundaries are only
    meaningful against one vocab generation, so commit meta pins the
    full build configuration and the serve path refuses a mismatch
    before touching a row."""
    from airflow_crypto_btc_spark.sources.snapshot_table import append

    return append(
        spark,
        wordpiece_vocab_build(
            docs,
            size=size,
            max_piece_len=max_piece_len,
            alphabet_min_permille=alphabet_min_permille,
            text_col=text_col,
        ),
        table,
        meta={
            "source_version": source_version,
            "size": size,
            "max_piece_len": max_piece_len,
            "alphabet_min_permille": alphabet_min_permille,
        },
    )


def wordpiece_encode_from_model(
    spark: SparkSession,
    docs: DataFrame,
    vocab_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
    byte_fallback: bool = False,
) -> DataFrame:
    """Encode documents against the FROZEN persisted piece vocab.
    Unlike the word-map tokenizers, serving needs no word table at
    all: unseen words segment at serve time with the row-local walk
    over the broadcast vocab — max_piece_len rides the commit meta so
    a mismatched-width probe cannot exist.  ``byte_fallback=True``
    replaces the ``[UNK]`` word path with UTF-8 ``<0xNN>`` byte
    pieces (see :func:`_encode_against`)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("WordPiece vocab", vocab_table, expect_source=expect_source)
    return _encode_against(
        docs,
        read_parts(spark, vocab_table, snap.files, snap),
        int(snap.meta["max_piece_len"]),
        id_col,
        text_col,
        byte_fallback=byte_fallback,
    )
