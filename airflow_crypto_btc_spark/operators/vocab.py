"""Tokenizer-vocabulary lifecycle: build the frequency-ranked vocab,
persist it version-pinned, and encode documents against the FROZEN
vocab — the step between curation and tokenizer sharding where text
becomes the id arrays a trainer actually reads.

Scale design:
- **Build**: token counts are one vocabulary-keyed aggregation
  (map-side combined; the key space is the Zipf-bounded vocabulary,
  not the corpus), then the top-``size`` cut is a distributed top-k
  (``orderBy().limit()`` compiles to TakeOrderedAndProject — no global
  sort), and id assignment is a rank over the ≤``size``-row result
  (single-partition over a provably bounded frame).
- **Encode**: the vocab folds into ONE map value (built distributed —
  ``map_from_entries(collect_list(...))`` — never collected to the
  driver) that broadcasts to every task; encoding is then a pure
  per-row ``transform(tokens, t -> map[t])`` — document token rows
  never enter a shuffle, and OOV handling (id −1 + a count) is part of
  the same projection.  A real 32k-100k BPE vocab is kilobytes-MBs:
  exactly the broadcast-don't-shuffle shape.
- **Freeze**: ids are only meaningful against one vocab generation, so
  the table pins ``source_version`` + ``size`` in commit meta and
  ``encode_from_vocab`` refuses a mismatched generation from metadata
  alone (same doctrine as the text models / the semantic quantizer).

No counterpart in the reference (``dags/dag_btc_daily.py`` has no text
surface); extends the SURVEY §2.8 text family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.functions.hashing import (
    split_tokens,
    tokens_expr,
)


def vocab_build(
    docs: DataFrame,
    size: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-ranked vocabulary: the ``size`` most frequent tokens,
    ids 1..size by (count desc, token asc) — a deterministic total
    order, so the boundary cut never splits by engine.  Returns
    (token, token_id, cnt)."""
    counts = (
        docs.select(F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(size)
    # rank over the ≤size-row top cut: bounded single partition
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.select(
        "token",
        F.row_number().over(w).cast("long").alias("token_id"),
        "cnt",
    )


def build_vocab_table(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    size: int = 20,
    text_col: str = "text",
    source_version: str | None = None,
) -> int:
    """Persist the vocab as a version-pinned snapshot table."""
    from airflow_crypto_btc_spark.sources.snapshot_table import append

    return append(
        spark,
        vocab_build(docs, size=size, text_col=text_col),
        table,
        meta={"source_version": source_version, "size": size},
    )


def encode_from_vocab(
    spark: SparkSession,
    docs: DataFrame,
    vocab_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """Encode documents against the FROZEN persisted vocab: id arrays
    (OOV → −1) plus token/OOV counts, one pure per-row projection over
    a broadcast one-row map — no shuffle touches document rows.
    Returns (id, ids_str, n_tokens, n_oov); ids are emitted as a
    space-joined string for stable cross-engine comparison (the
    signature-array precedent)."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("vocab", vocab_table, expect_source=expect_source)
    vmap = read_parts(spark, vocab_table, snap.files, snap).agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "token_id"))
        ).alias("vm")
    )
    return (
        docs.select(
            F.col(id_col), tokens_expr(text_col).alias("toks")
        )
        .crossJoin(F.broadcast(vmap))
        .select(
            id_col,
            F.expr(
                "array_join(transform(toks,"
                " t -> coalesce(vm[t], -1L)), ' ')"
            ).alias("ids_str"),
            F.expr("size(toks)").cast("long").alias("n_tokens"),
            F.expr(
                "size(filter(toks, t -> vm[t] is null))"
            )
            .cast("long")
            .alias("n_oov"),
        )
    )


def pack_bins_from_vocab(
    spark: SparkSession,
    docs: DataFrame,
    vocab_table: str,
    budget: int = 512,
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """The final training-batch artifact: frozen-vocab-encoded documents
    packed into fixed-``budget`` bins, each bin one concatenated id
    sequence — what a trainer's data loader actually reads.

    Composition of the pipeline's last three steps in ONE lineage: the
    encode projection (broadcast vocab map, no shuffle) already carries
    ``n_tokens``, so bin assignment reuses it — hash-shard by id,
    in-shard exclusive cumsum (``pack_sequences``' exact integer
    arithmetic: deterministic, re-run- and repartition-stable), bin =
    cumsum div budget — and the only data that ever crosses a shuffle
    is the encoded id strings being grouped into their bins (inherent:
    packing MATERIALIZES sequences; two keyed exchanges, both on
    compact (shard[, bin]) keys).  Empty documents still occupy their
    bin slot (n_docs counts them) but contribute no id segment —
    filtered inside the concat, so no double separators."""
    enc = encode_from_vocab(
        spark, docs, vocab_table, id_col, text_col, expect_source
    )
    with_shard = enc.withColumn(
        "shard",
        F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)),1,8),16,10)"
            f" as bigint) % {shards}"
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = with_shard.withColumn(
        "cum_excl",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint")),
    ).withColumn("bin", F.expr(f"cum_excl div {budget}"))
    return binned.groupBy("shard", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.sum("n_oov").cast("long").alias("bin_oov"),
        F.expr(
            "concat_ws(' ', filter(transform("
            f"array_sort(collect_list(struct({id_col}, ids_str))),"
            " s -> s.ids_str), x -> x != ''))"
        ).alias("bin_ids"),
    )


def release_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    vocab_table: str,
    quality_min_micro: int = 500_000,
    budget: int = 512,
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """The corpus release as ONE declarative plan: quality gate →
    exact-dedup keep-first → frozen-vocab encode → fixed-budget packing,
    ending in the bins a trainer reads.  Each stage is the catalog's own
    oracle-backed operator; composing them in one lineage lets Catalyst
    optimize ACROSS stages (the gate's projection prunes into the scan,
    the dedup semi-join reuses the facts projection) instead of
    materializing intermediates between pipeline steps.

    Stage costs: the gate + digest come from ``card_facts`` (one scan,
    no shuffle); keep-first is one digest-keyed aggregation + an
    id-keyed semi-join (compact keys both); encode is the broadcast-map
    projection; packing's two exchanges carry only surviving encoded
    rows.  Nothing quadratic, nothing corpus-sized on the driver."""
    from airflow_crypto_btc_spark.operators.curation import card_facts

    facts = card_facts(docs, text_col, id_col)
    gated = facts.filter(
        F.col("quality_micro") >= quality_min_micro
    )
    keep_ids = gated.groupBy("fp_md5").agg(
        F.min(id_col).alias(id_col)
    ).select(id_col)
    survivors = docs.join(keep_ids, id_col, "left_semi")
    return pack_bins_from_vocab(
        spark,
        survivors,
        vocab_table,
        budget=budget,
        shards=shards,
        id_col=id_col,
        text_col=text_col,
        expect_source=expect_source,
    )


# ------------------------------------------------------------------ BPE
# Byte-pair encoding (Sennrich, Haddow & Birch, ACL 2016): the trained
# subword tokenizer, as opposed to the frequency-ranked word vocab above.


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The ONE corpus scan BPE needs: whitespace words with counts.
    Everything after (the merge loop, the census, the argmax) operates
    on this Zipf-bounded frame — vocabulary-sized, never corpus-sized —
    which is exactly how production BPE trainers scale."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


#: end-of-word marker (the classic formulation): merges learned at word
#: ends stay distinct from word-internal merges
_BPE_EOW = "</w>"

#: symbol-end marker (ASCII unit separator): every symbol in a spaced
#: sequence ends with exactly one marker — ``' h\x1f i\x1f </w>\x1f'`` —
#: so a merge is the literal replace of ``' l\x1f r\x1f'`` with
#: ``' lr\x1f'``.  The marker is the boundary AFTER ``r``, so the match
#: consumes nothing of the NEXT symbol's leading space: a run of equal
#: symbols merges left-to-right canonically (``b b b b`` → ``bb bb``),
#: where a space-bounded pattern ``' l r '`` eats the following
#: separator and merges runs only alternately (the round-9 ADVICE bug).
_BPE_MARK = "\x1f"

#: chars scrubbed from input words: the marker itself plus the record
#: separator the oracle uses as its empty-census sentinel (chr 30) —
#: both are non-whitespace control chars no real tokenizer input carries
_BPE_SCRUB = "\x1f\x1e"
_BPE_SCRUB_TABLE = str.maketrans("", "", _BPE_SCRUB)


def _bpe_seq_expr(word_col: str) -> F.Column:
    """Initial symbol sequence of a word as a SPACED, MARKER-TERMINATED
    string — ``' h\\x1f i\\x1f </w>\\x1f'`` (leading space before every
    symbol, ``\\x1f`` after every symbol).  Characters come from
    ``substr`` over ``sequence(1, length)``, an idiom Spark and DuckDB
    evaluate identically (no engine-specific empty-split semantics);
    control chars that collide with the encoding are scrubbed first."""
    w = f"translate({word_col}, '{_BPE_SCRUB}', '')"
    return F.expr(
        f"concat(' ', concat_ws(' ', transform(sequence(1, "
        f"length({w})), i -> concat(substr({w}, i, 1), '{_BPE_MARK}'))), "
        f"' {_BPE_EOW}{_BPE_MARK}')"
    )


#: adjacent symbol pairs of a spaced sequence, markers stripped (every
#: symbol carries exactly one trailing marker and none inside, so one
#: global replace un-marks the whole sequence); the size guard matters —
#: a fully-merged word has ONE symbol and Spark's sequence(0, -1)
#: counts DOWN (same trap shingles_expr documents)
_BPE_SYMS = f"split(replace(btrim(seq), '{_BPE_MARK}', ''), ' ')"
_BPE_PAIRS_EXPR = (
    f"CASE WHEN size({_BPE_SYMS}) >= 2 THEN "
    f"transform(sequence(0, size({_BPE_SYMS}) - 2), "
    f"i -> struct({_BPE_SYMS}[i] AS l, "
    f"{_BPE_SYMS}[i + 1] AS r)) "
    "ELSE array() END"
)


def bpe_train(
    docs: DataFrame,
    merges: int = 8,
    text_col: str = "text",
    driver_rows_cap: int = 1_000_000,
) -> list[tuple[int, str, str, int]]:
    """Train a BPE merge list: ``merges`` greedy iterations of
    count-adjacent-pairs → merge the most frequent pair everywhere
    (count desc, then (left, right) text asc — a deterministic total
    order, so training is replayable in plain SQL).

    Scale shape (round-10): ONE distributed corpus scan builds the word
    table (vocabulary-sized, Zipf-bounded — the corpus is never
    rescanned), and when that table fits ``driver_rows_cap`` rows it is
    collected ONCE and the whole greedy loop runs driver-side over the
    collected (word, count) dict — the standard tokenizer-trainer shape
    (Sennrich et al. 2016 reference implementation; HF tokenizers), so a
    32k-merge vocabulary costs one Spark job + an in-memory loop instead
    of 32k sequential cluster round-trips.  Corpora whose word table
    exceeds the cap (the probe is ``limit(cap + 1).collect()``, bounded
    by construction) fall back to the fully distributed loop: per step
    one pair census over the word table, one ``orderBy().limit(1)``
    argmax (TakeOrderedAndProject), one literal-replace projection.
    Both paths apply merges CANONICALLY (non-consuming symbol-end
    markers / list scan) and share the same tie-break, so they produce
    bit-identical merge lists — property-tested.

    Returns the ordered merge list [(step, left, right, pair_count)]."""
    words = bpe_word_counts(docs, text_col)
    probe = words.limit(driver_rows_cap + 1).collect()
    if len(probe) <= driver_rows_cap:
        return _bpe_train_local(
            [(r["word"], r["cnt"]) for r in probe], merges
        )
    seqs = (
        words
        .withColumn("seq", _bpe_seq_expr("word"))
        .select("cnt", "seq")
        .localCheckpoint(eager=False)
    )
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, merges + 1):
        best = (
            seqs.select("cnt", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # no adjacent pairs left (degenerate corpus)
        l, r, pc = best[0]["l"], best[0]["r"], best[0]["pc"]
        out.append((step, l, r, int(pc)))
        seqs = seqs.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f" {l}{_BPE_MARK} {r}{_BPE_MARK}"),
                F.lit(f" {l}{r}{_BPE_MARK}"),
            ),
        ).localCheckpoint(eager=False)
    return out


def _bpe_merge_deltas(
    syms: list[str], l: str, r: str
) -> tuple[list[str], dict[tuple[str, str], int]]:
    """Canonical merge of one pair PLUS the pair-census delta it causes,
    computed from the match neighborhoods only (the Sennrich-trainer
    delta update): a match at position i removes the old pairs at
    offsets (i-1, i, i+1) and the merged token adds its two new
    adjacencies — every pair outside those windows is untouched, so the
    delta costs O(matches), not O(word length) dict traffic.  Returns
    ``(merged_symbols, {pair: census_change})``; an empty delta means
    the pair does not occur (stale index probe)."""
    out: list[str] = []
    match_new_idx: list[int] = []
    removed_j: set[int] = set()
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == l and syms[i + 1] == r:
            for j in (i - 1, i, i + 1):
                if 0 <= j <= n - 2:
                    removed_j.add(j)
            out.append(l + r)
            match_new_idx.append(len(out) - 1)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    if not match_new_idx:
        return out, {}
    delta: dict[tuple[str, str], int] = {}
    for j in removed_j:
        p = (syms[j], syms[j + 1])
        delta[p] = delta.get(p, 0) - 1
    added_k: set[int] = set()
    m = len(out)
    for k in match_new_idx:
        if k - 1 >= 0:
            added_k.add(k - 1)
        if k + 1 <= m - 1:
            added_k.add(k)
    for k in added_k:
        p = (out[k], out[k + 1])
        delta[p] = delta.get(p, 0) + 1
    return out, {p: d for p, d in delta.items() if d != 0}


def _bpe_train_local(
    words: list[tuple[str, int]], merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side greedy BPE over a collected (word, count) table —
    the fast path of :func:`bpe_train`.  Incremental pair-stat
    maintenance: a merge re-censuses ONLY the words that contain the
    merged pair (tracked by an inverted index), the trick that makes
    vocab-scale training (tens of thousands of merges) linear-ish
    instead of quadratic.  Tie-break mirrors the SQL argmax exactly:
    count desc, then (l, r) ascending — Python's code-point string
    order equals both engines' binary UTF-8 collation.  The argmax is a
    lazy-deletion heap keyed (-count, (l, r)) — heap order IS the SQL
    ``ORDER BY pc DESC, l, r`` — revalidated against live stats at pop,
    so each merge costs O(touched pairs · log), not O(|pair table|);
    that is what keeps a 32k-merge training in seconds."""
    import heapq
    from collections import defaultdict

    scrub = str.maketrans("", "", _BPE_SCRUB)
    vocab: list[tuple[list[str], int]] = [
        (list(w.translate(scrub)) + [_BPE_EOW], int(c)) for w, c in words
    ]
    stats: dict[tuple[str, str], int] = defaultdict(int)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, (syms, c) in enumerate(vocab):
        for pair in zip(syms, syms[1:]):
            stats[pair] += c
            index[pair].add(wi)
    heap = [(-c, p) for p, c in stats.items() if c > 0]
    heapq.heapify(heap)
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, merges + 1):
        # pop stale entries until the top reflects live stats
        while heap and not (
            -heap[0][0] > 0 and stats.get(heap[0][1], 0) == -heap[0][0]
        ):
            heapq.heappop(heap)
        if not heap:
            break  # no adjacent pairs left (degenerate corpus)
        negc, (l, r) = heapq.heappop(heap)
        pc = -negc
        out.append((step, l, r, int(pc)))
        # delta-update exactly the words holding the pair: only the
        # pairs in the match neighborhoods change (O(matches) dict
        # traffic per word, the Sennrich-trainer update); a stale index
        # entry (word no longer has the pair) costs one scan, zero
        # dict ops.  Positive-delta pairs are (re-)indexed; a pair
        # present with net-zero delta was present before the merge and
        # is already indexed (superset induction).
        touched: set[tuple[str, str]] = set()
        for wi in index.pop((l, r), set()):
            syms, c = vocab[wi]
            merged, delta = _bpe_merge_deltas(syms, l, r)
            if not delta:
                continue
            vocab[wi] = (merged, c)
            for pair, dc in delta.items():
                stats[pair] += dc * c
                touched.add(pair)
                if dc > 0:
                    index[pair].add(wi)
        # the merged pair is fully consumed (canonical apply leaves no
        # (l, r) adjacency); a later re-formed composite re-accumulates
        # from zero through the defaultdict + heap pushes below
        stats.pop((l, r), None)
        touched.discard((l, r))
        for pair in touched:
            if stats.get(pair, 0) > 0:
                heapq.heappush(heap, (-stats[pair], pair))
    return out


def bpe_merges_df(spark: SparkSession, merges) -> DataFrame:
    """The trained merge list as a frame — (step, lhs, rhs, pair_count),
    the persistable tokenizer artifact (``lhs``/``rhs`` because
    left/right are SQL keywords on both engines)."""
    return spark.createDataFrame(
        merges, "step long, lhs string, rhs string, pair_count long"
    )


def build_bpe_table(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    merges: int = 6,
    source_version: str = "v0",
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Train and PERSIST the BPE merge list as a version-pinned snapshot
    table — the frozen-tokenizer doctrine: subword boundaries are only
    meaningful against one merge generation, so the commit meta pins
    (source_version, merges) and :func:`encode_from_bpe` refuses a
    mismatched generation before touching a row."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    trained = bpe_train(docs, merges=merges, text_col=text_col)
    overwrite(
        spark,
        bpe_merges_df(spark, trained),
        table,
        meta={"source_version": source_version, "merges": merges},
    )
    return trained


def load_bpe_merges(spark: SparkSession, table: str, expect_source=None):
    """Load a persisted merge list in TRAINING ORDER, pinned (README,
    "Frozen inputs")."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("BPE merges", table, expect_source=expect_source)
    rows = read_parts(spark, table, snap.files, snap).orderBy(
        "step"
    ).collect()
    return [
        (r["step"], r["lhs"], r["rhs"], r["pair_count"]) for r in rows
    ]


def encode_from_bpe(
    spark: SparkSession,
    docs: DataFrame,
    merges_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source=None,
) -> DataFrame:
    """Frozen-tokenizer encode: load the persisted merge list (a few
    rows — the model is kilobytes) and apply it to every document in
    one scan.  Serving never retrains; a merge-table rebuild
    under a caller expecting the old generation is refused by
    metadata."""
    return bpe_encode_counts(
        docs,
        load_bpe_merges(spark, merges_table, expect_source),
        id_col,
        text_col,
    )


def _bpe_count_word(w: str, merges) -> int:
    """Post-merge symbol count of one (already-scrubbed) word through
    the marker-string pipeline the oracle runs, string op for string op:
    build the spaced marker-terminated sequence (:func:`_bpe_seq_expr`),
    apply each merge as a literal left-to-right replace in training
    order, count = ``size(split(btrim(s), ' '))``.  An empty-after-scrub
    word follows the SQL idiom's ``sequence(1, 0) = [1, 0]`` quirk, so
    parity holds on every input, not just clean ones."""
    if w:
        parts = [c + _BPE_MARK for c in w]
    else:
        # sequence(1, length('')) = sequence(1, 0) = [1, 0]: two
        # substr('', …) = '' elements, each marker-terminated
        parts = [_BPE_MARK, _BPE_MARK]
    s = " " + " ".join(parts) + " " + _BPE_EOW + _BPE_MARK
    for _step, left, right, _pc in merges:
        s = s.replace(
            f" {left}{_BPE_MARK} {right}{_BPE_MARK}",
            f" {left}{right}{_BPE_MARK}",
        )
    return len(s.strip(" ").split(" "))


def bpe_encode_counts(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document with a trained merge list and report
    (id, n_words, n_bpe_tokens) — the sequence-length accounting a
    training-batch planner reads (subword counts, not whitespace
    counts, decide packing budgets).

    Each word becomes its spaced, marker-terminated symbol string (see
    ``_BPE_MARK`` — the marker is the non-consuming right boundary that
    makes repeated-symbol runs merge canonically), the merges apply as
    literal replaces IN TRAINING ORDER (BPE's apply rule), and the
    token count is the sum of the words' post-merge symbol counts.

    Served by an Arrow ``mapInPandas`` kernel: the merge chain runs once
    per DISTINCT word per batch (dict memo) instead of once per word
    instance — as a JVM expression it re-derived the whole chain for
    every token of every row (3.2× slower at sf0.1).  The merge list
    is a driver-side Python list in every caller (the persisted model
    is kilobytes).  A NULL text gives n_words -1 and a NULL count, as
    ``size``/``aggregate`` over ``split(NULL)`` do."""
    import pandas as pd

    mg = [tuple(m) for m in merges]

    def _run(batches):
        memo: dict[str, int] = {}
        for pdf in batches:
            n_words: list[int] = []
            n_bpe: list[int | None] = []
            for txt in pdf[text_col]:
                if not isinstance(txt, str):
                    n_words.append(-1)
                    n_bpe.append(None)
                    continue
                toks = split_tokens(txt)
                n_words.append(len(toks))
                total = 0
                for t in toks:
                    w = t.translate(_BPE_SCRUB_TABLE)
                    c = memo.get(w)
                    if c is None:
                        c = memo[w] = _bpe_count_word(w, mg)
                    total += c
                n_bpe.append(total)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": n_words,
                    "n_bpe_tokens": pd.array(n_bpe, dtype="Int64"),
                }
            )

    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        _run,
        schema=f"`{id_col}` {id_type}, n_words long, n_bpe_tokens long",
    )
