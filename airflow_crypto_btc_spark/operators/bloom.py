"""Bloom-pruned cross-corpus novelty — the membership primitive a
training pipeline uses to ask "which of today's documents has the
historical corpus never seen?" without shuffling the historical corpus.

Spark 4 does not register ``bloom_filter_agg`` for user SQL, so the
filter is built here from first principles, Spark-first:

- the two hash lanes are ``xxhash64(digest, seed)`` — computed JVM-side,
  so the corpus scan stays in whole-stage codegen;
- per-Arrow-batch kernels OR positions ``(h1 + i·h2) mod n_bits``
  (classic double hashing, Kirsch–Mitzenmacher) into a fixed-size
  bitmap; partial bitmaps (one per batch, ``n_bits/8`` bytes) are OR'd
  on the driver — the reduction payload is #batches × filter size,
  never row count;
- serving broadcasts the final bitmap and tests all ``k`` bits per
  incoming row vectorized in numpy.

The set/test kernels live ONLY here (``_set_bits`` / ``_test_bits``) —
the streaming sink imports them, because persisted bloom state is only
valid while every producer and consumer computes bit positions
identically.

The bloom is a PRE-FILTER only: rows whose bits are not all set are
*definitely* new (no false negatives by construction) and skip the
join entirely; only the "possibly seen" remainder — |incoming| ×
fp_rate of the truly-new rows, plus the true duplicates — goes through
the exact anti-join.  The final output is therefore EXACT (DuckDB
replays it as a plain anti-join), while the expensive join's probe side
shrinks from |incoming| to roughly |duplicates|.  At 100 TB the
historical side contributes only digests to the build scan and the
bitmap (megabytes) to the serve path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.dedup import NORMALIZED_TEXT


def _digest_expr(text_col: str):
    """Content digest on the SAME normalization exact dedup uses
    (imported, not copied — novelty and exact dedup must agree on
    content identity by construction)."""
    return F.expr(f"md5({NORMALIZED_TEXT.format(col=text_col)})")


def _digest_cols(df: DataFrame, text_col: str) -> DataFrame:
    digest = _digest_expr(text_col)
    return df.withColumn("_h1", F.xxhash64(digest)).withColumn(
        "_h2",
        # distinct lane: seed the second hash by a marker prefix (the
        # JVM expression reuses the same codegen'd digest)
        F.xxhash64(F.concat(F.lit("b:"), digest)),
    )


def _set_bits(bitmap, h1, h2, n_bits: int, k: int) -> None:
    """OR the k double-hash positions of each (h1, h2) pair into
    ``bitmap`` (uint8 array, modified in place).  h1/h2 are uint64
    numpy arrays."""
    import numpy as np

    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        np.bitwise_or.at(
            bitmap,
            (pos >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8),
        )


def _test_bits(bitmap, h1, h2, n_bits: int, k: int):
    """Boolean array: all k positions set for each (h1, h2) pair."""
    import numpy as np

    hit = np.ones(len(h1), dtype=bool)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
        hit &= ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1).astype(
            bool
        )
    return hit


def bitmap_of_hashes(
    hashed: DataFrame, n_bits: int, k: int
) -> bytes:
    """Distributed bitmap build over a frame carrying ``_h1``/``_h2``:
    per-Arrow-batch partial bitmaps, OR'd on the driver.  The driver
    payload is #batches × n_bits/8 — never row count — which is what
    lets a backfill-scale first batch build its filter without a
    driver-side row collect."""
    import numpy as np
    import pandas as pd

    if n_bits % 8:
        raise ValueError("n_bits must be a multiple of 8")

    def _partial(batches):
        bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
        touched = False
        for pdf in batches:
            if pdf.empty:
                continue
            touched = True
            _set_bits(
                bitmap,
                pdf["_h1"].to_numpy(np.int64).astype(np.uint64),
                pdf["_h2"].to_numpy(np.int64).astype(np.uint64),
                n_bits,
                k,
            )
        if touched:
            yield pd.DataFrame({"bm": [bitmap.tobytes()]})

    out = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in (
        hashed.select("_h1", "_h2")
        .mapInPandas(_partial, schema="bm binary")
        .collect()
    ):
        out |= np.frombuffer(row["bm"], dtype=np.uint8)
    return out.tobytes()


def build_digest_bloom(
    corpus: DataFrame,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    k: int = 5,
) -> bytes:
    """One scan of the corpus → a ``n_bits``-wide bloom bitmap (driver
    bytes, size ``n_bits/8`` regardless of corpus size — that fixed
    bound is the whole point).  ``n_bits`` should be ~10 bits per
    expected distinct document for ~1% false positives at k=5."""
    return bitmap_of_hashes(_digest_cols(corpus, text_col), n_bits, k)


def bloom_flags(
    hashed: DataFrame,
    bitmap_bytes: bytes,
    n_bits: int,
    k: int,
    id_type: str = "bigint",
    bitmap_bc=None,
) -> DataFrame:
    """(id, maybe_seen) for a frame carrying ``id``/``_h1``/``_h2``:
    broadcast the bitmap, test all k bits per row vectorized.
    ``maybe_seen=false`` rows are DEFINITELY not in the filter (no
    false negatives).

    ``bitmap_bc``: an existing ``sparkContext.broadcast`` of the bitmap
    bytes.  Long-running callers (the streaming novelty sink invokes
    this every micro-batch) should create the broadcast themselves and
    ``unpersist()`` it once the batch's output is materialized —
    otherwise each call leaks one broadcast's blocks until py4j GC +
    ContextCleaner get around to them, which is nondeterministic on a
    stream that never idles."""
    import numpy as np
    import pandas as pd

    bc = (
        bitmap_bc
        if bitmap_bc is not None
        else hashed.sparkSession.sparkContext.broadcast(bitmap_bytes)
    )

    def _maybe(batches):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if pdf.empty:
                continue
            hit = _test_bits(
                bitmap,
                pdf["_h1"].to_numpy(np.int64).astype(np.uint64),
                pdf["_h2"].to_numpy(np.int64).astype(np.uint64),
                n_bits,
                k,
            )
            yield pd.DataFrame({"id": pdf["id"], "maybe_seen": hit})

    return hashed.select("id", "_h1", "_h2").mapInPandas(
        _maybe, schema=f"id {id_type}, maybe_seen boolean"
    )


def _exact_novel(
    inc: DataFrame, flags: DataFrame, corpus: DataFrame, text_col: str
) -> DataFrame:
    """Shared tail of the novelty operators: bloom-cleared rows pass
    straight through (no false negatives by construction), possibly-seen
    rows are exactly anti-joined against the corpus digests — so the
    OUTPUT is exact regardless of which bloom layout produced
    ``flags``."""
    certain_new = flags.filter(~F.col("maybe_seen")).select("id")
    suspects = inc.join(
        flags.filter(F.col("maybe_seen")).select("id"), "id", "left_semi"
    )
    corpus_digests = corpus.select(
        _digest_expr(text_col).alias("digest")
    ).distinct()
    verified_new = suspects.join(
        corpus_digests, "digest", "left_anti"
    ).select("id")
    return certain_new.withColumn(
        "is_bloom_certain", F.lit(True)
    ).unionByName(
        verified_new.withColumn("is_bloom_certain", F.lit(False))
    )


def novel_documents(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """EXACT set of ``incoming`` rows whose normalized content never
    appears in ``corpus`` — bloom-pruned: definitely-new rows (bloom
    miss) bypass the join, only possibly-seen rows are anti-joined
    against the corpus digests.  Returns (id, is_bloom_certain) where
    ``is_bloom_certain`` marks rows the bloom alone cleared — the
    observability column that shows how much join work the filter
    saved."""
    bitmap_b = build_digest_bloom(corpus, text_col, n_bits, k)
    id_type = dict(incoming.dtypes)[id_col]
    inc = _digest_cols(incoming, text_col).select(
        F.col(id_col).alias("id"),
        _digest_expr(text_col).alias("digest"),
        "_h1",
        "_h2",
    ).localCheckpoint(eager=False)  # one digest pass feeds both branches
    flags = bloom_flags(inc, bitmap_b, n_bits, k, id_type)
    return _exact_novel(inc, flags, corpus, text_col)


# ------------------------------------------------- sharded bloom state

def _shard_expr(text_col: str, shards: int) -> F.Column:
    """Shard key for the partitioned bloom: an INDEPENDENT hash lane
    (``'s:'`` marker) of the same content digest, mod ``shards``.
    Independence from the ``_h1``/``_h2`` bit-position lanes matters:
    sharding by ``_h1 % shards`` would pin h1's residue class per shard,
    and whenever ``shards`` divides ``n_bits`` the i=0 probe lane
    ``h1 % n_bits`` would concentrate onto 1/shards of each bitmap's
    slots — silently inflating the false-positive rate."""
    return F.pmod(
        F.xxhash64(F.concat(F.lit("s:"), _digest_expr(text_col))),
        F.lit(shards),
    ).cast("int")


def build_sharded_digest_bloom(
    spark,
    corpus: DataFrame,
    table: str,
    text_col: str = "text",
    shards: int = 16,
    n_bits_per_shard: int = 1 << 16,
    k: int = 5,
    source_version: str | None = None,
) -> int:
    """Beyond-driver-scale bloom state: the digest key space is
    partitioned into ``shards`` residue classes, each with its OWN
    ``n_bits_per_shard``-wide bitmap, persisted as one row
    ``(shard, bm)`` of a snapshot table.

    Why sharding is the 100 TB shape: :func:`build_digest_bloom` yields
    a single driver-resident bitmap, so the right-sized capacity for a
    10^11-document corpus (~10 bits/doc → ~125 GB) outgrows the driver
    AND the broadcast path long before the corpus stops growing.  Here
    no single process ever holds more than ONE shard's bitmap
    (``n_bits_per_shard/8`` bytes — flat as the corpus grows; grow
    ``shards``, not the shard size), the build's driver payload is ZERO
    bitmaps (executors OR partials per shard and write table rows), and
    probes ship each incoming row to its shard's bitmap instead of
    broadcasting the whole filter.

    Build dataflow: one corpus scan → per-Arrow-batch partial bitmaps
    PER SHARD (a batch touches at most ``shards`` small arrays) →
    groupBy(shard) OR-merge in ``applyInPandas`` (the shuffle carries
    #batches × #shards bitmap rows, never document rows) → snapshot
    OVERWRITE with the layout pinned in commit meta.  Same
    ``_set_bits`` kernel as the flat filter — positions are computed
    identically, only their residency changes."""
    import numpy as np
    import pandas as pd

    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    if n_bits_per_shard % 8:
        raise ValueError("n_bits_per_shard must be a multiple of 8")
    hashed = _digest_cols(corpus, text_col).withColumn(
        "_shard", _shard_expr(text_col, shards)
    )

    def _partial(batches):
        maps: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for s, grp in pdf.groupby("_shard"):
                bm = maps.setdefault(
                    int(s), np.zeros(n_bits_per_shard // 8, np.uint8)
                )
                _set_bits(
                    bm,
                    grp["_h1"].to_numpy(np.int64).astype(np.uint64),
                    grp["_h2"].to_numpy(np.int64).astype(np.uint64),
                    n_bits_per_shard,
                    k,
                )
        if maps:
            yield pd.DataFrame(
                {
                    "shard": list(maps),
                    "bm": [m.tobytes() for m in maps.values()],
                }
            )

    partials = hashed.select("_shard", "_h1", "_h2").mapInPandas(
        _partial, schema="shard int, bm binary"
    )

    def _merge(pdf):
        out = np.zeros(n_bits_per_shard // 8, np.uint8)
        for b in pdf["bm"]:
            out |= np.frombuffer(b, np.uint8)
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bm": [out.tobytes()]}
        )

    final = partials.groupBy("shard").applyInPandas(
        _merge, schema="shard int, bm binary"
    )
    return overwrite(
        spark,
        final,
        table,
        meta={
            "shards": shards,
            "n_bits_per_shard": n_bits_per_shard,
            "k": k,
            **(
                {"source_version": source_version}
                if source_version is not None
                else {}
            ),
        },
    )


def novel_documents_sharded(
    spark,
    bloom_table: str,
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    expect_source: str | None = None,
) -> DataFrame:
    """:func:`novel_documents` served from PERSISTED sharded bloom state
    (:func:`build_sharded_digest_bloom`) — same exact output, different
    physical shape: incoming rows co-group with their shard's bitmap row
    (``cogroup.applyInPandas`` on the shard key), so per-task memory is
    one shard bitmap + one Arrow batch no matter how large the total
    filter capacity grows, and no bitmap is ever broadcast or collected.
    An incoming shard with no bloom row means no corpus content hashed
    there — definitely new, zero bits tested.  The state is pinned
    (README, "Frozen inputs"); the layout (shards, width, k) comes from
    the pinned commit's meta, so probe positions always match the
    bitmaps read."""
    import numpy as np
    import pandas as pd

    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("sharded bloom", bloom_table, expect_source=expect_source)
    shards = int(snap.meta["shards"])
    n_bits = int(snap.meta["n_bits_per_shard"])
    k = int(snap.meta["k"])
    id_type = dict(incoming.dtypes)[id_col]
    inc = (
        _digest_cols(incoming, text_col)
        .select(
            F.col(id_col).alias("id"),
            _digest_expr(text_col).alias("digest"),
            "_h1",
            "_h2",
            _shard_expr(text_col, shards).alias("_shard"),
        )
        .localCheckpoint(eager=False)  # one digest pass feeds all uses
    )
    blooms = read_parts(spark, bloom_table, snap.files, snap)

    def _test(inc_pdf, bloom_pdf):
        if inc_pdf.empty:
            return pd.DataFrame({"id": [], "maybe_seen": []})
        if bloom_pdf.empty:  # no corpus content in this shard
            hit = np.zeros(len(inc_pdf), dtype=bool)
        else:
            bitmap = np.frombuffer(bloom_pdf["bm"].iloc[0], np.uint8)
            hit = _test_bits(
                bitmap,
                inc_pdf["_h1"].to_numpy(np.int64).astype(np.uint64),
                inc_pdf["_h2"].to_numpy(np.int64).astype(np.uint64),
                n_bits,
                k,
            )
        return pd.DataFrame({"id": inc_pdf["id"], "maybe_seen": hit})

    flags = (
        inc.select("_shard", "id", "_h1", "_h2")
        .groupBy("_shard")
        .cogroup(blooms.groupBy("shard"))
        .applyInPandas(_test, schema=f"id {id_type}, maybe_seen boolean")
    )
    return _exact_novel(inc, flags, corpus, text_col)
