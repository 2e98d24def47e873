"""Dedup operator semantics on handcrafted corpora with known duplicates."""

from __future__ import annotations

import pytest

from airflow_crypto_btc_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)

# One interior token changed on a 19-token doc → shingle Jaccard 0.7: high
# enough that the fixed md5 banding (r=3, b=4) deterministically collides.
_BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the green hills today"
)
DOCS = [
    (0, _BASE),
    (1, _BASE),                                # exact dup of 0
    (2, _BASE.replace("lazy", "sleepy")),      # near dup of 0
    (3, "completely different words about spark engines here today now"),
    (4, "THE  Quick " + _BASE[10:]),           # whitespace/case variant
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    got = {r["fp_md5"]: r for r in exact_dedup(docs).collect()}
    # 0, 1, 4 normalize identically (lower + whitespace collapse)
    groups = sorted((r["rep_id"], r["n_dups"]) for r in got.values())
    assert (0, 3) in groups          # rep = min id, 3 members
    assert len(groups) == 3          # {0,1,4}, {2}, {3}


def test_minhash_signature_shape(docs):
    row = minhash_signatures(docs, num_hashes=12).filter("doc_id = 0").collect()[0]
    assert len(row["sig"]) == 12
    assert all(len(s) == 32 for s in row["sig"])  # md5 hex
    # identical docs → identical signatures
    rows = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(docs, num_hashes=12).collect()
    }
    assert rows[0] == rows[1]


def test_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # one-token change → high shingle overlap
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_lsh_subset_of_exact_jaccard(docs):
    """LSH candidates that survive verification must be exactly the
    exact-Jaccard pairs they claim to be (no false positives; recall can
    be < 1 by design)."""
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    for pair, j in lsh.items():
        assert exact[pair] == j


def test_simhash_similar_docs_close(docs):
    fp = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs, bits=16).collect()
    }
    assert fp[0] == fp[1]  # identical text → identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    # near-dup differs in strictly fewer bits than the unrelated doc
    assert hamming(fp[0], fp[2]) < hamming(fp[0], fp[3])


def test_simhash_banding_finds_all_close_pairs(spark, sf_dir):
    """Banded candidate generation must find every pair the brute-force
    hamming scan finds (pigeonhole: ≤2 flips can't dirty all 3 bands)."""
    from pyspark.sql import functions as F

    from airflow_crypto_btc_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs(
            docs, bits=16, max_hamming=2
        ).collect()
    }
    fps = simhash_fingerprints(docs).select(
        F.col("doc_id").alias("id"), "simhash"
    )
    a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.expr("sa ^ sb")).cast("long")
        )
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    assert banded == brute


def test_md5_kernels_match_hof_references(spark, sf_dir):
    """The Arrow MinHash and SimHash kernels are md5-exact: row equality
    with their JVM-expression forms on the real documents fixture (CJK
    whitespace included)."""
    from kernel_reference import (
        minhash_signatures_hof,
        simhash_fingerprints_hof,
    )

    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # below k_shingle tokens: empty shingle set, all-NULL signature
    docs = docs.unionByName(
        spark.createDataFrame([(-1, "two words"), (-2, "")], docs.schema)
    )

    def rows(df):
        return {r[0]: tuple(r[1:]) for r in df.collect()}

    mh = rows(minhash_signatures(docs))
    assert mh == rows(minhash_signatures_hof(docs))
    assert mh[-1] == ([None] * 12, 0)
    assert rows(simhash_fingerprints(docs)) == rows(
        simhash_fingerprints_hof(docs)
    )


def test_kernels_keep_the_callers_id_column(spark):
    """A non-default ``id_col`` names the output id column: SimHash pair
    generation over a string ``url`` id finds the same pairs as the
    ``doc_id`` run, and the signature/fingerprint frames carry ``url``."""
    from airflow_crypto_btc_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    by_id = spark.createDataFrame(DOCS, "doc_id long, text string")
    by_url = spark.createDataFrame(
        [(f"https://x/{i}", t) for i, t in DOCS], "url string, text string"
    )
    want = {
        (f"https://x/{r['id_a']}", f"https://x/{r['id_b']}", r["hamming"])
        for r in simhash_near_dup_pairs(by_id).collect()
    }
    got = {
        tuple(r) for r in simhash_near_dup_pairs(by_url, id_col="url").collect()
    }
    assert got == want and got
    assert simhash_fingerprints(by_url, id_col="url").columns == [
        "url", "simhash",
    ]
    assert minhash_signatures(by_url, id_col="url").columns == [
        "url", "sig", "set_size",
    ]


def test_near_dup_clusters_multi_hop_chain(spark):
    """A 5-node chain (diameter 4) must fully converge to one cluster —
    exercises multiple propagation rounds — while an isolated node stays a
    singleton and a separate pair keeps its own min label."""
    from airflow_crypto_btc_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0), (6, 7)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6}


def test_near_dup_clusters_no_pairs_all_singletons(spark):
    from airflow_crypto_btc_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = near_dup_clusters(docs, pairs).collect()
    assert all(r.doc_id == r.cluster_id for r in got) and len(got) == 4


def test_lsh_pairs_match_duckdb_oracle(spark, sf_dir):
    """The served LSH pipeline (Arrow prep scan → bucket join → exact
    Jaccard) produces the DuckDB oracle's pair set with the same
    jaccard values on the documents fixture."""
    import duckdb

    from airflow_crypto_btc_spark.plans.registry_ext import lsh_pairs_sql
    from airflow_crypto_btc_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(lsh_pairs_sql()).fetchall())
    assert got == want and got


def test_lsh_bucket_cap_bounds_pairs(spark):
    """Engineered hot bucket: 60 identical boilerplate docs share every
    band key (60*59/2 = 1770 pairs uncapped).  With a cap of 10 the
    bucket is skipped entirely, the pair count stays bounded, and the
    skipped-bucket report names the bucket with its true size."""
    from airflow_crypto_btc_spark.operators.dedup import (
        minhash_lsh_skipped_buckets,
    )

    boiler = [(i, "terms of service apply to all users of this site "
               "and govern every use of the service") for i in range(60)]
    distinct = [(100 + i, f"unique document number {i} with its own "
                 f"topic about subject {i} entirely") for i in range(5)]
    df = spark.createDataFrame(boiler + distinct, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df).count()
    assert uncapped >= 60 * 59 // 2

    capped = minhash_lsh_pairs(df, max_bucket_size=10)
    assert capped.count() == 0  # every boilerplate bucket is over-cap

    report = minhash_lsh_skipped_buckets(df, max_bucket_size=10)
    rows = report.collect()
    assert rows and all(r["bucket_size"] == 60 for r in rows)

    # a cap ABOVE the bucket size changes nothing
    assert minhash_lsh_pairs(df, max_bucket_size=100).count() == uncapped


def test_simhash_bucket_cap(spark):
    """Same guard on the simhash path: identical docs melt into one
    bucket per band; a small cap drops them, a large cap keeps parity."""
    from airflow_crypto_btc_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    boiler = [(i, "repeated template text for every page on the site "
               "with no variation at all") for i in range(40)]
    df = spark.createDataFrame(boiler, "doc_id long, text string")
    assert simhash_near_dup_pairs(df).count() == 40 * 39 // 2
    assert simhash_near_dup_pairs(df, max_bucket_size=5).count() == 0


def test_two_star_path_graph_logarithmic_rounds(spark):
    """Adversarial chain: a 201-node path (diameter 200).  Label
    propagation needs ~200 rounds; the two-star variant must converge in
    O(log n) — we allow ceil(log2(201)) + 2 = 10 — with every node
    labeled by the component min (0)."""
    import math

    from airflow_crypto_btc_spark.operators.dedup import (
        _two_star_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    labels, rounds = _two_star_components(pairs, max_iterations=50)
    assert rounds <= math.ceil(math.log2(201)) + 2, rounds
    rows = labels.collect()
    assert len(rows) == 201
    assert all(r["label"] == 0 for r in rows)


def test_two_star_matches_label_prop(spark):
    """Cross-algorithm equality on a graph with several components,
    including a chain, a clique, a star, and singletons."""
    from airflow_crypto_btc_spark.operators.dedup import (
        near_dup_clusters,
    )

    edges = (
        [(i, i + 1) for i in range(10, 15)]          # chain
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]  # clique
        + [(30, x) for x in (31, 32, 33)]            # star
        + [(41, 40), (42, 41)]                       # reversed chain
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i,) for i in range(50)], "doc_id long"
    )
    lp = {
        (r["doc_id"], r["cluster_id"])
        for r in near_dup_clusters(docs, pairs).collect()
    }
    ts = {
        (r["doc_id"], r["cluster_id"])
        for r in near_dup_clusters(
            docs, pairs, algorithm="two_star"
        ).collect()
    }
    assert lp == ts
    assert len(lp) == 50


def test_two_star_raises_when_budget_too_small(spark):
    """Exhausting the round budget before the star fixed point must
    raise, never emit conflicting labels."""
    import pytest

    from airflow_crypto_btc_spark.operators.dedup import (
        _two_star_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _two_star_components(pairs, max_iterations=1)


def test_lsh_pairs_string_ids_match_long_ids(spark):
    """The generic id_col contract (any orderable id type) survives the
    Arrow kernel's schema: string ids pair up exactly like long ids."""
    from airflow_crypto_btc_spark.operators.dedup import minhash_lsh_pairs

    def pairs(docs, key):
        return {
            (frozenset((key(r["id_a"]), key(r["id_b"]))), r["jaccard"])
            for r in minhash_lsh_pairs(docs).collect()
        }

    by_long = spark.createDataFrame(DOCS, "doc_id long, text string")
    by_str = spark.createDataFrame(
        [(f"url-{i}", t) for i, t in DOCS], "doc_id string, text string"
    )
    want = pairs(by_long, int)
    assert pairs(by_str, lambda s: int(s.removeprefix("url-"))) == want
    assert want


def test_incremental_pairs_decomposition(spark, sf_dir):
    """pairs(corpus) == pairs(old) ∪ pairs_incremental(corpus, delta),
    disjointly; degenerate deltas behave: delta=all reproduces the full
    pair set alone, delta=none contributes nothing."""
    from airflow_crypto_btc_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {tuple(r) for r in minhash_lsh_pairs(docs).collect()}
    old = {
        tuple(r)
        for r in minhash_lsh_pairs(docs.filter("doc_id % 7 != 0")).collect()
    }
    inc = {
        tuple(r)
        for r in minhash_lsh_pairs_incremental(
            docs, "doc_id % 7 = 0"
        ).collect()
    }
    assert old | inc == full
    assert not (old & inc)  # disjoint by construction
    assert inc  # the fixture has near-dups crossing the split

    assert {
        tuple(r)
        for r in minhash_lsh_pairs_incremental(docs, "true").collect()
    } == full
    assert (
        minhash_lsh_pairs_incremental(docs, "false").count() == 0
    )


def test_incremental_pairs_from_persisted_index(spark, sf_dir, tmp_path):
    """The 100 TB dedup architecture end-to-end: the LSH index (band
    keys + shingle sets) lives in snapshot tables; an increment appends
    its index rows and probes the WHOLE index for pairs touching the
    delta.  Must equal the self-contained incremental operator."""
    from pyspark.sql import functions as F

    from airflow_crypto_btc_spark.operators.dedup import (
        minhash_lsh_pairs_from_index,
        minhash_lsh_pairs_incremental,
        minhash_prep,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        read_snapshot,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sets_tbl = str(tmp_path / "lsh_sets")
    bands_tbl = str(tmp_path / "lsh_bands")

    def index_rows(d):
        prep = minhash_prep(d)
        sets = prep.select("id", "shingle_set", "set_size")
        bands = prep.select(
            "id", F.posexplode("band_keys").alias("band_idx", "band_key")
        )
        return sets, bands

    # day 0: existing corpus lands its index
    old_sets, old_bands = index_rows(docs.filter("doc_id % 7 != 0"))
    append(spark, old_sets, sets_tbl)
    append(spark, old_bands, bands_tbl)
    # day 1: the increment appends ITS index rows only
    new_sets, new_bands = index_rows(docs.filter("doc_id % 7 = 0"))
    append(spark, new_sets, sets_tbl)
    append(spark, new_bands, bands_tbl)

    delta_ids = docs.filter("doc_id % 7 = 0").select(
        F.col("doc_id").alias("id")
    )
    from_index = {
        tuple(r)
        for r in minhash_lsh_pairs_from_index(
            read_snapshot(spark, sets_tbl),
            read_snapshot(spark, bands_tbl),
            delta_ids,
        ).collect()
    }
    recomputed = {
        tuple(r)
        for r in minhash_lsh_pairs_incremental(
            docs, "doc_id % 7 = 0"
        ).collect()
    }
    assert from_index == recomputed and from_index


def test_persisted_index_version_pinning(spark, sf_dir, tmp_path):
    """The table-path probe refuses a stale or mixed-version index:
    source_version is recorded in both index tables' commit metadata at
    build time and asserted before any data is read."""
    import pytest as _pytest

    from airflow_crypto_btc_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_from_index_tables,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    s_tbl, b_tbl = str(tmp_path / "sets"), str(tmp_path / "bands")
    build_minhash_index(spark, docs, s_tbl, b_tbl, source_version="corpus@v7")

    delta = docs.filter("doc_id % 10 = 0").selectExpr("doc_id AS id")
    # matching expectation: probe works and reproduces the recomputed path
    got = {
        tuple(r)
        for r in minhash_lsh_pairs_from_index_tables(
            spark, s_tbl, b_tbl, delta, expect_source="corpus@v7"
        ).collect()
    }
    from airflow_crypto_btc_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    want = {
        tuple(r)
        for r in minhash_lsh_pairs_incremental(
            docs, "doc_id % 10 = 0"
        ).collect()
    }
    assert got == want and got

    # stale expectation → refused before reading any data
    with _pytest.raises(ValueError, match="stale index"):
        minhash_lsh_pairs_from_index_tables(
            spark, s_tbl, b_tbl, delta, expect_source="corpus@v8"
        )
    # mixed versions across the two tables → refused
    build_minhash_index(
        spark, docs, s_tbl, str(tmp_path / "bands2"),
        source_version="corpus@v8",
    )
    with _pytest.raises(ValueError, match="disagree"):
        minhash_lsh_pairs_from_index_tables(
            spark, s_tbl, b_tbl, delta
        )


def test_band_index_probe_prunes_clustered_files(spark, sf_dir, tmp_path):
    """Same physical-pruning contract the ANN/semantic indexes carry, on
    the minhash band index: with the bands table bkn-clustered by
    compaction, a probe that passes the delta's recomputed band rows
    opens fewer files than the table holds and returns exactly the
    unpruned pair set."""
    from airflow_crypto_btc_spark.operators.dedup import (
        build_minhash_index,
        minhash_band_rows,
        minhash_lsh_pairs_from_index_tables,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        compact,
        current_snapshot,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant an exact clone so the one-doc probe provably has a pair to
    # find (a random single doc may have no near-dup in the fixture)
    text0 = base.filter("doc_id = 0").first()["text"]
    corpus = base.unionByName(
        spark.createDataFrame([(100000, text0)], "doc_id long, text string")
    )
    s_tbl, b_tbl = str(tmp_path / "sets"), str(tmp_path / "bands")
    build_minhash_index(spark, corpus, s_tbl, b_tbl, source_version="v1")
    compact(spark, b_tbl, target_parts=24, cluster_by=["bkn"])
    n_parts = len(current_snapshot(b_tbl).files)
    assert n_parts >= 20
    # one probe doc → at most `bands` (=4) bucket keys, scattered across
    # the xxhash64 domain: a bkn-clustered layout must skip most files
    delta = corpus.filter("doc_id = 100000")
    delta_ids = delta.selectExpr("doc_id AS id")
    kw = dict(jaccard_threshold=0.5, expect_source="v1")
    pruned = minhash_lsh_pairs_from_index_tables(
        spark, s_tbl, b_tbl, delta_ids,
        delta_banded=minhash_band_rows(delta), **kw,
    )
    unpruned = minhash_lsh_pairs_from_index_tables(
        spark, s_tbl, b_tbl, delta_ids, **kw
    )
    key = lambda rows: sorted(  # noqa: E731
        (r["id_a"], r["id_b"], r["jaccard"]) for r in rows
    )
    got = key(pruned.collect())
    assert got == key(unpruned.collect())
    assert (0, 100000, 1.0) in got  # the planted clone pair survived
    opened = {f for f in pruned.inputFiles() if "/bands/" in f}
    assert 0 < len(opened) <= 8 < n_parts


def test_index_rebuild_replaces_previous_generation(spark, sf_dir, tmp_path):
    """Rebuilding into the same tables must REPLACE the old generation
    (overwrite commit): after a rebuild with a new source_version, the
    tables hold exactly one generation and the probe output equals a
    fresh build — no duplicated rows, no stale shingle sets."""
    from airflow_crypto_btc_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_from_index_tables,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        read_snapshot,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    s_tbl, b_tbl = str(tmp_path / "sets"), str(tmp_path / "bands")
    build_minhash_index(
        spark, docs.filter("doc_id < 30"), s_tbl, b_tbl,
        source_version="v1",
    )
    build_minhash_index(spark, docs, s_tbl, b_tbl, source_version="v2")
    sets = read_snapshot(spark, s_tbl)
    n_docs = docs.count()
    assert sets.count() == n_docs  # one row per doc, no v1 leftovers
    assert sets.select("id").distinct().count() == n_docs
    delta = docs.filter("doc_id % 10 = 0").selectExpr("doc_id AS id")
    got = {
        tuple(r)
        for r in minhash_lsh_pairs_from_index_tables(
            spark, s_tbl, b_tbl, delta, expect_source="v2"
        ).collect()
    }
    s2, b2 = str(tmp_path / "sets2"), str(tmp_path / "bands2")
    build_minhash_index(spark, docs, s2, b2, source_version="v2")
    want = {
        tuple(r)
        for r in minhash_lsh_pairs_from_index_tables(
            spark, s2, b2, delta, expect_source="v2"
        ).collect()
    }
    assert got == want and got


def test_banded_hamming_pairs_single_row_per_pair(spark):
    """r14 optimization pin: the hamming verify now rides the band join
    (fp carried through the band rows, verify computed in-join, distinct
    AFTER the <= max_hamming filter) — a pair that agrees on MULTIPLE
    bands must still emit exactly one row, with the true distance."""
    from airflow_crypto_btc_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    # 1 vs 2: identical fp -> all 3 bands agree (3 raw join hits);
    # 1 vs 3: xor = 0b10000 -> hamming 1, bands 1 and 2 agree (2 hits)
    fps = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 21)], "id long, fp long"
    )
    rows = banded_hamming_pairs(fps, bits=16, max_hamming=2).collect()
    assert sorted(
        (r["id_a"], r["id_b"], r["hamming"]) for r in rows
    ) == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]
    assert len(rows) == 3  # no multi-band duplicate rows
