"""Corpus-curation operator tests: TF-IDF ranking, contamination
detection on planted duplicates, packing invariants + determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_crypto_btc_spark.operators.curation import (
    chunk_documents,
    contamination_pairs,
    pack_sequences,
    tfidf_top_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_ranks_rare_terms_over_common(spark):
    """A token present in every doc has idf=ln(4/4)=0 → tfidf 0; each
    doc's distinctive token must rank first."""
    docs = _docs(
        spark,
        [
            (1, "common alpha alpha"),
            (2, "common beta"),
            (3, "common gamma"),
        ],
    )
    top = tfidf_top_terms(docs, k=1).collect()
    assert {r.doc_id: r.token for r in top} == {
        1: "alpha",
        2: "beta",
        3: "gamma",
    }
    assert all(r.tfidf > 0 for r in top)
    # doc 1's 'alpha' appears twice → tf=2 amplifies its score
    assert {r.doc_id: r.tf for r in top}[1] == 2


def test_contamination_finds_planted_eval_dup(spark):
    """A test doc copied verbatim into train must surface with
    containment 1.0; an unrelated train doc must not pair at all."""
    text = "one two three four five six seven eight nine ten"
    train = _docs(
        spark,
        [(100, text), (101, "totally different words with no overlap at all")],
    )
    test = _docs(spark, [(200, text), (201, "another clean eval document here")])
    got = contamination_pairs(train, test).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.test_doc_id, row.train_doc_id) == (200, 100)
    assert row.containment == 1.0


def test_contamination_partial_overlap_containment(spark):
    """Half-contained eval doc: overlap counts shingles of the shared
    prefix only, normalized by the TEST doc's shingle count."""
    shared = "a b c d e f g h"          # 8 tokens → 4 distinct 5-shingles
    train = _docs(spark, [(1, shared + " x1 y1 z1 w1 v1 u1 t1 s1")])
    test = _docs(spark, [(2, shared)])
    got = contamination_pairs(train, test).collect()
    assert len(got) == 1
    assert got[0].overlap == 4
    assert got[0].containment == 1.0  # every test shingle appears in train


def test_pack_sequences_invariants_and_determinism(spark, sf_dir):
    from airflow_crypto_btc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=512).toPandas()
    assert (packed.bin_offset < 512).all()
    assert (packed.bin_offset >= 0).all()
    # within a shard, bins are non-decreasing in doc order and contiguous
    for _, g in packed.sort_values("doc_id").groupby("shard"):
        bins = g.bin.tolist()
        assert bins == sorted(bins)
        assert set(range(max(bins) + 1)) == set(bins)
    # shuffling the input cannot change the packing
    repacked = (
        pack_sequences(docs.repartition(13), budget=512)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert repacked.equals(
        packed.sort_values("doc_id").reset_index(drop=True)
    )


def test_contamination_prunes_train_side_with_broadcast(spark, sf_dir):
    """The eval-side shingles must reach the train side as a broadcast —
    the decontamination scale contract (train corpus never shuffles
    full-width)."""
    from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

    df = ALL_QUERIES["curate_contamination"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_overlap_and_reconstruction(spark):
    toks = [f"t{i}" for i in range(300)]
    docs = _docs(spark, [(1, " ".join(toks)), (2, ""), (3, "short doc")])
    out = (
        chunk_documents(docs, window=128, stride=96)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # empty doc yields no chunks; short doc yields one full-copy chunk
    assert 2 not in by_doc
    assert [c.chunk_text for c in by_doc[3]] == ["short doc"]
    # 300 tokens, stride 96 → starts 0,96,192,288 → 4 chunks
    chunks = by_doc[1]
    assert [c.chunk_idx for c in chunks] == [0, 1, 2, 3]
    assert [c.n_chunk_tokens for c in chunks] == [128, 128, 108, 12]
    # consecutive chunks overlap by window - stride = 32 tokens
    a, b = chunks[0].chunk_text.split(), chunks[1].chunk_text.split()
    assert a[96:] == b[:32]
    # stride-prefixes reconstruct the document exactly
    recon = []
    for c in chunks:
        recon.extend(c.chunk_text.split()[:96])
    assert recon == toks


def test_every_registry_plan_avoids_row_python(spark, sf_dir):
    """Engine-wide hygiene: no query in the catalog may compile to
    BatchEvalPython (row-at-a-time Python UDF).  Python is allowed only
    Arrow-vectorized (MapInPandas / FlatMapGroupsInPandas), and only in
    the ops designed around it."""
    from concurrent.futures import ThreadPoolExecutor

    from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

    def plan(spec):
        return (
            spec.fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    # the builds are independent and mostly wait on small eager jobs,
    # so a few run at once
    with ThreadPoolExecutor(max_workers=4) as pool:
        plans = dict(zip(ALL_QUERIES, pool.map(plan, ALL_QUERIES.values())))
    assert len(plans) == len(ALL_QUERIES)
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_stratified_sample_deterministic_and_prefix_stable(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        stratified_sample,
    )

    rows = [(i, f"text {i}", "en", f"src{i % 3}", 10) for i in range(200)]
    schema = "doc_id long, text string, lang string, source string, n_chars int"
    docs = spark.createDataFrame(rows, schema)
    s1 = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample(docs, n_per_stratum=10).collect()
    }
    assert len(s1) == 30  # 3 strata x 10
    # repartition cannot change the sample
    s2 = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample(
            docs.repartition(17), n_per_stratum=10
        ).collect()
    }
    assert s2 == s1
    # growing the corpus only displaces hash-outranked members: the new
    # sample of each stratum is a subset of old sample + new doc ids
    grown = spark.createDataFrame(
        rows + [(i, f"t{i}", "en", f"src{i % 3}", 5) for i in range(200, 260)],
        schema,
    )
    s3_ids = {
        r.doc_id
        for r in stratified_sample(grown, n_per_stratum=10).collect()
    }
    old_ids = {d for d, _ in s1}
    assert s3_ids <= old_ids | set(range(200, 260))


# --------------------------- round-2 sampling ops (registry_ext2)


def test_weighted_sample_favors_heavy_docs(spark, sf_dir):
    """E-S keys rank by u^(1/w): the sampled set's mean length must exceed
    the corpus mean (weight = n_chars)."""
    from airflow_crypto_btc_spark.plans.registry_ext2 import (
        q_curate_weighted_sample,
    )
    from airflow_crypto_btc_spark.sources.tables import load_table

    got = q_curate_weighted_sample(spark, sf_dir).toPandas()
    assert len(got) == 20
    assert got["es_key"].between(0, 1).all()
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg({"n_chars": "avg"})
        .collect()[0][0]
    )
    assert got["n_chars"].mean() > corpus_mean


def test_weighted_sample_is_topk_not_full_sort(spark, sf_dir):
    from airflow_crypto_btc_spark.plans.registry_ext2 import (
        q_curate_weighted_sample,
    )

    plan = (
        q_curate_weighted_sample(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # partial top-k, no global sort


def test_mixture_respects_quotas_and_broadcasts(spark, sf_dir):
    from airflow_crypto_btc_spark.plans.registry_ext2 import q_curate_mixture

    df = q_curate_mixture(spark, sf_dir)
    got = df.toPandas()
    quotas = {"en": 40, "zh": 25, "fr": 15, "es": 10, "de": 10}
    counts = got.groupby("lang")["doc_id"].count().to_dict()
    for lang, quota in quotas.items():
        assert counts.get(lang, 0) <= quota
    assert got["doc_id"].is_unique
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mixture_stable_under_repartition(spark, sf_dir):
    """Hash-rank selection must be independent of physical layout."""
    from airflow_crypto_btc_spark.plans.registry_ext2 import q_curate_mixture

    a = set(
        q_curate_mixture(spark, sf_dir).toPandas()["doc_id"]
    )
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        b = set(q_curate_mixture(spark, sf_dir).toPandas()["doc_id"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert a == b


def test_near_dup_purge_under_engineered_skew(spark):
    """Skew torture for the purge path: 10% of the corpus is ONE
    identical text family, so a single band bucket holds 200 rows —
    the degenerate-bucket shape that turns a banded join quadratic.
    Asserts the two defenses work together: (a) the bucket cap SKIPS
    the hot buckets and the accounting operator reports exactly what
    was skipped (never silent), (b) with the cap off, AQE's skew-join
    split activates on the hot bucket join (verified in the executed
    adaptive plan) and the full purge composition still returns the
    right survivors in bounded time."""
    import time

    from airflow_crypto_btc_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_skipped_buckets,
        near_dup_clusters,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank today again"
    )
    rows = [
        (i, base) if i % 10 == 0
        else (
            i,
            f"unique document number {i} with entirely distinct "
            f"content tokens {i * 7} {i * 13} {i * 31}",
        )
        for i in range(2000)
    ]
    docs = _docs(spark, rows)

    # (a) cap + accounting: every band of the 200-doc identical family
    # is over a 50-cap, each reported with its true size; the capped
    # pair pass completes without enumerating the 200²/2 combinations
    skipped = minhash_lsh_skipped_buckets(
        docs, max_bucket_size=50
    ).collect()
    hot = [r for r in skipped if r["bucket_size"] >= 200]
    assert len(hot) >= 4, skipped  # identical docs collide in ALL bands
    capped = minhash_lsh_pairs(docs, max_bucket_size=50).collect()
    assert all(
        not (r["id_a"] % 10 == 0 and r["id_b"] % 10 == 0) for r in capped
    )

    # (b) cap off: thresholds scaled down to test size so the 256 MB
    # production defaults fire at kilobytes — the assertion is that the
    # hot bucket's shuffle partition gets SPLIT, not merely survived
    tuned = {
        # enough shuffle width that the hot bucket's partition stands
        # out against the median (the session fixture runs 4-wide)
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        t0 = time.time()
        pairs = minhash_lsh_pairs(docs)
        clusters = near_dup_clusters(docs, pairs)
        reps = clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        survivors = docs.join(reps.select("doc_id"), "doc_id")
        got = survivors.count()
        elapsed = time.time() - t0
        # 1800 unique docs + ONE representative of the identical family
        assert got == 1801, got
        assert elapsed < 120, elapsed
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the pairs plan executed as part of the composition is a
        # different QueryExecution — execute it directly to inspect
        if "isFinalPlan=true" not in plan:
            pairs.collect()
            plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _docs_src(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, source string"
    )


def test_domain_quota_caps_hot_domain_keeps_small_ones(spark):
    """One hot domain (12 docs) against two under-cap domains: the hot
    domain is cut to the first ``cap`` by doc_id, small domains pass
    wholesale, and the evidence column carries the PRE-cap total."""
    from airflow_crypto_btc_spark.operators.curation import domain_quota

    rows = [(i, "en", "hot") for i in range(12)]
    rows += [(100, "en", "tiny"), (101, "de", "tiny"), (200, "en", "solo")]
    out = domain_quota(_docs_src(spark, rows), cap=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert sorted(r.doc_id for r in by_src["hot"]) == [0, 1, 2, 3, 4]
    assert all(r.n_domain_docs == 12 for r in by_src["hot"])
    assert sorted(r.doc_id for r in by_src["tiny"]) == [100, 101]
    assert [r.doc_id for r in by_src["solo"]] == [200]


def test_domain_quota_windows_only_overcap_rows(spark):
    """The scale contract: the window (the only sort in the operator)
    must sit under a filter selecting over-cap domains — under-cap
    documents reach the output through the no-window branch."""
    from airflow_crypto_btc_spark.operators.curation import domain_quota

    rows = [(i, "en", "hot") for i in range(12)] + [(100, "en", "tiny")]
    plan = domain_quota(
        _docs_src(spark, rows), cap=5
    )._jdf.queryExecution().optimizedPlan().toString()
    # exactly one Window node, and it is guarded by the over-cap filter
    assert plan.count("Window [") == 1
    assert "n_domain_docs" in plan
    # the union proves the pass-through branch exists alongside it
    assert "Union" in plan
    # Catalyst's rank-limit pushdown: each task pre-keeps only its own
    # top-cap rows per domain BEFORE the full sort — pin it, it is the
    # difference between sorting the hot domain and skimming it
    assert "WindowGroupLimit" in plan


def test_domain_quota_matches_naive_window(spark):
    """Fast-path union == naive global window on a mixed corpus."""
    from pyspark.sql import Window
    from airflow_crypto_btc_spark.operators.curation import domain_quota

    rows = [
        (i, "en", f"s{i % 7}") for i in range(60)
    ]  # domains of ~9 docs each, cap 4 puts all over-cap
    rows += [(1000 + j, "de", f"rare{j}") for j in range(5)]
    docs = _docs_src(spark, rows)
    got = {
        (r.doc_id, r.source, r.n_domain_docs)
        for r in domain_quota(docs, cap=4).collect()
    }
    w = Window.partitionBy("source").orderBy("doc_id")
    cnt = Window.partitionBy("source")
    naive = (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(cnt))
        .filter("rn <= 4")
    )
    want = {(r.doc_id, r.source, r.n) for r in naive.collect()}
    assert got == want


def test_domain_quota_census_arithmetic(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        domain_quota_census,
    )

    rows = [(i, "en", "hot") for i in range(12)] + [(100, "en", "tiny")]
    cen = {
        r.source: (r.n_docs, r.n_kept, r.n_dropped)
        for r in domain_quota_census(_docs_src(spark, rows), cap=5).collect()
    }
    assert cen == {"hot": (12, 5, 7), "tiny": (1, 1, 0)}


def test_domain_quota_null_domain_grouped_not_dropped(spark):
    """NULL-domain documents are capped as one group and kept in the
    output with their null value — never silently inner-joined away."""
    from airflow_crypto_btc_spark.operators.curation import domain_quota

    rows = [(i, "en", None) for i in range(8)] + [(100, "en", "s")]
    out = domain_quota(_docs_src(spark, rows), cap=3).collect()
    nulls = sorted(r.doc_id for r in out if r.source is None)
    assert nulls == [0, 1, 2]
    assert all(
        r.n_domain_docs == 8 for r in out if r.source is None
    )
    assert [r.doc_id for r in out if r.source == "s"] == [100]


def test_balanced_shards_covers_all_docs_once(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        balanced_shards,
    )

    docs = _docs(
        spark, [(i, "tok " * (1 + i % 17)) for i in range(200)]
    )
    out = balanced_shards(docs, shards=4, oversample=8)
    rows = out.collect()
    assert len(rows) == 200
    assert {r["doc_id"] for r in rows} == set(range(200))
    assert {r["shard"] for r in rows} <= set(range(4))


def test_balanced_shards_balances_token_mass(spark):
    """Serpentine over the micro-shard census: max/mean token imbalance
    stays tight even with a skewed size distribution."""
    from airflow_crypto_btc_spark.operators.curation import (
        balanced_shards,
        shard_summary,
    )

    # heavy tail: a few huge docs, many small ones
    docs = _docs(
        spark,
        [(i, "tok " * (2000 if i % 41 == 0 else 1 + i % 13))
         for i in range(400)],
    )
    summary = shard_summary(
        balanced_shards(docs, shards=4, oversample=8)
    ).collect()
    totals = [r["tok_total"] for r in summary]
    assert len(summary) == 4
    mean = sum(totals) / len(totals)
    assert max(totals) / mean < 1.25, totals
    assert min(totals) / mean > 0.75, totals


def test_balanced_shards_repartition_invariant(spark):
    """Assignment is a pure function of (doc_id, token count): identical
    under any physical partitioning."""
    from airflow_crypto_btc_spark.operators.curation import (
        balanced_shards,
    )

    docs = _docs(
        spark, [(i, "tok " * (1 + (i * 7) % 23)) for i in range(150)]
    )
    a = sorted(map(tuple, balanced_shards(docs.repartition(3)).collect()))
    b = sorted(map(tuple, balanced_shards(docs.repartition(11)).collect()))
    assert a == b


def test_balanced_shards_serpentine_pairs_heavy_with_light(spark):
    """With exactly 2·shards micro-shards, serpentine must pair rank i
    with rank 2K+1-i — the defining boustrophedon property."""
    from airflow_crypto_btc_spark.operators.curation import (
        balanced_shards,
    )

    # one doc per micro-shard is impractical (md5 hashing), so instead
    # check the rank→shard map directly: every shard receives exactly
    # oversample micro-shards when all micro-shards are populated
    docs = _docs(
        spark, [(i, "tok " * (1 + i % 29)) for i in range(2000)]
    )
    out = balanced_shards(docs, shards=8, oversample=2)
    per_shard = (
        out.select("micro_shard", "shard")
        .distinct()
        .groupBy("shard")
        .count()
        .collect()
    )
    assert {r["count"] for r in per_shard} == {2}


def test_corpus_data_card_counts_and_dups(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        corpus_data_card,
    )

    en = "the cat and the dog are in the house with a ball"
    fr = "le chat et le chien sont dans la maison avec une balle"
    rows = [
        (1, en),
        (2, en),          # exact dup of 1 (same digest)
        (3, en + " x"),   # near but NOT exact — must not count as dup
        (4, fr),
        (5, "qqq zzz"),   # no stopwords in any language → unknown
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    card = {r["lang"]: r for r in corpus_data_card(docs).collect()}
    assert set(card) == {"en", "fr", "unknown"}
    assert card["en"]["n_docs"] == 3
    assert card["en"]["n_dup_docs"] == 2   # both copies count, not one
    assert card["fr"]["n_dup_docs"] == 0
    assert card["unknown"]["n_docs"] == 1
    # shares partition unity to within one micro-unit per language row
    assert (
        abs(sum(r["token_share"] for r in card.values()) - 1.0) < 1e-5
    )
    assert card["en"]["total_tokens"] == 12 + 12 + 13
    assert 0.0 < card["en"]["mean_quality"] <= 1.0


def test_corpus_diff_report_rewrite_and_append_spans(spark, tmp_path):
    from airflow_crypto_btc_spark.operators.curation import (
        corpus_diff_report,
    )
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        append,
        overwrite,
    )

    en = "the cat and the dog are in the house"
    fr = "le chat et le chien sont dans la maison"
    t = str(tmp_path / "corpus")
    v1 = append(
        spark,
        spark.createDataFrame(
            [(1, en), (2, en + " now"), (3, fr)], ["doc_id", "text"]
        ),
        t,
    )
    # rewrite span: doc 2 removed, doc 4 added, 1/3 unchanged
    v2 = overwrite(
        spark,
        spark.createDataFrame(
            [(1, en), (3, fr), (4, fr + " ici")], ["doc_id", "text"]
        ),
        t,
    )
    d = {
        r["lang"]: r
        for r in corpus_diff_report(spark, t, from_version=v1).collect()
    }
    assert d["en"]["docs_removed"] == 1 and d["en"]["docs_added"] == 0
    assert d["en"]["tokens_removed"] == 10
    assert d["fr"]["docs_added"] == 1 and d["fr"]["tokens_added"] == 10
    # append-only span: feed fast path, inserts only
    append(
        spark,
        spark.createDataFrame([(5, en + " again")], ["doc_id", "text"]),
        t,
    )
    d2 = {
        r["lang"]: r
        for r in corpus_diff_report(spark, t, from_version=v2).collect()
    }
    assert set(d2) == {"en"}
    assert d2["en"]["docs_added"] == 1 and d2["en"]["docs_removed"] == 0


def test_training_order_reproducible_and_seeded(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        training_order,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1)) for i in range(60)],
        ["doc_id", "text"],
    )
    a = sorted(training_order(docs).collect())
    b = sorted(training_order(docs).collect())
    assert a == b  # byte-reproducible across runs
    # per-shard positions are dense ranks starting at 1
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # a new seed is a different permutation of the same documents
    c = training_order(docs, seed="epoch1").collect()
    assert {r["doc_id"] for r in c} == {r["doc_id"] for r in a}
    key = lambda rows: [
        r["doc_id"] for r in sorted(rows, key=lambda r: (r["shard"], r["position"]))
    ]
    assert key(a) != key(c)


def test_token_budget_head_is_exact_global_prefix(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        token_budget_head,
        training_order,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1)) for i in range(60)],
        ["doc_id", "text"],
    )
    budget = 50
    head = token_budget_head(docs, budget=budget).collect()
    # recompute the global order driver-side and check head == prefix
    full = sorted(
        training_order(docs).collect(),
        key=lambda r: (r["shard"], r["position"]),
    )
    cum, want = 0, []
    for r in full:
        if cum < budget:
            want.append((r["doc_id"], cum))
        cum += r["n_tokens"]
    assert sorted((r["doc_id"], r["global_offset"]) for r in head) == sorted(want)
    # the boundary straddler is kept: last kept doc may overflow budget
    kept_tokens = sum(r["n_tokens"] for r in head)
    assert kept_tokens >= budget
    assert 0 < len(head) < 60


@pytest.mark.smoke
def test_perplexity_buckets_equal_global_ntile(spark):
    """The value-band rank decomposition must equal a plain global
    ntile(3) over (mean_logprob DESC, doc_id) — including ties (docs
    with identical text score identically and split by id) and an
    uneven n (n mod 3 != 0: the first buckets take the extra rows).
    Empty docs are excluded, not bucketed."""
    from airflow_crypto_btc_spark.operators.curation import (
        perplexity_buckets,
    )
    from airflow_crypto_btc_spark.operators.text import (
        unigram_logprob_score,
    )
    from pyspark.sql import Window as W

    rows = [(i, f"w{i % 7} common common w{i % 3}") for i in range(10)]
    rows += [(100, "common common common"), (101, "common common common")]
    rows += [(200, "")]  # unscorable: excluded
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(docs).collect()
    }
    scored = unigram_logprob_score(docs).filter("n_tokens > 0")
    want = {
        r["doc_id"]: r["b"]
        for r in scored.withColumn(
            "b",
            F.ntile(3).over(
                W.orderBy(F.desc("mean_logprob"), F.asc("doc_id"))
            ).cast("long"),
        ).collect()
    }
    assert got == want
    assert 200 not in got
    # n = 12 -> buckets of exactly 4 each
    from collections import Counter

    assert Counter(got.values()) == {1: 4, 2: 4, 3: 4}
    # tie pair (100, 101): identical text, adjacent ranks split by id
    assert want[100] <= want[101]


def test_perplexity_buckets_uneven_split_takes_ceil_first(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        perplexity_buckets,
    )
    from collections import Counter

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i} x") for i in range(7)],
        "doc_id long, text string",
    )
    got = Counter(
        r["bucket"] for r in perplexity_buckets(docs).collect()
    )
    assert got == {1: 3, 2: 2, 3: 2}  # 7 = 3 + 2 + 2, extras go first


def test_ppl_gate_thresholds_and_tie_asymmetry(spark):
    """The frozen-cutoff gate classifies by comparison: every doc at or
    above bucket 1's boundary score goes to head — so a boundary TIE
    that the equal-count build split by id lands WHOLLY in the better
    bucket under the gate (the documented build/serve asymmetry)."""
    from airflow_crypto_btc_spark.operators.curation import (
        perplexity_buckets,
        ppl_cutoffs,
        ppl_gate_from_cutoffs,
    )
    from airflow_crypto_btc_spark.operators.text import (
        unigram_logprob_score,
    )

    # 6 docs, three identical-score PAIRS -> build splits pair members
    # across bucket boundaries, gate must not
    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "a a a"),
         (3, "a a b"), (4, "a a b"),
         (5, "b c d"), (6, "b c d")],
        "doc_id long, text string",
    )
    built = perplexity_buckets(docs)
    cuts = ppl_cutoffs(built).collect()[0]
    gated = {
        r["doc_id"]: r["bucket"]
        for r in ppl_gate_from_cutoffs(
            unigram_logprob_score(docs),
            cuts["cut_head"], cuts["cut_middle"],
        ).collect()
    }
    # identical text => identical gate bucket, always
    assert gated[1] == gated[2]
    assert gated[3] == gated[4]
    assert gated[5] == gated[6]
    # and the three score levels land in strictly ordered buckets
    assert gated[1] <= gated[3] <= gated[5]
    # unscorable arrivals are excluded, same as the build
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    assert ppl_gate_from_cutoffs(
        unigram_logprob_score(empty), cuts["cut_head"], cuts["cut_middle"]
    ).count() == 0


# ------------------------------------------------ temperature mixture


def test_temperature_mixture_apportions_exactly_and_upsamples(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        temperature_mixture_plan,
    )

    rows = (
        [(i, "en", "w " * 20) for i in range(80)]
        + [(100 + i, "fr", "w " * 20) for i in range(15)]
        + [(200 + i, "de", "w " * 20) for i in range(5)]
    )
    docs = spark.createDataFrame(
        [(i, lang, t.strip()) for i, lang, t in rows],
        "doc_id long, lang string, text string",
    )
    plan = {
        r["lang"]: r
        for r in temperature_mixture_plan(docs, budget=100).collect()
    }
    assert sum(r["quota"] for r in plan.values()) == 100
    # α<1 compresses the head and lifts the tail: quota share sits
    # strictly between raw share and uniform
    assert plan["en"]["quota"] < 80 and plan["en"]["quota"] > 100 // 3
    assert plan["de"]["quota"] > 5
    # α=1 degenerates to proportional (largest-remainder of raw shares)
    prop = {
        r["lang"]: r["quota"]
        for r in temperature_mixture_plan(
            docs, budget=100, alpha_pct=100
        ).collect()
    }
    assert prop == {"en": 80, "fr": 15, "de": 5}


def test_leakage_safe_split_keeps_clusters_together(spark):
    from airflow_crypto_btc_spark.operators.curation import (
        leakage_safe_split,
    )
    from airflow_crypto_btc_spark.operators.text import train_test_split

    docs = spark.createDataFrame(
        [(i, "t") for i in range(60)], "doc_id long, text string"
    )
    # clusters: {0..9} one big near-dup cluster, rest singletons
    clusters = spark.createDataFrame(
        [(i, 0 if i < 10 else i) for i in range(60)],
        "doc_id long, cluster_id long",
    )
    out = {
        r["doc_id"]: r
        for r in leakage_safe_split(docs, clusters).collect()
    }
    naive = {
        r["doc_id"]: r["split"]
        for r in train_test_split(docs).collect()
    }
    # every cluster member lands on ONE side — no straddling possible
    sides = {out[i]["split"] for i in range(10)}
    assert len(sides) == 1
    # the naive rule DID straddle this cluster (why this operator exists),
    # and `moved` audits exactly the members whose naive side differed
    assert len({naive[i] for i in range(10)}) == 2
    for i in range(10):
        assert out[i]["moved"] == (naive[i] != out[i]["split"])
    # singletons degrade to the per-document rule: nothing moves
    for i in range(10, 60):
        assert out[i]["split"] == naive[i] and not out[i]["moved"]
