"""Takedown eviction cost probe — the round-12 verdict's item 3.

SCALING.md's takedown rows measured the post-eviction SERVE; the
eviction REWRITE cost ("paid once at zone build") had no measured row.
This probe times the cascade's eviction on an id-CLUSTERED BM25 zone
(postings + doclens, compacted to a fixed ~rows-per-part layout so the
file count grows with the corpus, exactly how a streamed 100 TB zone
looks) at sf0.1 (5k docs) and sf1 (50k docs), for |D| = 1, 1% and 10%
of the corpus, in the two deletion SHAPES that bound reality:

- ``clustered`` — one contiguous doc-id range (a source takedown, a
  crawl-window purge): the round-13 file narrowing should hold the
  rewrite at ~|D| worth of files no matter the corpus, i.e. wall time
  and rows-rewritten stay FLAT when the corpus grows 10x.
- ``scattered`` — ids spread by modulus across the whole key space
  (adversarial): every file overlaps some d, the narrowing degenerates
  to the full rewrite, and the cost is honestly O(corpus) — the
  documented worst case that merge-on-read deletion vectors exist for.

Output: one line per (corpus, |D|, shape) with wall seconds, files
rewritten/total and rows rewritten/zone — paste into SCALING.md.

Usage:  python tools/takedown_probe.py [sf_dir ...]
        (default: /root/testdata/sf0.1 and <repo>/.scale/sf1)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_crypto_btc_spark.operators import takedown as td  # noqa: E402
from airflow_crypto_btc_spark.operators.search import (  # noqa: E402
    build_bm25_index,
)
from airflow_crypto_btc_spark.session import get_spark  # noqa: E402
from airflow_crypto_btc_spark.sources import snapshot_table as st  # noqa: E402
from airflow_crypto_btc_spark.sources.tables import load_table  # noqa: E402

ROWS_PER_PART = 250  # fixed layout density: file count grows with corpus


def _build_zone(spark, sf_dir: str, base: str) -> tuple[str, str, int]:
    """BM25 zone (postings + doclens) compacted into doc_id-clustered
    parts of ~ROWS_PER_PART rows, so sf1's zone has ~10x the files of
    sf0.1's — the layout the narrowing's flatness claim is about."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    post = os.path.join(base, "post")
    dlen = os.path.join(base, "dlen")
    build_bm25_index(spark, docs, post, dlen, source_version="probe")
    for t in (post, dlen):
        n = st.read_snapshot(spark, t).count()
        st.compact(
            spark, t,
            target_parts=max(2, n // ROWS_PER_PART),
            cluster_by=["doc_id"],
        )
    return post, dlen, n_docs


def _deletion_sets(spark, n_docs: int):
    for frac in (None, 0.01, 0.10):
        size = 1 if frac is None else max(1, int(n_docs * frac))
        mid = n_docs // 2
        clustered = spark.range(mid, mid + size).selectExpr(
            "id AS doc_id"
        )
        step = max(1, n_docs // size)
        scattered = (
            spark.range(n_docs)
            .filter(f"id % {step} = 0")
            .limit(size)
            .selectExpr("id AS doc_id")
        )
        yield size, (("clustered", clustered), ("scattered", scattered))


def _zone_stats(spark, tables) -> tuple[int, int, dict[str, set]]:
    files = {t: set(st.current_snapshot(t).files) for t in tables}
    n_files = sum(len(f) for f in files.values())
    n_rows = sum(st.read_snapshot(spark, t).count() for t in tables)
    return n_files, n_rows, files


def probe(sf_dir: str) -> list[dict]:
    spark = get_spark()
    out = []
    n_docs = load_table(spark, sf_dir, "documents").count()
    base_root = tempfile.mkdtemp(prefix="takedown_probe_")
    try:
        # build + cluster the zone ONCE per corpus; each config gets a
        # byte-identical directory copy (the takedown mutates its own)
        master = os.path.join(base_root, "master")
        os.makedirs(master)
        _build_zone(spark, sf_dir, master)
        for size, shapes in _deletion_sets(spark, n_docs):
            for shape, ids in shapes:
                zone = tempfile.mkdtemp(dir=base_root)
                for name in ("post", "dlen"):
                    shutil.copytree(
                        os.path.join(master, name),
                        os.path.join(zone, name),
                    )
                post = os.path.join(zone, "post")
                dlen = os.path.join(zone, "dlen")
                tables = (post, dlen)
                f_before, r_before, files_before = _zone_stats(
                    spark, tables
                )
                ids = ids.localCheckpoint()  # D's own build not timed
                t0 = time.time()
                td.cascade_takedown(
                    spark, ids, txn_id=f"probe-{size}-{shape}",
                    bm25=(post, dlen),
                ).collect()
                wall = time.time() - t0
                # rewritten = rows landed in the NEW parts (survivors
                # of the touched files); carried files moved 0 bytes
                rows_rewritten, files_rewritten = 0, 0
                for t in tables:
                    added = sorted(
                        set(st.current_snapshot(t).files)
                        - files_before[t]
                    )
                    removed = files_before[t] - set(
                        st.current_snapshot(t).files
                    )
                    files_rewritten += len(removed)
                    if added:
                        rows_rewritten += st.read_parts(
                            spark, t, added, st.current_snapshot(t)
                        ).count()
                out.append({
                    "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                    "n_docs": n_docs,
                    "D": size,
                    "shape": shape,
                    "mode": "eager",
                    "wall_s": round(wall, 2),
                    "files_rewritten": files_rewritten,
                    "files_total": f_before,
                    "rows_rewritten": rows_rewritten,
                    "zone_rows": r_before,
                })
                shutil.rmtree(zone, ignore_errors=True)

                # merge-on-read twin: tombstones at takedown time,
                # anti-join at serve time, zero data files moved
                zone = tempfile.mkdtemp(dir=base_root)
                for name in ("post", "dlen"):
                    shutil.copytree(
                        os.path.join(master, name),
                        os.path.join(zone, name),
                    )
                post = os.path.join(zone, "post")
                dlen = os.path.join(zone, "dlen")
                dv = os.path.join(zone, "dv")
                t0 = time.time()
                td.takedown_deferred(
                    spark, ids, dv, "doc_id",
                    txn_id=f"defer-{size}-{shape}",
                )
                w_defer = time.time() - t0
                t0 = time.time()
                served = sum(
                    td.read_snapshot_mor(spark, t, dv, "doc_id").count()
                    for t in (post, dlen)
                )
                w_serve = time.time() - t0
                out.append({
                    "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                    "n_docs": n_docs,
                    "D": size,
                    "shape": shape,
                    "mode": "deferred",
                    "wall_defer_s": round(w_defer, 2),
                    "wall_mor_serve_s": round(w_serve, 2),
                    "rows_served": served,
                    "zone_rows": r_before,
                })
                shutil.rmtree(zone, ignore_errors=True)
    finally:
        shutil.rmtree(base_root, ignore_errors=True)
    return out


def probe_mor_cadence(sf_dir: str) -> list[dict]:
    """Round-14 verdict item 4: the merge-on-read READ TAX and APPLY
    cost as functions of tombstone volume.  ``read_snapshot_mor``
    serves (state − DV) on EVERY read until ``apply_deletion_vectors``
    lands, so the cadence decision needs two measured curves:

    - serve tax(|DV|) = MoR serve wall − plain-snapshot serve wall at
      tombstone volumes spanning 0 → 50 % of the corpus (scattered ids
      — the shape DV exists for);
    - apply cost(|DV|) = one ``apply_deletion_vectors`` rewrite at the
      same volumes (file-narrowed; scattered is its honest worst case).

    The cadence rule follows: OPTIMIZE when
    ``reads_since_apply × serve_tax(|DV|) > apply_cost(|DV|)`` — both
    sides are printed per volume so SCALING.md can state the breakeven
    read count directly."""
    import statistics

    spark = get_spark()
    out = []
    n_docs = load_table(spark, sf_dir, "documents").count()
    base_root = tempfile.mkdtemp(prefix="mor_cadence_")
    try:
        master = os.path.join(base_root, "master")
        os.makedirs(master)
        _build_zone(spark, sf_dir, master)
        tables = [os.path.join(master, n) for n in ("post", "dlen")]

        def _serve(dv: str | None) -> float:
            reps = []
            for _ in range(3):
                t0 = time.time()
                for t in tables:
                    if dv is None:
                        st.read_snapshot(spark, t).count()
                    else:
                        td.read_snapshot_mor(
                            spark, t, dv, "doc_id"
                        ).count()
                reps.append(time.time() - t0)
            return statistics.median(reps)

        base_serve = _serve(None)
        for frac in (0.001, 0.01, 0.10, 0.50):
            size = max(1, int(n_docs * frac))
            step = max(1, n_docs // size)
            ids = (
                spark.range(n_docs)
                .filter(f"id % {step} = 0")
                .limit(size)
                .selectExpr("id AS doc_id")
                .localCheckpoint()
            )
            dv = os.path.join(base_root, f"dv_{size}")
            td.takedown_deferred(
                spark, ids, dv, "doc_id", txn_id=f"mor-{size}"
            )
            mor_serve = _serve(dv)
            # apply on a private zone copy (the apply mutates it)
            zone = tempfile.mkdtemp(dir=base_root)
            for name in ("post", "dlen"):
                shutil.copytree(
                    os.path.join(master, name),
                    os.path.join(zone, name),
                )
            dv2 = os.path.join(zone, "dv")
            td.takedown_deferred(
                spark, ids, dv2, "doc_id", txn_id=f"mor2-{size}"
            )
            ztables = [os.path.join(zone, n) for n in ("post", "dlen")]
            t0 = time.time()
            td.apply_deletion_vectors(
                spark, dv2, [(t, "doc_id") for t in ztables],
                txn_id=f"apply-{size}",
            )
            w_apply = time.time() - t0
            tax = max(0.0, mor_serve - base_serve)
            out.append({
                "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                "n_docs": n_docs,
                "dv_rows": size,
                "plain_serve_s": round(base_serve, 3),
                "mor_serve_s": round(mor_serve, 3),
                "serve_tax_s": round(tax, 3),
                "apply_s": round(w_apply, 2),
                "breakeven_reads": (
                    round(w_apply / tax, 1) if tax > 0 else None
                ),
            })
            shutil.rmtree(zone, ignore_errors=True)
    finally:
        shutil.rmtree(base_root, ignore_errors=True)
    return out


if __name__ == "__main__":
    import json

    args = [a for a in sys.argv[1:] if a != "--mor-cadence"]
    mor = "--mor-cadence" in sys.argv[1:]
    dirs = args or [
        "/root/testdata/sf0.1", os.path.join(REPO, ".scale", "sf1")
    ]
    for d in dirs:
        for r in (probe_mor_cadence(d) if mor else probe(d)):
            print(json.dumps(r))
