"""Trainable linear quality probe over embedding vectors — the
fasttext-style "model-based quality filter" stage of a pretraining data
pipeline (cf. CCNet / GPT-3's quality classifier), trained DISTRIBUTED
with full-batch gradient descent in EXACT integer micro-unit arithmetic.

The reference (`/root/reference/dags/dag_btc_daily.py`) has no trainable
surface; this extends the curation family (quality gates, contamination,
mixtures) with the one component those gates lack: a classifier whose
weights are *learned from the corpus* rather than hand-set, expressed so
that training itself is a handful of Catalyst plans.

Scale design (the reason this shape survives 100 TB):

- **One linear scan per iteration, no corpus-sized shuffle.**  The weight
  vector lives in a one-row DataFrame (`array<long>` of micro-units) that
  is broadcast-cross-joined onto the corpus; the per-row margin ``z`` is
  computed row-local with ``zip_with``/``aggregate`` (whole-stage codegen,
  no explode), and the only aggregation is the gradient — ``posexplode``
  → ``groupBy(pos)`` over dim+1 groups, reduced map-side to ≤ dim+1 rows
  per partition before the exchange.  Per iteration the exchanges carry
  O(partitions × dim) rows, never O(corpus).
- **No driver round-trip between iterations.**  Like
  :func:`~airflow_crypto_btc_spark.operators.similarity.kmeans_train`,
  iterations chain lazily: weights(t+1) is a one-row frame derived from
  weights(t) ⨯ gradient(t); nothing is collected.
- **Gradient sums in ``decimal(38,0)``** — exact and associative, so
  shuffle order cannot change them, and a 10^11-row corpus cannot
  overflow them (per-row terms are bounded by 10^12 × max|feature|).

Determinism contract (a DuckDB oracle replays the whole training run
bit-for-bit — see plans/registry_probe.py):

- Features quantized once: ``xq = FLOOR(x·10^6 + 0.5)`` (IEEE double
  multiply + floor — deterministic), bias term fixed at 10^6.
- The link is the RATIONAL fast sigmoid ``p = ½ + ½·z/(1+|z|)`` — no
  transcendental whose last ulp could differ across engines — evaluated
  in integer micro-units with a half-away-from-zero rounding division.
- Every division is arranged nonnegative (sign split out front):
  Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors,
  and the two only agree on nonnegative operands.
- Weights, scores, predictions: all integers.  There is no floating
  point anywhere past the initial quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICRO = 1_000_000
PICO = MICRO * MICRO

# half-away-from-zero rounding division q = round(num/den) for INTEGER
# num of either sign and POSITIVE den, with the numerator magnitude cast
# decimal(38,0) so 500000·|z| cannot overflow int64.  The sign is split
# out so the inner `div` always sees nonnegative operands (Spark
# truncates, DuckDB floors — identical only there).
_SDIV = (
    "(CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
    " * CAST((2 * CAST(abs({num}) AS DECIMAL(38,0)) + ({den}))"
    "        div (2 * ({den})) AS BIGINT)"
)

# fast-sigmoid in micro-units: z is a pico-unit margin (micro weights ×
# micro features); p = 500000 + round(500000·z / (10^12 + |z|)).
_SIG = "CAST(500000 + {sdiv} AS BIGINT)"


def _sig_expr(z: str) -> str:
    num = f"500000 * CAST({z} AS DECIMAL(38,0))"
    den = f"CAST({PICO} AS DECIMAL(38,0)) + abs({z})"
    return _SIG.format(sdiv=_SDIV.format(num=num, den=den))


def _quantized(
    vectors: DataFrame, id_col: str, vec_col: str, label_col: str,
    positive_min: int,
) -> DataFrame:
    """(nid, xqa, y): micro-quantized features with the bias at slot 1,
    micro-unit binary target.  One pass; callers localCheckpoint it so
    every training iteration reuses the quantized arrays."""
    return vectors.select(
        F.col(id_col).alias("nid"),
        F.expr(
            f"concat(array({MICRO}L), transform({vec_col}, "
            f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)"
            f" AS BIGINT)))"
        ).alias("xqa"),
        F.expr(
            f"CAST(CASE WHEN {label_col} >= {positive_min}"
            f" THEN {MICRO} ELSE 0 END AS BIGINT)"
        ).alias("y"),
    )


# row-local margin: int64-safe (|w| stays ≤ ~10^7 micro for sane
# lr/iterations, features ≤ ~10^7 micro, dim+1 ≤ ~10^3 terms)
_Z = (
    "aggregate(zip_with(xqa, warr, (x, w) -> x * w),"
    " 0L, (acc, t) -> acc + t)"
)


def quality_probe_train(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_min: int = 5,
    iterations: int = 3,
    lr_num: int = 4,
    lr_den: int = 1,
) -> DataFrame:
    """Train the probe; return the final weights as ONE row
    ``(iteration, warr array<long>)`` of micro-unit weights (slot 1 is
    the bias).  Fully lazy — materializing the row runs the whole
    training; persisting it is the model artifact
    (:func:`probe_model_rows` reshapes it for a snapshot table)."""
    base = _quantized(
        vectors, id_col, vec_col, label_col, positive_min
    ).localCheckpoint(eager=False)

    # weights(0) = zeros, sized from one row's feature array — a one-row
    # frame, no driver probe (ADVICE r7: plan construction stays lazy).
    w = base.limit(1).select(
        F.expr("transform(xqa, x -> 0L)").alias("warr")
    )

    for it in range(1, iterations + 1):
        scored = base.crossJoin(F.broadcast(w)).withColumn(
            "err", F.expr(_sig_expr(_Z)) - F.col("y")
        )
        grad = scored.select(
            "err", F.posexplode("xqa").alias("pos", "xv")
        ).groupBy("pos").agg(
            F.sum(F.expr("CAST(err * xv AS DECIMAL(38,0))")).alias("g"),
            F.count("*").alias("n"),
        )
        # Δw = round(lr · g / (10^6 · n)) in micro-units, then fold the
        # dim+1 gradient rows back into a one-row array frame.
        delta = grad.select(
            "pos",
            F.expr(
                _SDIV.format(
                    num=f"{lr_num} * g", den=f"{lr_den}L * {MICRO} * n"
                )
            ).alias("d"),
        )
        darr = delta.groupBy().agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, d))),"
                " s -> s.d)"
            ).alias("darr")
        )
        # lazy checkpoint per iteration: each weight generation is
        # computed ONCE across every downstream use — without it, w(t)'s
        # broadcast re-executes the whole chain below it and training
        # cost grows quadratically in iterations (measured 13.4 s → 2 s
        # at sf0.1 for 6 iterations)
        w = (
            w.crossJoin(F.broadcast(darr))
            .select(
                F.expr("zip_with(warr, darr, (a, b) -> a - b)").alias(
                    "warr"
                )
            )
            .localCheckpoint(eager=False)
        )

    return w.select(F.lit(iterations).alias("iteration"), "warr")


def quality_probe_scores(
    vectors: DataFrame,
    weights: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_min: int = 5,
) -> DataFrame:
    """Score every vector with a trained weight row: one broadcast cross
    join + one row-local expression — the exchange-free serving scan.
    Returns ``(id, y_true, score_micro, pred, correct)``, all integers:
    ``score_micro`` ∈ [0, 10^6], ``pred = score ≥ ½``."""
    base = _quantized(vectors, id_col, vec_col, label_col, positive_min)
    return (
        base.crossJoin(F.broadcast(weights.select("warr")))
        .select(
            F.col("nid").alias(id_col),
            F.expr("CAST(y div 1000000 AS INT)").alias("y_true"),
            F.expr(_sig_expr(_Z)).alias("score_micro"),
        )
        .withColumn(
            "pred",
            F.expr("CAST(score_micro >= 500000 AS INT)"),
        )
        .withColumn(
            "correct", F.expr("CAST(pred = y_true AS INT)")
        )
    )


def quality_probe_eval(scores: DataFrame) -> DataFrame:
    """Confusion-matrix rollup of a scores frame: one row per
    ``(y_true, pred)`` cell with count and the exact micro-unit share of
    the corpus — the report a curation run logs next to its gates."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    totals = scores.groupBy().agg(F.count("*").alias("n_total"))
    return (
        scores.groupBy("y_true", "pred")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(totals))
        .select(
            "y_true",
            "pred",
            "n",
            ratio_micro("n", "n_total").alias("share"),
        )
    )


def probe_model_rows(weights: DataFrame) -> DataFrame:
    """Reshape the one-row weight array into ``(pos, w_micro)`` rows —
    the layout the persisted model snapshot table stores (mirrors the
    text-model tables: versioned rows, not blobs)."""
    return weights.select(
        F.posexplode("warr").alias("pos", "w_micro")
    )


def weights_from_model_rows(model: DataFrame) -> DataFrame:
    """Inverse of :func:`probe_model_rows`: fold persisted ``(pos,
    w_micro)`` rows back into the one-row array frame the scorer
    broadcasts.  dim+1 rows — driver-free, broadcast-sized."""
    return model.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, w_micro))),"
            " s -> s.w_micro)"
        ).alias("warr")
    )


def build_probe_model(
    spark,
    vectors: DataFrame,
    table: str,
    source_version: str,
    **train_kwargs,
) -> None:
    """Persist a trained probe as a snapshot table of ``(pos, w_micro)``
    rows — the offline half of model-based quality gating, with the same
    freshness contract as every other persisted artifact (text models,
    minhash/semantic indexes, PQ books): ``source_version`` plus the
    training hyperparameters land in commit metadata so serving can
    refuse a stale or differently-trained model from metadata alone,
    before reading a data file.

    Why persist: :func:`quality_probe_train` fits on the corpus ITSELF —
    correct for one-shot analytics, but a 100 TB deployment trains ONCE
    on the labeled reference set and gates arrivals against FROZEN
    weights (a document's quality score must not drift as unrelated
    documents arrive, and ingest must not re-run gradient descent per
    batch).  Rebuild is an OVERWRITE commit."""
    from airflow_crypto_btc_spark.sources.snapshot_table import overwrite

    w = quality_probe_train(vectors, **train_kwargs)
    meta = {
        "source_version": source_version,
        "iterations": int(train_kwargs.get("iterations", 3)),
        "lr_num": int(train_kwargs.get("lr_num", 4)),
        "lr_den": int(train_kwargs.get("lr_den", 1)),
        "positive_min": int(train_kwargs.get("positive_min", 5)),
    }
    overwrite(spark, probe_model_rows(w), table, meta=meta)


def quality_probe_scores_from_model(
    spark,
    vectors: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    expect_source: str | None = None,
) -> DataFrame:
    """Score against the PERSISTED probe — same output contract as
    training-then-scoring inline, identical values on the model's own
    corpus (bit-exact: the whole pipeline is integer arithmetic), and
    frozen thereafter: the model is pinned (README, "Frozen inputs")."""
    from airflow_crypto_btc_spark.sources.snapshot_table import (
        pin,
        read_parts,
    )

    [snap] = pin("probe model", table, expect_source=expect_source)
    model = read_parts(spark, table, snap.files, snap).select(
        "pos", "w_micro"
    )
    return quality_probe_scores(
        vectors,
        weights_from_model_rows(model),
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
        positive_min=int(snap.meta.get("positive_min", 5)),
    )


def quality_probe_calibration(
    scores: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """Calibration report over a scores frame: fixed-width score buckets
    (``score_micro div (10^6/n_buckets)``) vs the empirical positive
    rate — the table that says whether "score 0.7" MEANS 70 % positive.
    Fixed buckets, not ntile: a rank-based decile would be a global sort
    through one partition (the unpartitioned-window trap); bucketing is
    one map-side-combined aggregation at any corpus size.  All exact:
    counts are integers, rates are micro-unit ratios."""
    from airflow_crypto_btc_spark.functions.hashing import ratio_micro

    width = 1_000_000 // n_buckets
    return (
        scores.groupBy(
            F.expr(
                f"CAST(least(score_micro div {width},"
                f" {n_buckets - 1}) AS BIGINT)"
            ).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("y_true").cast("long").alias("n_pos"),
        )
        .select(
            "bucket",
            "n",
            "n_pos",
            ratio_micro("n_pos", "n").alias("pos_rate"),
        )
    )
