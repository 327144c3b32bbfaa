"""Distributed model TRAINING primitives (round 6).

The t26 inference pass broadcasts a model over a scan; this module adds
the other half of the quality-classifier story — training that model on
the cluster.  The reference witness is its driver-looped mapper/reducer
iteration pattern (``src/Core/MapReduceC.hs:22-104`` composes stages; an
iterative job re-runs the composed pipeline with updated parameters),
re-expressed Spark-first: per step ONE scan-shaped pass over the
feature stream with the current weights BROADCAST, one dim-sized
partial-aggregatable gradient aggregation, and a model-sized (≤ dim+1
rows) collect to the driver — the s05/s11 driver-loop discipline.

Determinism: everything is integer fixed-point (micro-units) with
truncating division (Spark ``div`` == DuckDB ``//`` toward zero), and
the sigmoid is the HARD sigmoid clamp(z/4 + 1/2, 0, 1) — piecewise
linear, so every step replays bit-for-bit in an unrolled SQL oracle
(the quantized-training formulation; a float sigmoid would put a
transcendental in the update and break engine portability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducehs_spark.operators.iteration import materialize

#: fixed-point scale: weights, margins, probabilities in micro-units
MICRO = 1_000_000
#: learning-rate denominator: w -= (mean_grad // LR_DEN) per step
LR_DEN = 50


def hashed_features(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """(doc_id, bucket, x): token-count features via the md5-fold
    hashing trick (t26's feature law at a trainable dimension).  One
    scan + one (doc_id, bucket) aggregation; x is an integer count."""
    from mapreducehs_spark.operators.text import tokens

    # repartition("doc_id") BEFORE the explode (round 12): the sf-dir
    # parquet is one row group, so without it the tokenize + per-token
    # md5 chain — the dominant cost of every trainer — ran on ONE task.
    # Hash (not round-robin) partitioning means the (doc_id, bucket)
    # aggregation below needs NO further exchange and the output frame
    # arrives already doc_id-partitioned for the trainers' joins.
    return (
        docs.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode_outer(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isNotNull())
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("bigint")
                % n_buckets
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )


def hard_sigmoid_micro(z_micro):
    """clamp(z/4 + 1/2, 0, 1) in micro-units with truncating division —
    the engine-portable sigmoid surrogate (both Spark ``div`` and
    DuckDB ``//`` truncate toward zero)."""
    return F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.lit(MICRO).cast("bigint"),
            F.expr(f"(({z_micro}) div 4) + {MICRO // 2}"),
        ),
    )


def gradient_frames(
    features: DataFrame,
    labels: DataFrame,
    weights: dict[int, int],
    bias: int,
) -> tuple[DataFrame, DataFrame]:
    """Build (gradient_df, residual_df) for one step — the plan-
    testable seam: gradient_df is (bucket, g), residual_df (doc_id, r).
    See ``logreg_gradient_step`` for the plan-shape contract."""
    spark = features.sparkSession
    w_df = spark.createDataFrame(
        [(b, w) for b, w in sorted(weights.items())], "bucket bigint, w bigint"
    )
    margins = (
        features.join(F.broadcast(w_df), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("x")).alias("zf"))
    )
    resid = (
        labels.join(margins, "doc_id", "left")
        .select(
            "doc_id",
            (
                hard_sigmoid_micro(f"coalesce(zf, 0) + {bias}")
                - F.col("y") * F.lit(MICRO)
            ).alias("r"),
        )
    )
    grad_df = (
        resid.join(features, "doc_id")
        .groupBy("bucket")
        .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
    )
    return grad_df, resid


def logreg_gradient_step(
    features: DataFrame,
    labels: DataFrame,
    weights: dict[int, int],
    bias: int,
    n_docs: int,
) -> tuple[dict[int, int], int]:
    """One distributed gradient step; returns the UPDATED (weights,
    bias) as plain ints.  Plan shape (pinned in tests/test_plans.py):

    - margin: features ⋈ broadcast(weights) → groupBy(doc_id) sum —
      the features frame is persisted hash-partitioned on doc_id by
      the caller, so this aggregation adds NO exchange;
    - residual: hard-sigmoid(margin) − y·1e6, co-partitioned join with
      labels on doc_id;
    - gradient: residual ⋈ features on doc_id (co-partitioned) →
      groupBy(bucket) — a dim-sized (64-key) aggregation;
    - driver state: dim+1 integers.

    Update law (exact-integer, replayed by the SQL oracle):
      w_b' = w_b − ((Σ_docs r·x_b) div n) div LR_DEN
      b'   = b   − ((Σ_docs r)      div n) div LR_DEN
    Magnitudes: r ≤ 1e6 micro, x ≤ doc tokens, so Σ r·x fits bigint to
    ~1e12 docs per aggregation; past that, accumulate as decimal(38,0)
    (the q01 recipe)."""
    grad_df, resid = gradient_frames(features, labels, weights, bias)
    grad = grad_df.collect()
    g_bias = resid.agg(F.sum("r").alias("g")).collect()[0]["g"] or 0
    trunc = lambda v, d: int(abs(v) // d) * (1 if v >= 0 else -1)  # noqa: E731 — toward-zero like div/`//`
    new_w = dict(weights)
    for row in grad:
        step = trunc(trunc(int(row["g"]), n_docs), LR_DEN)
        new_w[int(row["bucket"])] = new_w[int(row["bucket"])] - step
    new_bias = bias - trunc(trunc(int(g_bias), n_docs), LR_DEN)
    return new_w, new_bias


def _batched_gradients(
    feats_x: DataFrame,
    labs_x: DataFrame,
    weights: dict[int, dict[int, int]],
    biases: dict[int, int],
) -> dict[int, dict[int, tuple[int, int]]]:
    """ONE Spark job computing every model group's full gradient state
    (round 12, guide §2.4/§2.6: the sequential trainers paid 2 driver
    actions per step per model — grad collect + bias collect — and the
    cross-validator paid that k times over; every action is a full
    scheduling round-trip, and none of them depended on each other).

    Inputs carry a model-group key ``f`` (fold / constant 0):
    ``feats_x`` (f, doc_id, bucket, x), ``labs_x`` (f, doc_id, y).
    The per-group weight vectors join as ONE broadcast table and the
    bias gradient rides the same aggregation as the weight gradients
    via a synthetic bucket −1 feature row (x = 1 per label doc), so

      g[f][b]   = Σ_docs r·x_b          (bucket b ≥ 0)
      g[f][-1]  = Σ_docs r              (the bias gradient)
      count(f, -1) = |labels in group f| (the update normalizer)

    all come back from a single collect of ≤ groups×(dim+1) rows.
    Arithmetic is EXACTLY ``gradient_frames``'s integer law (hard
    sigmoid, bigint sums — order-free), so results are bit-identical
    to the sequential path.  Returns {f: {bucket: (g, n_rows)}}."""
    spark = feats_x.sparkSession
    w_df = spark.createDataFrame(
        [
            (f, b, w)
            for f, wd in sorted(weights.items())
            for b, w in sorted(wd.items())
        ],
        "f bigint, bucket bigint, w bigint",
    )
    b_df = spark.createDataFrame(
        sorted(biases.items()), "f bigint, bias bigint"
    )
    margins = (
        feats_x.join(F.broadcast(w_df), ["f", "bucket"])
        .groupBy("f", "doc_id")
        .agg(F.sum(F.col("w") * F.col("x")).alias("zf"))
    )
    resid = (
        labs_x.join(margins, ["f", "doc_id"], "left")
        .join(F.broadcast(b_df), "f")
        .select(
            "f",
            "doc_id",
            (
                hard_sigmoid_micro("coalesce(zf, 0) + bias")
                - F.col("y") * F.lit(MICRO)
            ).alias("r"),
        )
    )
    feats_aug = feats_x.select("f", "doc_id", "bucket", "x").unionByName(
        labs_x.select(
            "f",
            "doc_id",
            F.lit(-1).cast("bigint").alias("bucket"),
            F.lit(1).cast("bigint").alias("x"),
        )
    )
    rows = (
        resid.join(feats_aug, ["f", "doc_id"])
        .groupBy("f", "bucket")
        .agg(
            F.sum(F.col("r") * F.col("x")).alias("g"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    out: dict[int, dict[int, tuple[int, int]]] = {}
    for row in rows:
        out.setdefault(int(row["f"]), {})[int(row["bucket"])] = (
            int(row["g"]),
            int(row["n_rows"]),
        )
    return out


def _trunc_div(v: int, d: int) -> int:
    """Toward-zero integer division — Spark ``div`` / DuckDB ``//``."""
    return int(abs(v) // d) * (1 if v >= 0 else -1)


def _apply_update(
    w: dict[int, int], bias: int, grads: dict[int, tuple[int, int]], n: int
) -> tuple[dict[int, int], int]:
    """The exact ``logreg_gradient_step`` driver update from a batched
    gradient row-set: w_b −= (g_b div n) div LR_DEN, same for bias."""
    new_w = dict(w)
    for b, (g, _) in grads.items():
        if b < 0:
            continue
        new_w[b] = new_w[b] - _trunc_div(_trunc_div(g, n), LR_DEN)
    g_bias = grads.get(-1, (0, 0))[0]
    return new_w, bias - _trunc_div(_trunc_div(g_bias, n), LR_DEN)


def sample_pred(step: int, sample_mod: int):
    """Deterministic per-step row-sampling predicate (s10's md5-fold
    draw law): doc_id is in step ``step``'s mini-batch iff
    md5-fold(doc_id ‖ ':' ‖ step) % sample_mod == 0 — a fresh,
    overlap-free-in-expectation 1/sample_mod draw each step, with no
    RNG state anywhere (the oracle replays the same fold)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{step}"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % sample_mod
        == 0
    )


def logreg_train_minibatch(docs: DataFrame, n_buckets: int = 64, sample_mod: int = 4) -> DataFrame:
    """MINI-BATCH variant of ``logreg_train_hashed`` (round 7, VERDICT
    r06 item 6): each gradient step runs on a deterministic md5-fold
    SAMPLE of the corpus (``sample_pred``), so per-step cost is
    corpus/``sample_mod`` — the sublinear-per-step posture 100 TB
    training actually needs (full-batch GD pays one full scan per
    step; SGD pays 1/sample_mod of one, and the sample predicate is a
    pushable filter on the persisted feature frame, pinned in
    tests/test_plans.py).  Same integer update law as t28, normalized
    by the SAMPLE count n_s (not the corpus count), same 2-step
    unrolled-oracle discipline — every draw, margin, clamp and
    truncating division replays bit-for-bit in DuckDB.  Output contract
    matches t28: (bucket, w_step1, w_final) with bias as bucket −1."""
    spark = docs.sparkSession
    labels = docs.select("doc_id", (F.col("n_chars") >= 300).cast("bigint").alias("y"))
    with materialize(spark) as m:
        features = m.persist(hashed_features(docs, n_buckets))
        labels = m.persist(labels.repartition("doc_id"))
        feats_x = features.withColumn("f", F.lit(0).cast("bigint"))
        labs_x = labels.withColumn("f", F.lit(0).cast("bigint"))
        w = {b: 0 for b in range(n_buckets)}
        bias = 0
        snapshots = []
        for step in range(1, 3):
            pred = sample_pred(step, sample_mod)
            # ONE action per step (round 12): gradient, bias gradient
            # AND the sample count n_s all return from the same job —
            # the sequential form paid 3 (count + grad + bias collects).
            g = _batched_gradients(
                feats_x.filter(pred), labs_x.filter(pred), {0: w}, {0: bias}
            ).get(0, {})
            n_s = g.get(-1, (0, 0))[1]
            if n_s == 0:  # degenerate draw (tiny corpus): skip the step
                snapshots.append((dict(w), bias))
                continue
            w, bias = _apply_update(w, bias, g, n_s)
            snapshots.append((dict(w), bias))
        (w1, b1), (wf, bf) = snapshots[0], snapshots[-1]
        rows = [(-1, b1, bf)] + [(b, w1[b], wf[b]) for b in range(n_buckets)]
        return spark.createDataFrame(
            rows, "bucket bigint, w_step1 bigint, w_final bigint"
        )


def logreg_train_hashed(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Train a hashed-feature logistic-regression quality classifier
    (hard-sigmoid surrogate, integer fixed-point) for 2
    full-batch gradient steps from w=0, and return the weight table
    (bucket, w_step1, w_final) with the bias as bucket −1 — the model
    t26's inference pass would broadcast.  Label: y = 1 iff
    n_chars ≥ 300 (a deterministic length-quality proxy the
    oracle can replay; swap in human labels in production — same plan).

    Scale shape: the feature stream is computed ONCE, persisted
    hash-partitioned on doc_id; each step is one broadcast join + two
    co-partitioned aggregations; driver state is dim+1 integers per
    step.  n_steps is a constant (2): full-batch GD on 100 TB is one
    scan per step, exactly as many scans as the budget allows."""
    spark = docs.sparkSession
    labels = docs.select("doc_id", (F.col("n_chars") >= 300).cast("bigint").alias("y"))
    with materialize(spark) as m:
        features = m.persist(hashed_features(docs, n_buckets))
        labels = m.persist(labels.repartition("doc_id"))
        feats_x = features.withColumn("f", F.lit(0).cast("bigint"))
        labs_x = labels.withColumn("f", F.lit(0).cast("bigint"))
        w = {b: 0 for b in range(n_buckets)}
        bias = 0
        n_docs = None
        snapshots = []
        for _ in range(2):
            # ONE action per step (round 12): the corpus count n_docs
            # rides the first step's gradient job (count of the bias
            # rows) instead of a separate labels.count() action.
            g = _batched_gradients(feats_x, labs_x, {0: w}, {0: bias}).get(0, {})
            if n_docs is None:
                n_docs = g.get(-1, (0, 0))[1]
            w, bias = _apply_update(w, bias, g, n_docs)
            snapshots.append((dict(w), bias))
        (w1, b1), (wf, bf) = snapshots[0], snapshots[-1]
        rows = [(-1, b1, bf)] + [(b, w1[b], wf[b]) for b in range(n_buckets)]
        return spark.createDataFrame(
            rows, "bucket bigint, w_step1 bigint, w_final bigint"
        )


def cv_fold_col(k: int):
    """Deterministic fold assignment: md5-fold(doc_id ‖ ':cv') % k —
    the q37/q38 hash-split law, so the oracle replays membership."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cv"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % k
    )


def logreg_crossval(docs: DataFrame, k: int = 3) -> DataFrame:
    """K-FOLD CROSS-VALIDATION of the t28 trainer (round 7): for each
    fold f, train 2 full-batch steps on the other k-1 folds
    (the exact t28 update law) and score the HELD-OUT fold with the
    final weights (the t26 inference law: hard-sigmoid >= 1/2), emitting
    (fold, n_eval, n_correct, acc_micro) — the model-selection readout
    that closes the classifier tier (t28 train / t26+st17 infer / q116
    calibrate / here evaluate honestly on unseen docs).

    Scale shape: features and labels are computed ONCE, persisted
    hash-partitioned on doc_id with the fold label attached; each
    fold's training filters that frame (a partitioning-preserving
    predicate — no re-shuffle), so the total cost is k * 2
    scan-shaped gradient passes plus k broadcast-scored eval passes;
    driver state stays dim+1 integers per fold.  Every quantity is
    truncating-integer so all k training chains and eval tails replay
    bit-for-bit in one unrolled SQL oracle."""
    spark = docs.sparkSession
    fold = cv_fold_col(k)
    with materialize(spark) as m:
        labels = m.persist(
            docs.select(
                "doc_id",
                (F.col("n_chars") >= 300).cast("bigint").alias("y"),
                fold.alias("fold"),
            ).repartition("doc_id")
        )
        features = m.persist(hashed_features(docs).withColumn("fold", fold))
        # Round 12 (guide §2.6: the k training chains are INDEPENDENT —
        # only steps are sequential): every fold's gradient rides ONE
        # job per step, keyed by the held-out fold f.  A doc with fold
        # value v trains folds f != v, so the expansion join against the
        # k-row fold grid replicates each row k−1 times — exactly the
        # bytes the sequential form read anyway (fold f's pass scans the
        # (k−1)/k of the corpus it trains on), but 3 actions total
        # instead of k·(1 count + 2·2 collects) + k eval collects
        # = 18.  Driver state and the integer update law are unchanged.
        fold_grid = spark.createDataFrame([(f,) for f in range(k)], "f bigint")
        feats_x = features.join(
            F.broadcast(fold_grid), F.col("f") != F.col("fold")
        ).select("f", "doc_id", "bucket", "x")
        labs_x = labels.join(
            F.broadcast(fold_grid), F.col("f") != F.col("fold")
        ).select("f", "doc_id", "y")
        w = {f: {b: 0 for b in range(64)} for f in range(k)}
        biases = {f: 0 for f in range(k)}
        n_tr: dict[int, int] = {}
        for step in range(2):
            grads = _batched_gradients(feats_x, labs_x, w, biases)
            for f in range(k):
                gf = grads.get(f, {})
                if step == 0:
                    n_tr[f] = gf.get(-1, (0, 0))[1]
                w[f], biases[f] = _apply_update(w[f], biases[f], gf, n_tr[f])
        # eval: ALL folds' held-out scoring in one job — each feature
        # row joins its OWN fold's final model (broadcast), so fold f's
        # eval set meets exactly w_f, as the per-fold loop did.
        wf_df = spark.createDataFrame(
            [(f, b, w[f][b]) for f in range(k) for b in range(64)],
            "f bigint, bucket bigint, w bigint",
        )
        bf_df = spark.createDataFrame(
            sorted(biases.items()), "f bigint, bias bigint"
        )
        zfe = (
            features.select(F.col("fold").alias("f"), "doc_id", "bucket", "x")
            .join(F.broadcast(wf_df), ["f", "bucket"])
            .groupBy("f", "doc_id")
            .agg(F.sum(F.col("w") * F.col("x")).alias("zf"))
        )
        ev = (
            labels.select(F.col("fold").alias("f"), "doc_id", "y")
            .join(zfe, ["f", "doc_id"], "left")
            .join(F.broadcast(bf_df), "f")
            .select(
                "f",
                "y",
                (
                    hard_sigmoid_micro("coalesce(zf, 0) + bias")
                    >= F.lit(MICRO // 2)
                )
                .cast("bigint")
                .alias("pred"),
            )
        )
        rows = (
            ev.groupBy("f")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_eval"),
                F.sum((F.col("pred") == F.col("y")).cast("bigint"))
                .cast("bigint")
                .alias("n_correct"),
            )
            .collect()
        )
        per = {int(r["f"]): (int(r["n_eval"]), int(r["n_correct"])) for r in rows}
        # max(ne, 1): an empty fold (tiny input, or k > distinct docs)
        # emits a 0-accuracy row instead of a driver ZeroDivisionError.
        out = [
            (f, ne, nc, (nc * MICRO) // max(ne, 1))
            for f in range(k)
            for ne, nc in [per.get(f, (0, 0))]
        ]
    return spark.createDataFrame(
        out, "fold bigint, n_eval bigint, n_correct bigint, acc_micro bigint"
    )
