"""Distributed training of linear quality classifiers.

The curation stack so far could only *apply* a trained filter head
(``classifier_score``, the fastText/DCLM/FineWeb-Edu shape).  This module
closes the loop: train the logistic-regression head ON the cluster, over
a feature column, without any ML library — full-batch gradient descent
where each iteration is exactly ONE aggregation job.

Reference parity note: the reference engine (DataBora/elusion) has no
training surface; this is a beyond-parity component of the
training-data-pipeline family (same tier as dedup/ANN).

100 TB design
-------------
- Per iteration: one scan producing ``dim + 2`` aggregate values (the
  gradient vector, the bias gradient, the loss).  The driver holds only
  the weight vector — O(dim) state, never row data.
- The feature projection is persisted once and reused by every
  iteration, so iterations after the first read cached columnar batches,
  not the source.
- Gradient sums go through ``CAST(... AS DECIMAL(38,18))`` partials:
  exact fixed-point accumulation, so the learned weights are
  bit-identical under ANY partitioning or execution order — training is
  reproducible across cluster sizes (and matches a sequential oracle).
- ``sample_fraction`` turns full-batch GD into deterministic
  subsampled GD (Knuth-hash row selection) when even one pass per
  iteration over the full corpus is too much.
- ``train_logreg``'s per-row gradient term is always a codegen
  expression (unrolled element_at products — JVM-side, no Python),
  whatever the dim.  The wide form is the separate public
  ``train_logreg_wide``: an Arrow-batched pandas_udf that emits
  per-batch partial gradients (numpy GEMV) in double precision.
  SCALE.md ("The two public second ways") has the A/B: at dim 256
  ``train_logreg_wide`` is 8–11× faster, while ``train_logreg`` keeps
  the partition-independent DECIMAL sums.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "DECIMAL(38,18)"


@dataclass
class LogRegModel:
    """Trained head + training trace.  ``weights`` feed straight into
    ``classifier_score`` (similarity.py) for the scoring/filter side."""

    weights: list[float]
    bias: float
    n_rows: int
    loss_history: list[float] = field(default_factory=list)

    def score(self, df: DataFrame, vec_col: str, out_col: str = "score",
              threshold: float | None = None) -> DataFrame:
        from .similarity import classifier_score

        return classifier_score(df, vec_col, self.weights, bias=self.bias,
                                out_col=out_col, threshold=threshold)


def _margin_expr(vec_col: str, weights: list[float], bias: float) -> str:
    """w·x + b as a left-associated sum of element products — the exact
    association order the SQL oracle replicates."""
    terms = [
        f"({w!r} * CAST(element_at({vec_col}, {j + 1}) AS DOUBLE))"
        for j, w in enumerate(weights)
    ]
    expr = " + ".join(terms) if terms else "0.0"
    if bias:
        expr = f"({expr}) + {bias!r}"
    return expr


def train_logreg(
    df: DataFrame,
    features_col: str,
    label_col: str,
    dim: int,
    iters: int = 10,
    lr: float = 1.0,
    l2: float = 0.0,
    fit_bias: bool = True,
    init_weights: list[float] | None = None,
    init_bias: float = 0.0,
    standardize: bool = False,
    sample_fraction: float | None = None,
    sample_id_col: str | None = None,
    seed: int = 42,
    track_loss: bool = True,
) -> LogRegModel:
    """Full-batch logistic regression via gradient descent.

    ``df[features_col]`` is ``array<numeric>`` of length ``dim``;
    ``df[label_col]`` is 0/1 (numeric).  Each iteration runs one
    aggregation job; weights live on the driver (O(dim)).

    Update rule (mean gradient, optional L2 on weights only)::

        w  <-  w - lr * (sum((p - y) * x) / n + l2 * w)
        b  <-  b - lr *  sum(p - y) / n

    Deterministic: gradient/loss sums accumulate in DECIMAL(38,18), so
    the result is independent of partitioning and matches a sequential
    (or SQL-oracle) replay bit for bit, modulo last-ulp libm
    differences in exp/log themselves.

    ``standardize=True`` z-scores every feature first (one extra
    decimal-exact stats pass), runs GD in the well-conditioned
    standardized space, and folds the weights BACK to raw-feature space
    on return — so ``model.score`` applies to the original features and
    badly-scaled inputs (raw counts next to ratios) no longer need
    per-feature learning rates.  With L2, the penalty applies in
    standardized space (the usual convention).  A CONSTANT feature
    (e.g. an explicit 1.0 intercept column) standardizes to all-zeros
    and therefore learns nothing — under ``standardize=True`` rely on
    ``fit_bias`` (the default) for the intercept instead.
    """
    if dim <= 0 or iters <= 0:
        raise ValueError("dim and iters must be positive")
    x, y = features_col, label_col
    src = df
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError("sample_fraction must be in (0, 1]")
        if sample_id_col is None:
            raise ValueError(
                "sample_fraction needs sample_id_col (content-stable "
                "hash sampling — see pipeline.hash_sample)"
            )
        from ..pipeline import hash_sample  # deterministic row cut

        src = hash_sample(df, sample_id_col, sample_fraction, salt=seed)
    proj = src.select(
        F.col(x).alias("__x"), F.col(y).cast("double").alias("__y")
    ).persist()
    try:
        n = proj.count()
        if n == 0:
            raise ValueError("train_logreg: empty input")
        mu = sig = None
        if standardize:
            stats = proj.agg(*(
                [F.expr(
                    f"CAST(SUM(CAST(CAST(element_at(__x, {j + 1}) AS "
                    f"DOUBLE) AS {_DEC})) AS DOUBLE)").alias(f"s{j}")
                 for j in range(dim)]
                + [F.expr(
                    f"CAST(SUM(CAST(CAST(element_at(__x, {j + 1}) AS "
                    f"DOUBLE) * CAST(element_at(__x, {j + 1}) AS DOUBLE)"
                    f" AS {_DEC})) AS DOUBLE)").alias(f"q{j}")
                   for j in range(dim)]
            )).collect()[0]
            mu = [stats[f"s{j}"] / n for j in range(dim)]
            var = [stats[f"q{j}"] / n - mu[j] * mu[j] for j in range(dim)]
            sig = [math.sqrt(v) if v > 1e-24 else 1.0 for v in var]
            std_items = ", ".join(
                f"((CAST(element_at(__x, {j + 1}) AS DOUBLE) - {mu[j]!r})"
                f" / {sig[j]!r})"
                for j in range(dim)
            )
            proj2 = proj.select(
                F.expr(f"array({std_items})").alias("__x"), "__y"
            ).persist()
            proj.unpersist()
            proj = proj2
        w = [float(v) for v in (init_weights or [0.0] * dim)]
        if len(w) != dim:
            raise ValueError(f"init_weights must have length {dim}")
        b = float(init_bias)
        history: list[float] = []
        for _ in range(iters):
            margin = _margin_expr("__x", w, b)
            # compute p ONCE in a projection; the dim+2 aggregates then
            # stay tiny (a product and a decimal cast each).  Folding
            # the margin into every aggregate instead multiplies the
            # codegen size by dim — measured 7 s/iteration compile time
            # at dim=64 vs ~0.2 s this way.
            scored = proj.withColumn(
                "__p", F.expr(f"(1.0 / (1.0 + exp(-({margin}))))")
            )
            aggs = [
                F.expr(
                    f"CAST(SUM(CAST((__p - __y) * "
                    f"CAST(element_at(__x, {j + 1}) AS DOUBLE) "
                    f"AS {_DEC})) AS DOUBLE)"
                ).alias(f"g{j}")
                for j in range(dim)
            ]
            aggs.append(
                F.expr(
                    f"CAST(SUM(CAST(__p - __y AS {_DEC})) AS DOUBLE)"
                ).alias("gb")
            )
            if track_loss:
                # clamped cross-entropy: exact on the same doubles
                aggs.append(
                    F.expr(
                        "CAST(SUM(CAST(-(__y * log(greatest(__p, 1e-15))"
                        " + (1.0 - __y) * log(greatest(1.0 - __p, 1e-15)))"
                        f" AS {_DEC})) AS DOUBLE)"
                    ).alias("loss")
                )
            row = scored.agg(*aggs).collect()[0]
            w = [
                w[j] - lr * (row[f"g{j}"] / n + l2 * w[j])
                for j in range(dim)
            ]
            if fit_bias:
                b = b - lr * (row["gb"] / n)
            if track_loss:
                history.append(row["loss"] / n)
        if standardize:
            # fold z-space weights back to raw-feature space:
            # w_std·(x-μ)/σ + b  ==  (w_std/σ)·x + (b - Σ w_std·μ/σ)
            b = b - sum(w[j] * mu[j] / sig[j] for j in range(dim))
            w = [w[j] / sig[j] for j in range(dim)]
        return LogRegModel(weights=w, bias=b, n_rows=n,
                           loss_history=history)
    finally:
        proj.unpersist()


def train_logreg_wide(
    df: DataFrame,
    features_col: str,
    label_col: str,
    dim: int,
    iters: int = 10,
    lr: float = 1.0,
    l2: float = 0.0,
    fit_bias: bool = True,
) -> LogRegModel:
    """Wide-head variant (dim > ~128): per-Arrow-batch partial gradients
    via numpy GEMV inside ``mapInPandas`` (one d-vector per batch), then
    a tiny grouped reduce.  Loses the bit-exact partitioning invariance
    of the expression path (numpy partials sum in batch order) — use for
    embedding-width heads where that trade is obviously right.  Why both
    stay: the SCALE.md section on the two public "second ways" (20k ×
    256, 3 iterations on a 4-core VM: 1.9–2.3 s against 18.5–26.3 s for
    ``train_logreg``)."""
    import numpy as np  # noqa: F401 — import guard up front
    import pandas as pd

    proj = df.select(
        F.col(features_col).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    ).persist()
    try:
        n = proj.count()
        if n == 0:
            raise ValueError("train_logreg_wide: empty input")
        w = [0.0] * dim
        b = 0.0
        history: list[float] = []
        for _ in range(iters):
            W = np.asarray(w, dtype=np.float64)
            bb = float(b)

            def _partials(batches, W=W, bb=bb):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["x"]]
                    )
                    yv = pdf["y"].to_numpy(dtype=np.float64)
                    p = 1.0 / (1.0 + np.exp(-(X @ W + bb)))
                    err = p - yv
                    loss = float(
                        -np.sum(yv * np.log(np.maximum(p, 1e-15))
                                + (1 - yv)
                                * np.log(np.maximum(1 - p, 1e-15)))
                    )
                    # one (dim+2)-vector per Arrow batch:
                    # [grad..., bias grad, loss] — a single grouped
                    # reduce recovers all of them in ONE job
                    yield pd.DataFrame({
                        "g": [(err @ X).tolist()
                              + [float(err.sum()), loss]],
                    })

            parts = proj.mapInPandas(_partials, "g array<double>")
            grad = (
                parts.select(F.posexplode("g").alias("j", "v"))
                .groupBy("j")
                .agg(F.sum("v").alias("g"))
                .collect()
            )
            gvec = [0.0] * (dim + 2)
            for r in grad:
                gvec[r["j"]] = r["g"]
            w = [w[j] - lr * (gvec[j] / n + l2 * w[j]) for j in range(dim)]
            if fit_bias:
                b = b - lr * (gvec[dim] / n)
            history.append(gvec[dim + 1] / n)
        return LogRegModel(weights=w, bias=b, n_rows=n,
                           loss_history=history)
    finally:
        proj.unpersist()


def evaluate_classifier(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
    auc: bool | str = True,
    auc_buckets: int = 1000,
    score_range: tuple[float, float] = (0.0, 1.0),
) -> DataFrame:
    """Classifier quality report as ONE row: n / n_pos / confusion
    counts / accuracy / precision / recall / f1 (+ AUC) — the evaluate
    side of the train_logreg → classifier_score loop.

    Confusion metrics are a single aggregation pass (conditional BIGINT
    sums — exact).  ``auc=True`` computes the tie-aware Mann-Whitney
    statistic: ranks come from ``RANK() OVER (ORDER BY score)`` plus
    the tie-average correction, so it is exact (equal to the
    trapezoidal ROC area) and deterministic whenever the scores are.
    NOTE: that rank is a GLOBAL window — a single-partition sort over
    the scored rows, the right trade for eval sets (bounded by
    construction) but a cliff if handed a whole scored corpus.

    ``auc="approx"`` is the 100 TB path: scores are clamped to
    ``score_range`` and histogrammed into ``auc_buckets`` equal-width
    buckets (one hash-aggregation shuffling ≤``auc_buckets`` rows, NO
    global window anywhere in the plan); AUC is then the tie-aware
    statistic over the bucketed scores, computed exactly in integer
    arithmetic from the ≤``auc_buckets`` collected histogram rows.
    Treating every score in a bucket as tied biases the estimate by at
    most the mass of genuinely-distinct scores that share a bucket —
    error ≤ one bucket width (≤ 1/auc_buckets of the score range), and
    exact when distinct scores never collide (e.g. 4dp-rounded scores
    with 10000 buckets).  Default ``score_range=(0, 1)`` fits
    probability outputs (sigmoid heads); widen it for margin scores.

    Undefined ratios (no positives, no predicted positives, one class
    absent) come back NULL, never a division error.  Rows with a NULL
    score or label are EXCLUDED (counting them in ``n`` while no sum
    can classify them would skew every ratio)."""
    if auc not in (True, False, "approx"):
        raise ValueError("auc must be True, False, or 'approx'")
    pred = f"(CAST({score_col} AS DOUBLE) >= {float(threshold)!r})"
    y = f"(CAST({label_col} AS DOUBLE) = 1.0)"
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.expr(f"CAST({pred} AS INT)").alias("__p"),
        F.expr(f"CAST({y} AS INT)").alias("__y"),
        F.col(score_col).cast("double").alias("__s"),
    )
    approx_auc_expr = None
    if auc == "approx":
        lo, hi = (float(score_range[0]), float(score_range[1]))
        nb = int(auc_buckets)
        if not (hi > lo) or nb <= 0:
            raise ValueError("score_range must be increasing and "
                             "auc_buckets positive")
        # histogram pass: ≤nb rows shuffle, ≤nb rows collect (bounded
        # by the PARAMETER, never by data size)
        bexpr = (f"LEAST({nb - 1}, GREATEST(0, CAST(FLOOR("
                 f"(__s - {lo!r}) / {hi - lo!r} * {nb}) AS INT)))")
        hist = sorted(
            base.groupBy(F.expr(bexpr).alias("__b")).agg(
                F.sum("__y").cast("bigint").alias("pos"),
                F.sum(1 - F.col("__y")).cast("bigint").alias("neg"),
            ).collect(),
            key=lambda r: r["__b"],
        )
        # tie-aware Mann-Whitney over bucketed scores, all-integer:
        # AUC = Σ_b pos_b·(neg_below + neg_b/2) / (P·N)
        #     = Σ_b pos_b·(2·neg_below + neg_b) / (2·P·N)
        p_tot = sum(r["pos"] for r in hist)
        n_tot = sum(r["neg"] for r in hist)
        num2 = 0
        cum_neg = 0
        for r in hist:
            num2 += r["pos"] * (2 * cum_neg + r["neg"])
            cum_neg += r["neg"]
        if p_tot > 0 and n_tot > 0:
            # the D suffix makes this a DOUBLE literal (a bare decimal
            # literal would come back as DECIMAL and change the schema)
            approx_auc_expr = f"{num2 / (2.0 * p_tot * n_tot)!r}D"
        else:
            approx_auc_expr = "CAST(NULL AS DOUBLE)"
    if auc is True:
        from pyspark.sql import Window

        wr = Window.orderBy("__s")
        wt = Window.partitionBy("__s")
        base = base.withColumn(
            "__ar",
            F.rank().over(wr).cast("double")
            + (F.count("*").over(wt).cast("double") - 1.0) / 2.0,
        )
    aggs = [
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("CAST(SUM(__y) AS BIGINT)").alias("n_pos"),
        F.expr("CAST(SUM(__p * __y) AS BIGINT)").alias("tp"),
        F.expr("CAST(SUM(__p * (1 - __y)) AS BIGINT)").alias("fp"),
        F.expr("CAST(SUM((1 - __p) * (1 - __y)) AS BIGINT)").alias("tn"),
        F.expr("CAST(SUM((1 - __p) * __y) AS BIGINT)").alias("fn"),
    ]
    if auc is True:
        aggs.append(F.expr(
            "CAST(SUM(CAST(__y * __ar AS DECIMAL(38,9))) AS DOUBLE)"
        ).alias("__rpos"))
    row = base.agg(*aggs)
    if auc is True:
        auc_sel = ["CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN "
                   "(__rpos - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0) "
                   "/ (CAST(n_pos AS DOUBLE) * (n - n_pos)) END AS auc"]
    elif auc == "approx":
        auc_sel = [f"{approx_auc_expr} AS auc"]
    else:
        auc_sel = []
    m = row.selectExpr(
        "n", "n_pos", "tp", "fp", "tn", "fn",
        "CAST((tp + tn) AS DOUBLE) / n AS accuracy",
        "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) "
        "END AS precision",
        "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) "
        "END AS recall",
        *auc_sel,
    )
    return m.selectExpr(
        "*",
        "CASE WHEN precision IS NOT NULL AND recall IS NOT NULL "
        "AND precision + recall > 0 THEN "
        "2.0 * precision * recall / (precision + recall) END AS f1",
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    buckets: int = 10,
    score_range: tuple[float, float] = (0.0, 1.0),
) -> DataFrame:
    """Reliability diagram + expected calibration error in ONE hash
    aggregation: scores clamp into ``buckets`` equal-width confidence
    bins; each row reports the bin's count, mean predicted score, and
    empirical positive rate, plus the corpus-wide ``ece`` repeated on
    every row (Σ |acc_b − conf_b| · n_b / n — the standard ECE).

    Complements ``evaluate_classifier``: AUC says the RANKING is good,
    ECE says the PROBABILITIES mean what they claim — what you check
    before using a quality classifier's scores as sampling weights or
    temperature-mix inputs rather than just thresholding them.

    Scale shape: one aggregation shuffling ≤``buckets`` rows, means
    accumulated in DECIMAL(38,18) so the report is partition-invariant;
    no window anywhere."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    lo, hi = score_range
    if not hi > lo:
        raise ValueError("score_range must be increasing")
    width = (hi - lo) / buckets
    b = (
        f"LEAST({buckets - 1}, GREATEST(0, "
        f"CAST(FLOOR((CAST({score_col} AS DOUBLE) - {lo!r}) / {width!r}) "
        f"AS INT)))"
    )
    per = (
        df.select(
            F.expr(b).alias("bucket"),
            F.col(score_col).cast("double").alias("__s"),
            F.col(label_col).cast("double").alias("__y"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(f"CAST(SUM(CAST(__s AS {_DEC})) AS DOUBLE)").alias("__ss"),
            F.expr(f"CAST(SUM(CAST(__y AS {_DEC})) AS DOUBLE)").alias("__sy"),
        )
    )
    per = per.select(
        "bucket", "n",
        (F.col("__ss") / F.col("n")).alias("mean_score"),
        (F.col("__sy") / F.col("n")).alias("pos_rate"),
    )
    gap = F.abs(F.col("pos_rate") - F.col("mean_score"))
    # fold the <=`buckets` histogram rows into the scalar via a 1-row
    # broadcast join (no global window -> no single-partition plan node)
    totals = per.agg(
        F.sum("n").alias("__tot"),
        F.sum(gap * F.col("n")).alias("__gapsum"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .withColumn("ece", F.col("__gapsum") / F.col("__tot"))
        .drop("__tot", "__gapsum")
        .orderBy("bucket")
    )
