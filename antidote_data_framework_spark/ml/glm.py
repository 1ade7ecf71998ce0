"""Distributed GLM training via iteratively-reweighted least squares
(IRLS) — the generalization of q_grouped_ols_multivar's
sufficient-statistics pattern from linear models to logistic
regression: every IRLS step is a weighted least-squares solve whose
normal-equation moments (X^T W X, X^T W z — here 3x3 + 3 numbers)
reduce distributed; only the d x d solve happens on the driver.

This is how logistic regression actually trains at 100 TB when the
feature count is small: K scans of the data (one per IRLS step, each
a partial-aggregated groupBy producing 9 + 3 doubles), a 3x3 solve
per step on the driver, the current beta re-broadcast as plan
LITERALS.  No parameter server, no Python in the row path — the
per-row eta/mu/w/z algebra is codegen expressions.

Rows-only (no DuckDB oracle): the sigmoid uses libm exp(), which is
not ulp-identical across engines; correctness is pinned instead by
tests/test_glm.py, which replays the IDENTICAL full-batch IRLS in
numpy and requires coefficient agreement to ~1e-6.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.local import local_frame
from ..registry import spark_query
from ..sources import load_table

IRLS_ITERS = 4


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label: is the event a purchase; features: value in hundreds of
    cents (bounded scale keeps the Hessian well-conditioned) and
    hour-of-day / 24."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        (F.round(F.col("value") * 100, 0) / 10000.0).alias("x1"),
        (F.hour("ts") / 24.0).alias("x2"),
    )


def _irls_moments(df: DataFrame, beta: np.ndarray):
    """One IRLS step's distributed reduction: X^T W X and X^T W z with
    the current beta inlined as literals.  Returns (A: 3x3, b: 3)."""
    b0, b1, b2 = (float(v) for v in beta)
    eta = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
    # Clip mu away from {0, 1} (r5 ADVICE): a saturated eta makes
    # w = mu(1-mu) underflow to 0 and z = eta + (y-mu)/w -> inf/NaN,
    # which poisons the whole X^T W X reduction.  1e-10 keeps the
    # weight strictly positive at any eta.
    mu_raw = 1.0 / (1.0 + F.exp(-eta))
    mu = F.least(F.greatest(mu_raw, F.lit(1e-10)), F.lit(1.0 - 1e-10))
    w = mu * (1.0 - mu)
    z = eta + (F.col("y") - mu) / w
    terms = df.select(
        w.alias("w"), z.alias("z"), F.col("x1"), F.col("x2")
    )
    xs = [F.lit(1.0), F.col("x1"), F.col("x2")]
    aggs = []
    for i in range(3):
        for j in range(i, 3):
            aggs.append(F.sum(F.col("w") * xs[i] * xs[j]).alias(f"a{i}{j}"))
    for i in range(3):
        aggs.append(F.sum(F.col("w") * xs[i] * F.col("z")).alias(f"b{i}"))
    row = terms.agg(*aggs).first()
    A = np.zeros((3, 3))
    for i in range(3):
        for j in range(i, 3):
            A[i, j] = A[j, i] = row[f"a{i}{j}"]
    b = np.array([row[f"b{i}"] for i in range(3)])
    return A, b


def train_logreg_irls(spark: SparkSession, sf_dir: str):
    """IRLS_ITERS fixed steps from beta = 0; each step is one scan.
    Returns (beta, cached feature frame) — caller unpersists."""
    df = _features(spark, sf_dir).cache()
    try:
        beta = np.zeros(3)
        for _ in range(IRLS_ITERS):
            A, b = _irls_moments(df, beta)
            beta = np.linalg.solve(A, b)
        return beta, df
    except Exception:
        df.unpersist()
        raise


@spark_query("q_glm_logreg_irls")  # rows-only: sigmoid/exp is libm —
# not cross-engine ulp-stable; pinned by tests/test_glm.py numpy replay
def q_glm_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression P(purchase | value, hour) trained with 4
    distributed IRLS steps (see module docstring), reporting the
    coefficients, the training log-likelihood, accuracy of the 0.5
    rule, and the base rate — the model-quality row a training
    pipeline logs.

    Scale anatomy: per step, the cluster computes 12 doubles; the
    driver state is a 3-vector.  The feature frame is cached once and
    re-scanned per step (at 100 TB: either cache on cluster memory/
    disk or re-read — the moments pass is scan-bound either way, and
    4 scans of a columnar projection beat one shuffle of a dense
    feature matrix)."""
    (beta, df) = train_logreg_irls(spark, sf_dir)
    try:
        b0, b1, b2 = (float(v) for v in beta)
        eta = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        mu = 1.0 / (1.0 + F.exp(-eta))
        ll = F.sum(
            F.col("y") * F.log(mu) + (1.0 - F.col("y")) * F.log(1.0 - mu)
        )
        acc = F.avg(
            F.when((mu >= 0.5) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
        )
        out = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.avg("y"), 4).alias("base_rate"),
            F.round(ll, 2).alias("log_likelihood"),
            F.round(acc, 4).alias("accuracy_at_half"),
        ).select(
            "n_rows",
            F.lit(round(b0, 6)).alias("beta0"),
            F.lit(round(b1, 6)).alias("beta1_value"),
            F.lit(round(b2, 6)).alias("beta2_hour"),
            "base_rate",
            "log_likelihood",
            "accuracy_at_half",
        )
        # materialize before unpersist so the cached frame backs the agg
        out = local_frame(spark, out.collect(), out.schema)
        return out
    finally:
        df.unpersist()
