"""Social-objective metrics over a prediction table — the reusable
core behind the O-34..O-38 queries (paper §5; Yao & Huang NeurIPS'17).

Every function takes a long-format prediction DataFrame
``pred(user_id, item_id, rating, pred)`` — or, for the three per-item
Yao-Huang metrics, its ``grouped_discrepancies`` table — and returns a
1-row DataFrame; the query layer binds them to the engine's bias-model
(or any other) predictor.  Keeping the metric algebra predictor-agnostic
is what lets the antidote loop swap in ALS predictions and the test
suite feed hand-built fixtures (clone-group ⇒ zero-unfairness, etc.).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def polarization(pred: DataFrame, decimals: int = 6) -> DataFrame:
    """Mean over items of across-user variance of predictions — the
    O(n) variance form of the paper's pairwise polarization [§5.1]."""
    per_item = pred.groupBy("item_id").agg(F.var_pop("pred").alias("v"))
    return per_item.agg(
        F.round(F.avg("v"), decimals).alias("polarization"),
        F.count(F.lit(1)).alias("n_items"),
    )


def grouped_discrepancies(pred: DataFrame) -> DataFrame:
    """Per-item group means: Ey_g (predicted) and Er_g (actual) for
    g = user_id % 2, restricted to items observed by BOTH groups —
    the shared input of all four Yao-Huang metrics [YH §3]."""
    grp_item = (
        pred.withColumn("grp", F.col("user_id") % 2)
        .groupBy("item_id", "grp")
        .agg(F.avg("pred").alias("ey"), F.avg("rating").alias("er"))
    )
    g0 = grp_item.filter(F.col("grp") == 0).select(
        "item_id", F.col("ey").alias("ey0"), F.col("er").alias("er0")
    )
    g1 = grp_item.filter(F.col("grp") == 1).select(
        "item_id", F.col("ey").alias("ey1"), F.col("er").alias("er1")
    )
    return g0.join(g1, "item_id")


def fairness_value(disc: DataFrame, decimals: int = 6) -> DataFrame:
    """U_val = mean_j |(Ey0−Er0) − (Ey1−Er1)| [YH §3].

    ``disc`` is a ``grouped_discrepancies`` table: the three per-item
    Yao-Huang metrics aggregate the IDENTICAL discrepancy table, so a
    session that runs them together computes it once (see
    recsys_data.bias_discrepancies) instead of re-running the
    groupBy + self-join per metric."""
    term = F.abs((F.col("ey0") - F.col("er0")) - (F.col("ey1") - F.col("er1")))
    return disc.agg(
        F.round(F.avg(term), decimals).alias("value_unfairness"),
        F.count(F.lit(1)).alias("n_items"),
    )


def fairness_absolute(disc: DataFrame, decimals: int = 6) -> DataFrame:
    """U_abs = mean_j ||Ey0−Er0| − |Ey1−Er1|| [YH §3]."""
    term = F.abs(
        F.abs(F.col("ey0") - F.col("er0")) - F.abs(F.col("ey1") - F.col("er1"))
    )
    return disc.agg(
        F.round(F.avg(term), decimals).alias("absolute_unfairness"),
        F.count(F.lit(1)).alias("n_items"),
    )


def fairness_under_over(disc: DataFrame, decimals: int = 6) -> DataFrame:
    """U_under / U_over — the max(0,·)-clamped one-sided variants [YH §3]."""
    zero = F.lit(0.0)
    under = F.abs(
        F.greatest(zero, F.col("er0") - F.col("ey0"))
        - F.greatest(zero, F.col("er1") - F.col("ey1"))
    )
    over = F.abs(
        F.greatest(zero, F.col("ey0") - F.col("er0"))
        - F.greatest(zero, F.col("ey1") - F.col("er1"))
    )
    return disc.agg(
        F.round(F.avg(under), decimals).alias("under_unfairness"),
        F.round(F.avg(over), decimals).alias("over_unfairness"),
        F.count(F.lit(1)).alias("n_items"),
    )


def fairness_parity(pred: DataFrame, decimals: int = 6) -> DataFrame:
    """U_par = |E_0[ŷ] − E_1[ŷ]| over all cells [YH §3]."""
    return pred.agg(
        F.round(
            F.abs(
                F.avg(F.when(F.col("user_id") % 2 == 0, F.col("pred")))
                - F.avg(F.when(F.col("user_id") % 2 == 1, F.col("pred")))
            ),
            decimals,
        ).alias("parity_unfairness"),
        F.count(F.lit(1)).alias("n_cells"),
    )
