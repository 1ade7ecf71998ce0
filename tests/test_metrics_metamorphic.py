"""Metamorphic + hand-computed golden tests for the social metrics
(SURVEY §5.2.2/5.2.3) — run against hand-built prediction tables, so
they pin the metric ALGEBRA independent of any predictor."""

from __future__ import annotations

import pytest

from antidote_data_framework_spark.ml import metrics

PRED_SCHEMA = "user_id BIGINT, item_id BIGINT, rating DOUBLE, pred DOUBLE"


def _pred_df(spark, rows):
    return spark.createDataFrame(rows, PRED_SCHEMA)


def test_fairness_zero_when_groups_are_clones(spark):
    # user 2k (group 0) and 2k+1 (group 1) are exact clones: every
    # fairness metric must be exactly 0.  [YH §3 sanity property]
    rows = []
    for u in range(0, 8, 2):
        for item, (r, p) in enumerate([(4.0, 3.5), (2.0, 2.5), (5.0, 4.0)]):
            rows.append((u, item, r + u * 0.1, p + u * 0.05))
            rows.append((u + 1, item, r + u * 0.1, p + u * 0.05))
    pred = _pred_df(spark, rows)
    disc = metrics.grouped_discrepancies(pred)
    assert metrics.fairness_value(disc).first()["value_unfairness"] == 0.0
    assert metrics.fairness_absolute(disc).first()["absolute_unfairness"] == 0.0
    uo = metrics.fairness_under_over(disc).first()
    assert uo["under_unfairness"] == 0.0 and uo["over_unfairness"] == 0.0
    assert metrics.fairness_parity(pred).first()["parity_unfairness"] == 0.0


def test_polarization_zero_when_users_agree(spark):
    rows = [(u, j, 3.0, 2.5 + j) for u in range(4) for j in range(3)]
    assert metrics.polarization(_pred_df(spark, rows)).first()["polarization"] == 0.0


def test_polarization_hand_computed(spark):
    # item 0: preds {1, 3} -> var_pop 1.0; item 1: preds {2, 2} -> 0.0
    rows = [(0, 0, 3.0, 1.0), (1, 0, 3.0, 3.0), (0, 1, 3.0, 2.0), (1, 1, 3.0, 2.0)]
    out = metrics.polarization(_pred_df(spark, rows)).first()
    assert out["polarization"] == pytest.approx(0.5)
    assert out["n_items"] == 2


def test_fairness_value_hand_computed(spark):
    # one item: group0 (user 0): Ey=4, Er=3 -> disc +1
    #           group1 (user 1): Ey=2, Er=3 -> disc -1   => U_val = 2
    rows = [(0, 0, 3.0, 4.0), (1, 0, 3.0, 2.0)]
    disc = metrics.grouped_discrepancies(_pred_df(spark, rows))
    out = metrics.fairness_value(disc).first()
    assert out["value_unfairness"] == pytest.approx(2.0)


def test_under_over_split_hand_computed(spark):
    # group0 overestimates by 1 (Ey=4, Er=3); group1 underestimates by 1.
    rows = [(0, 0, 3.0, 4.0), (1, 0, 3.0, 2.0)]
    disc = metrics.grouped_discrepancies(_pred_df(spark, rows))
    uo = metrics.fairness_under_over(disc).first()
    assert uo["under_unfairness"] == pytest.approx(1.0)  # |0 - 1|
    assert uo["over_unfairness"] == pytest.approx(1.0)  # |1 - 0|


def test_items_missing_a_group_are_excluded(spark):
    # item 1 is rated only by group 0 -> contributes to no pairwise metric
    rows = [(0, 0, 3.0, 4.0), (1, 0, 3.0, 2.0), (0, 1, 5.0, 5.0)]
    disc = metrics.grouped_discrepancies(_pred_df(spark, rows))
    out = metrics.fairness_value(disc).first()
    assert out["n_items"] == 1


def test_polarization_invariant_under_user_relabeling(spark):
    # permuting user ids changes nothing: variance is computed per item
    rows = [(u, j, 3.0, float(u * j % 5)) for u in range(6) for j in range(4)]
    base = metrics.polarization(_pred_df(spark, rows)).first()["polarization"]
    permuted = [((u * 5 + 1) % 6, j, r, p) for (u, j, r, p) in rows]
    assert metrics.polarization(_pred_df(spark, permuted)).first()["polarization"] == base
