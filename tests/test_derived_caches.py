"""Round-7 budget-buyback invariants (VERDICT r6 #4).

Pins (a) the per-(session, sf_dir) derived-state caches actually share
— a second consumer gets the SAME persisted DataFrame object instead
of rebuilding the co-rating pair aggregation — and (b)
clear_derived_caches really evicts them, so bench sweeps start cold;
(c) the slope-one upper-triangle rewrite is value-identical to the
naive both-directions build (the IEEE sign-symmetry claim in
ml/neighbors_cf.py); (d) the session.derived memo itself: identity
on a hit, unpersist on clear, and a key that follows the
applicationId, not the session object.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from antidote_data_framework_spark.ml.neighbors_cf import MIN_CO, _item_sims
from antidote_data_framework_spark.session import (
    _DERIVED,
    clear_derived_caches,
    derived,
)


def test_derived_memo_shares_by_identity_and_clear_unpersists(spark):
    """The memo itself: one build per key, the SAME object on a hit,
    and clear_derived_caches unpersists a DataFrame held inside a
    tuple value before the next call rebuilds."""
    calls = []

    @derived
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(3).cache(), 7, [1]

    clear_derived_caches(spark)
    first = build(spark, "sf")
    assert build(spark, "sf") is first
    assert calls == ["sf"]
    df = first[0]
    assert df.storageLevel.useMemory
    clear_derived_caches(spark)
    assert not _DERIVED
    assert not df.storageLevel.useMemory, "clear must unpersist tuple members"
    rebuilt = build(spark, "sf")
    assert rebuilt is not first, "clear must force a rebuild"
    assert calls == ["sf", "sf"]
    clear_derived_caches(spark)


def test_derived_memo_keys_on_application_id(spark):
    """The key is the SparkContext's applicationId, not the session
    object: two distinct session objects of one application share an
    entry, another application misses."""
    from types import SimpleNamespace

    def fake_session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    calls = []

    @derived
    def build(spark, sf_dir):
        calls.append(spark)
        return object()

    a1, a2, b = fake_session("app-a"), fake_session("app-a"), fake_session("app-b")
    try:
        first = build(a1, "sf")
        assert build(a2, "sf") is first
        assert build(b, "sf") is not first
        assert calls == [a1, b]
    finally:
        clear_derived_caches(spark)


def test_item_sims_cached_per_session_and_cleared(spark, sf_dir):
    clear_derived_caches(spark)
    assert not _DERIVED
    first = _item_sims(spark, sf_dir)
    again = _item_sims(spark, sf_dir)
    assert again is first, "second consumer must ride the cached model"
    assert first.storageLevel.useMemory, "cached model must be persisted"
    clear_derived_caches(spark)
    assert not _DERIVED
    rebuilt = _item_sims(spark, sf_dir)
    assert rebuilt is not first, "clear must force a cold rebuild"
    clear_derived_caches(spark)


def test_bpe_learn_cached_per_session_and_cleared(spark, sf_dir):
    """r12: q_bpe_merges and q_bpe_encode share one merge-learning run
    per (session, sf_dir); the cache must share (same vocab object,
    same learned list), stay persisted, and evict on
    clear_derived_caches so bench sweeps start cold."""
    from antidote_data_framework_spark.operators import tokenizer

    clear_derived_caches(spark)
    assert not _DERIVED
    vocab1, learned1 = tokenizer._learn_bpe(spark, sf_dir)
    vocab2, learned2 = tokenizer._learn_bpe(spark, sf_dir)
    assert vocab2 is vocab1, "second consumer must ride the cached vocab"
    assert learned2 is learned1
    assert vocab1.storageLevel.useMemory, "cached vocab must be persisted"
    clear_derived_caches(spark)
    assert not _DERIVED
    vocab3, learned3 = tokenizer._learn_bpe(spark, sf_dir)
    assert vocab3 is not vocab1, "clear must force a cold rebuild"
    assert learned3 == learned1, "relearned merges must be identical"
    clear_derived_caches(spark)


def test_slopeone_upper_triangle_matches_naive(spark):
    """dev(j,i) = -dev(i,j) with equal co-counts: the upper-triangle
    build + antisymmetric union must reproduce the naive both-
    directions aggregation exactly (not approximately — IEEE negation
    is exact, so the hash-matched oracle parity is not luck)."""
    rows = [
        (u, i, float(r))
        for u, i, r in [
            (1, 10, 4.0), (1, 20, 3.0), (1, 30, 5.0),
            (2, 10, 2.0), (2, 20, 5.0), (2, 30, 1.0),
            (3, 10, 3.5), (3, 20, 2.5), (3, 30, 4.5),
            (4, 10, 1.0), (4, 20, 4.0),
        ]
    ]
    tr = spark.createDataFrame(rows, "user_id INT, item_id INT, r DOUBLE")
    a, b = tr.alias("a"), tr.alias("b")

    naive = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.item_id") != F.col("b.item_id")))
        .groupBy(F.col("a.item_id").alias("dev_j"), F.col("b.item_id").alias("dev_i"))
        .agg(F.avg(F.col("a.r") - F.col("b.r")).alias("d"),
             F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= MIN_CO)
    )
    tri = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.item_id") < F.col("b.item_id")))
        .groupBy(F.col("a.item_id").alias("lo"), F.col("b.item_id").alias("hi"))
        .agg(F.sum(F.col("a.r") - F.col("b.r")).alias("s"),
             F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= MIN_CO)
    )
    mirrored = tri.select(
        F.col("lo").alias("dev_j"), F.col("hi").alias("dev_i"),
        (F.col("s") / F.col("c")).alias("d"), "c",
    ).unionAll(
        tri.select(
            F.col("hi").alias("dev_j"), F.col("lo").alias("dev_i"),
            (-F.col("s") / F.col("c")).alias("d"), "c",
        )
    )
    got = {(r.dev_j, r.dev_i): (r.d, r.c) for r in mirrored.collect()}
    want = {(r.dev_j, r.dev_i): (r.d, r.c) for r in naive.collect()}
    assert got == want  # exact equality, including the float deltas


def test_bias_discrepancies_cached_cleared_and_value_identical(spark, sf_dir):
    """r12: the three per-item Yao-Huang fairness queries share one
    persisted discrepancy table.  Pins (a) cache share + eviction like
    the sims cache, and (b) that the cached frame aggregates to the
    exact same metric row as the uncached grouped_discrepancies path
    (the materialization point moves, the values may not)."""
    from antidote_data_framework_spark.ml import metrics, recsys_data

    clear_derived_caches(spark)
    assert not _DERIVED
    first = recsys_data.bias_discrepancies(spark, sf_dir)
    again = recsys_data.bias_discrepancies(spark, sf_dir)
    assert again is first, "second metric must ride the cached table"
    assert first.storageLevel.useMemory, "discrepancy table must be persisted"

    pred = recsys_data.bias_predictions(spark, sf_dir)
    via_cache = metrics.fairness_value(first).collect()
    uncached = metrics.fairness_value(metrics.grouped_discrepancies(pred)).collect()
    assert via_cache == uncached

    clear_derived_caches(spark)
    assert not _DERIVED
    rebuilt = recsys_data.bias_discrepancies(spark, sf_dir)
    assert rebuilt is not first, "clear must force a cold rebuild"
    clear_derived_caches(spark)
