"""Packed single-long pair keys must not change the pair model.

The item-CF pair aggregation groups the co-rating fan-out by
``(i << 32) | j`` when every item id fits 31 bits (r13 — 2x wall on
the 9x scale point).  The pack must be (a) bijective on the eligible
range so groups never merge, (b) value-identical to the two-column
key path, and (c) guarded: out-of-range ids must fall back to the
classic path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from antidote_data_framework_spark.ml.neighbors_cf import (
    MIN_CO,
    _pair_agg,
    _pair_key_packable,
)


def _cells(spark):
    # 4 users x overlapping items: pairs (1,2) co=4, (1,3) co=3,
    # (2,3) co=3, plus a below-floor pair (3,9) co=1
    rows = []
    for u in range(4):
        rows += [(u, 1, 2.0), (u, 2, 3.0)]
        if u < 3:
            rows.append((u, 3, 4.0))
    rows.append((3, 9, 5.0))
    return spark.createDataFrame(rows, "user_id long, item_id long, r double")


def _join(cells):
    a, b = cells.alias("a"), cells.alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.item_id") < F.col("b.item_id")),
    )


def test_packed_equals_plain_key_path(spark):
    cells = _cells(spark)
    args = (F.col("a.item_id"), F.col("b.item_id"), F.col("a.r") * F.col("b.r"), "dot")
    packed = {
        (r["item_i"], r["item_j"]): (r["dot"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=True).collect()
    }
    plain = {
        (r["item_i"], r["item_j"]): (r["dot"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=False).collect()
    }
    assert packed == plain
    assert (1, 2) in packed and packed[(1, 2)][1] == 4
    assert all(co >= MIN_CO for _d, co in packed.values())
    assert (3, 9) not in packed  # MIN_CO floor applied on both paths


def test_pack_bijective_at_range_edges(spark):
    # ids at the 31-bit eligibility edges must round-trip exactly
    hi = 2**31 - 1
    rows = [(u, i, 1.0) for u in range(3) for i in (0, 1, hi - 1, hi)]
    cells = spark.createDataFrame(rows, "user_id long, item_id long, r double")
    args = (F.col("a.item_id"), F.col("b.item_id"), F.col("a.r") * F.col("b.r"), "dot")
    packed = sorted(
        (r["item_i"], r["item_j"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=True).collect()
    )
    plain = sorted(
        (r["item_i"], r["item_j"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=False).collect()
    )
    assert packed == plain
    assert (hi - 1, hi, 3) in packed


def test_packable_guard_reads_the_fixture(spark, sf_dir):
    from antidote_data_framework_spark.session import clear_derived_caches

    clear_derived_caches(spark)
    assert _pair_key_packable(spark, sf_dir) is True  # fixture partkeys are small
    clear_derived_caches(spark)
