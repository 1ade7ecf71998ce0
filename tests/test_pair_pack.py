"""Packed single-long pair keys must not change the pair model.

The item-CF pair aggregation and the co-purchase graph's pair counts
group their fan-out by ``(i << 32) | j`` (functions/pairs.py) when
every id fits 31 bits (r13 — 2x wall on the 9x scale point).  The pack
must be (a) bijective on the eligible range so groups never merge, on
int32 id columns as well as int64 ones, (b) value-identical to the
two-column key path, and (c) guarded: out-of-range ids must fall back
to the classic path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from antidote_data_framework_spark.functions.pairs import fits_pair_key
from antidote_data_framework_spark.ml.neighbors_cf import MIN_CO, _pair_agg
from antidote_data_framework_spark.ml.recsys_data import (
    _pair_key_packable,
    ratings_df,
)
from antidote_data_framework_spark.operators.graph import (
    _build_pair_counts,
    cap_order_lines,
)
from antidote_data_framework_spark.sources import load_table


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


def test_fits_pair_key_bounds():
    assert fits_pair_key(0, 2**31 - 1)
    assert not fits_pair_key(-1, 5)
    assert not fits_pair_key(0, 2**31)
    assert not fits_pair_key(None, None)  # empty input: no bound, no pack


def test_packable_bound_covers_ratings_item_ids(spark, sf_dir):
    """The guard bounds lineitem.l_partkey; every item_id that item-CF
    packs comes from ratings_df, so its range must lie inside that
    bound."""
    lo, hi = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey"), F.max("l_partkey"))
        .first()
    )
    r_lo, r_hi = ratings_df(spark, sf_dir).agg(F.min("item_id"), F.max("item_id")).first()
    assert lo <= r_lo and r_hi <= hi
    assert fits_pair_key(lo, hi)


def test_packed_equals_plain_key_path_on_int32_ids(spark):
    """Spark's shiftleft takes the count mod 32 on an IntegerType
    column, so an uncast pack on int32 ids merged every pair into one
    bogus group; the pack must widen to long first."""
    rows = [(u, i, float(u + i)) for u in range(3) for i in (1, 2, 3)]
    cells = spark.createDataFrame(rows, "user_id int, item_id int, r double")
    args = (F.col("a.item_id"), F.col("b.item_id"), F.col("a.r") * F.col("b.r"), "dot")
    packed = sorted(
        (r["item_i"], r["item_j"], r["dot"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=True).collect()
    )
    plain = sorted(
        (r["item_i"], r["item_j"], r["dot"], r["co"])
        for r in _pair_agg(_join(cells), *args, packable=False).collect()
    )
    assert packed == plain
    assert [(i, j, co) for i, j, _d, co in packed] == [(1, 2, 3), (1, 3, 3), (2, 3, 3)]


def test_graph_pair_build_on_int32_part_ids(spark):
    """The graph's packed path on an INT l_partkey must emit the same
    directed pair multiset as the window-cap + self-join reference."""
    rows = [(1, 1, 1), (1, 2, 2), (2, 2, 1), (2, 1, 2), (3, 3, 1), (3, 0, 2)]
    li = spark.createDataFrame(
        rows, "l_orderkey BIGINT, l_partkey INT, l_linenumber INT"
    )
    got = sorted(
        (r["src"], r["dst"], r["w"]) for r in _build_pair_counts(li).collect()
    )
    c = cap_order_lines(li)
    a = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = c.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    ref = sorted(
        (r["src"], r["dst"], r["w"])
        for r in a.join(b, "k").filter("src <> dst")
        .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")).collect()
    )
    assert got == ref
    assert got == [(0, 3, 1), (1, 2, 2), (2, 1, 2), (3, 0, 1)]
