"""TPC-H suite completion (Q2/Q5/Q11/Q16/Q17/Q20 shapes).

With this module every TPC-H query shape is covered by the engine
(mapping, using the repo's keys): Q1=q_agg_pricing_summary,
Q2=q_tpch_q2_min_cost, Q3=q_sql_api_q3, Q4=q_tpch_q4_priority,
Q5=q_tpch_q5_local_supplier, Q6=q_tpch_q6_forecast, Q7=q_tpch_q7_volume,
Q8=q_tpch_q8_market_share, Q9=q_tpch_q9_profit, Q10=q_tpch_q10_returns,
Q11=q_tpch_q11_important_parts, Q12=q_tpch_q12_shipmode,
Q13=q_tpch_q13_custdist, Q14=q_tpch_q14_promo,
Q15=q_tpch_q15_top_supplier, Q16=q_tpch_q16_supplier_cnt,
Q17=q_tpch_q17_small_qty, Q18=q_tpch_q18_big_orders,
Q19=q_tpch_q19_disjunctive, Q20=q_tpch_q20_excess_suppliers,
Q21=q_tpch_q21_waiting, Q22=q_tpch_q22_idle_custs.

The fixture star schema has no ``partsupp`` table, so the four shapes
that consume it (Q2/Q11/Q16/Q20) are adapted: supplier-part
relationships (who supplies what, at what cost, in what volume) are
DERIVED from ``lineitem`` — the fact table is the system of record for
supply activity, which is exactly how a lakehouse without a curated dim
would answer these questions.  Each docstring states its adaptation.

Determinism: every ordering/argmin happens on exact values (decimal
sums, MIN over per-row doubles, integral-valued quantity sums) with
explicit key tie-breaks; only output columns are rounded.  Thresshold
comparisons (Q11/Q17/Q20) compare doubles derived identically in both
engines from exact sums, so the predicate cannot flip across engines.

Scale notes: as in tpch_more.py — facts stay on the probe side,
aggregation happens before joins where semantics allow, and explicit
``F.broadcast`` marks only structurally-small sides (nation, 1-row
scalars).  SF-proportional joins carry no hint (AQE decides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast

from ..functions.money import sum_discounted_price
from ..registry import spark_query
from ..sources import load_table


@spark_query(
    "q_tpch_q2_min_cost",
    oracle="""
SELECT p.p_partkey, p.p_name, s.s_name,
       CAST(ROUND(s.s_acctbal, 2) AS DOUBLE) AS s_acctbal,
       CAST(ROUND(mc.min_cost, 4) AS DOUBLE) AS unit_cost
FROM (
  SELECT l_partkey, l_suppkey, min_cost
  FROM (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS min_cost,
           ROW_NUMBER() OVER (
             PARTITION BY l_partkey
             ORDER BY MIN(l_extendedprice / l_quantity), l_suppkey
           ) AS rn
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
  ) ranked
  WHERE rn = 1
) mc
JOIN part p     ON p.p_partkey = mc.l_partkey
JOIN supplier s ON s.s_suppkey = mc.l_suppkey
WHERE p.p_size >= 40 AND p.p_type = 'SMALL'
ORDER BY p.p_partkey
""",
)
def q_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each part in a
    size/type subset, the supplier offering the lowest observed unit
    price, with supplier details.

    Adaptation (no partsupp): ``ps_supplycost`` becomes the MINIMUM
    observed unit sale price ``l_extendedprice / l_quantity`` per
    (part, supplier) pair from lineitem.  MIN over per-row IEEE
    divisions is summation-order-independent, so the argmin is
    engine-stable; ties break on s_suppkey.

    Plan shape: the correlated MIN-subquery of textbook Q2 is
    decorrelated into one groupBy + ROW_NUMBER argmin — a shuffle on
    the (part, supplier) key then a window on the part, instead of a
    per-part re-probe.  The part subset joins lineitem BELOW the
    groupBy (p_partkey is unique, so the join only filters lines and
    adds p_name, a function of the group's part), so only the subset's
    pairs are aggregated and shuffled, and each table is read once.
    The argmin of a part ranks that part's rows alone, so filtering
    first gives the same rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & (F.col("p_type") == "SMALL")
    )
    s = load_table(spark, sf_dir, "supplier")
    per_ps = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_cost"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("min_cost"), F.asc("l_suppkey"))
    best = per_ps.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(s, best.l_suppkey == s.s_suppkey)
        .orderBy("p_partkey")
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal", 2).cast("double").alias("s_acctbal"),
            F.round("min_cost", 4).cast("double").alias("unit_cost"),
        )
    )


@spark_query(
    "q_tpch_q5_local_supplier",
    oracle="""
SELECT n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey  = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-01-01'
GROUP BY n.n_name
ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) DESC, n.n_name
""",
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for
    one order-year, counting only lineitems where the customer and the
    supplier share a nation.

    The co-nationality predicate rides the supplier join (equi on BOTH
    s_suppkey and the customer's nationkey), so it prunes during the
    join rather than as a post-join filter.  Ordering is on the exact
    decimal sum, nation name as tie-break; the rounded double is
    projection-only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(bcast(n, "structural dim (25-row nation)"), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            ).alias("rev_exact")
        )
        .orderBy(F.desc("rev_exact"), F.asc("nation"))
        .select("nation", F.round("rev_exact", 2).cast("double").alias("revenue"))
    )


@spark_query(
    "q_tpch_q11_important_parts",
    oracle="""
SELECT l.l_partkey AS partkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS value
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
GROUP BY l.l_partkey
HAVING CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) > (
  SELECT CAST(SUM(val) AS DOUBLE) * 2.0 / COUNT(*)
  FROM (
    SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l2.l_discount AS DECIMAL(8,2))) AS val
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2   ON n2.n_nationkey = s2.s_nationkey
    WHERE n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    GROUP BY l2.l_partkey
  ) pv
)
ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) DESC, l.l_partkey
""",
)
def q_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    supply value from a 3-nation supplier group exceeds 2x the AVERAGE
    per-part value of that group.  (Textbook Q11 uses a fixed fraction
    of the grand total, which degenerates to 0 rows as the part count
    grows with SF — the mean-relative threshold is the scale-invariant
    formulation of the same "important stock" question.)

    Adaptation (no partsupp): "stock value" is the discounted revenue
    those suppliers shipped per part.  Both the per-part value and the
    mean threshold derive from EXACT decimal sums, cast to DOUBLE
    identically in both engines before comparing — the predicate
    compares bit-identical doubles, so it cannot flip on a boundary.

    Plan shape: the supplier-group lineitems are aggregated ONCE per
    part; the grand total is a 1-row re-aggregation of that per-part
    table (NOT a second scan), broadcast into the HAVING filter —
    Catalyst sees a 1-row build side.  At 100 TB the fact scan happens
    once, the total costs one extra reduce of the group-level rows."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    group_li = li.join(s, li.l_suppkey == s.s_suppkey).join(
        bcast(n, "structural dim (25-row nation)"), s.s_nationkey == n.n_nationkey
    )
    per_part = group_li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount")).cast("decimal(8,2)")
        ).alias("val_exact")
    )
    total = per_part.agg(
        (F.sum("val_exact").cast("double") * F.lit(2.0) / F.count(F.lit(1))).alias(
            "threshold"
        )
    )
    return (
        per_part.join(bcast(total, "1-row total aggregate"))
        .filter(F.col("val_exact").cast("double") > F.col("threshold"))
        .orderBy(F.desc("val_exact"), F.asc("partkey"))
        .select("partkey", F.round("val_exact", 2).cast("double").alias("value"))
    )


@spark_query(
    "q_tpch_q16_supplier_cnt",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type  <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
)
def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per (brand, type, size) for a part subset, excluding a
    denylisted supplier set ("customer complaints" emulated as
    low-balance suppliers).

    The NOT IN becomes a LEFT ANTI join — safe here because s_suppkey
    is non-null by construction (NOT IN with nulls would mean "no rows",
    which anti-join does not replicate; q_null_semantics covers that
    contrast).  COUNT(DISTINCT) shuffles (group keys + suppkey) once;
    Spark's two-phase distinct aggregation keeps the map-side partial."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000.0)
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@spark_query(
    "q_tpch_q17_small_qty",
    oracle="""
SELECT CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2) AS DOUBLE) + 0.0 AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
  )
""",
)
def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): yearly-averaged
    revenue from orders of one brand whose quantity is below 20% of
    that part's average order quantity.

    The correlated AVG subquery becomes a per-part window average
    over the fact rows of the brand's parts: the brand filter is on
    the part dim and the correlation key IS p_partkey, so semi-joining
    the part subset first leaves every line of each kept part, and
    the window averages exactly the lines the subquery would.  One
    lineitem scan, one shuffle of the ~1/25 semi-joined lines, no
    aggregate joined back.  l_quantity is integral-valued DOUBLE, so
    SUM/COUNT (and hence AVG) are exact and the ``< 0.2 * avg``
    comparison is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    per_part = Window.partitionBy("l_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .withColumn("qty_threshold", F.lit(0.2) * F.avg("l_quantity").over(per_part))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.round(
                    F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                    / 7.0,
                    2,
                ).cast("double")
                + F.lit(0.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@spark_query(
    "q_tpch_q20_excess_suppliers",
    oracle="""
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT ps.l_suppkey
  FROM (
    SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS supp_qty
    FROM lineitem l
    JOIN part p   ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
  ) ps
  JOIN (
    SELECT l.l_partkey, SUM(l.l_quantity) AS part_qty
    FROM lineitem l
    JOIN part p   ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY l.l_partkey
  ) pt ON pt.l_partkey = ps.l_partkey
  WHERE ps.supp_qty > 0.3 * pt.part_qty
)
ORDER BY s.s_suppkey
""",
)
def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who, for
    at least one 'widget' part, shipped more than 30% of that part's
    total 1995 volume — i.e. suppliers dominating a part's supply.

    Adaptation (no partsupp): ``ps_availqty`` becomes shipped quantity
    from lineitem within the window.  The filtered fact is scanned
    once and aggregated per (supplier, part); the per-part total is a
    window sum over those pair rows (a part's volume is the sum of its
    suppliers' volumes), so no second aggregate of the fact joins
    back.  The filtered lines are repartitioned by part once, ahead of
    the pair aggregation, and the part window reuses that
    partitioning.  Quantity sums are exact (integral doubles), so the
    30% predicate is engine-stable.  Final step is a semi join into
    supplier — each supplier emitted once, no distinct needed."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget"))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    per_sp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey, "left_semi")
        .repartition("l_partkey")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    dominating = (
        per_sp.withColumn("part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey")))
        .filter(F.col("supp_qty") > F.lit(0.3) * F.col("part_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(dominating, s.s_suppkey == dominating.l_suppkey, "left_semi")
        .orderBy("s_suppkey")
        .select("s_suppkey", "s_name")
    )
