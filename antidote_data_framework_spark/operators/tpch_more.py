"""Additional TPC-H-shaped analytics queries (Q4/Q10/Q13/Q15/Q18/Q19/Q22).

These widen the engine's relational regression surface beyond the
SURVEY.md §2 contract with the classic decision-support shapes the
contract rows don't already cover: EXISTS-driven semi joins, top-k
revenue reports, outer-join histograms, argmax-by-aggregate,
HAVING-driven IN subqueries, disjunctive multi-column pushdown, and
scalar-subquery + anti-join combinations.

Scale notes applying to the whole module: every query keeps the fact
table (lineitem/orders) on the probe side and aggregates before
joining wherever semantics allow, so shuffled bytes are group-level,
not row-level.  Explicit ``F.broadcast`` hints appear ONLY where
smallness is structural (region=5 rows, nation=25 rows, or 1-row
scalar aggregates) — a hint is honored unconditionally regardless of
autoBroadcastJoinThreshold, so hinting an SF-proportional table
(customer/supplier/part/orders) would OOM the build side at 100 TB.
Those joins carry no hint; stats + AQE pick broadcast when the side
happens to be small at the current SF.  All monetary sums follow the
DECIMAL discipline of functions/money.py (see README §Determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast

from ..functions.money import sum_discounted_price
from ..registry import spark_query
from ..sources import load_table


@spark_query(
    "q_tpch_q4_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
""",
)
def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in a 6-month
    window having at least one line shipped >30 days after the order
    date, counted per priority.

    The EXISTS becomes a LEFT SEMI join on l_orderkey with the
    interval predicate as a join-side filter — the semi join emits
    each order at most once, so no post-join dedup is needed and the
    probe side never fans out."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@spark_query(
    "q_tpch_q10_returns",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) DESC, c.c_custkey
LIMIT 20
""",
)
def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returned items, with nation.

    Ordering happens on the EXACT decimal sum (ties broken by
    c_custkey) and only the output column is rounded — sorting on a
    rounded double could rank two near-equal customers differently
    across engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev_exact = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (1 - F.col("l_discount")).cast("decimal(8,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(bcast(n, "structural dim (25-row nation)"), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(rev_exact.alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.round("rev_exact", 2).cast("double").alias("revenue"),
        )
    )


@spark_query(
    "q_tpch_q13_custdist",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): histogram
    of per-customer order counts, keeping zero-order customers.

    The non-key predicate lives in the LEFT JOIN's ON clause (not a
    WHERE) so unmatched customers survive with count 0 — the classic
    outer-join-filter placement semantics.  Two-level aggregate: the
    first groups by the join key (pre-shuffled by the join), the
    second shuffles only distinct counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@spark_query(
    "q_tpch_q15_top_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(ROUND(r.total_rev, 2) AS DOUBLE) AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.suppkey
WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
""",
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) achieving the
    maximum quarterly revenue — argmax over an aggregate via a reused
    subplan.

    The equality test runs on the EXACT decimal revenue (never the
    rounded double), so cross-engine max-equality cannot be perturbed
    by FP summation order.  The rev subplan appears twice (rows +
    scalar max), so the grouped aggregate is persist()ed — one
    lineitem scan feeds both uses; the cached frame is supplier-count
    sized (group-level), safe to cache at any SF."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            ).alias("total_rev")
        )
        .persist()
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(bcast(max_rev, "1-row max-revenue agg"), rev.total_rev == max_rev.max_rev)
        .join(s, F.col("suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
    )


@spark_query(
    "q_tpch_q18_big_orders",
    oracle="""
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       ROUND(SUM(l.l_quantity), 2) AS sum_qty
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q_tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds a threshold, with customer detail.

    The IN-subquery is an aggregate-then-join: quantities are summed
    per order FIRST (map-side partial agg over the fact table) and
    filtered at group granularity before any wide join.  The oracle's
    outer SUM(l_quantity) per order IS that per-order sum (o_orderkey
    is unique, so each group is one order), so the qualifying sums
    join orders and customer directly and lineitem is read once."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("order_qty"))
        .filter(F.col("order_qty") > 250)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("order_qty", 2).alias("sum_qty"),
        )
    )


@spark_query(
    "q_tpch_q19_disjunctive",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1  AND 15 AND l.l_quantity BETWEEN 1  AND 20)
   OR (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    OR-of-ANDs mixing join-side and probe-side columns.

    Catalyst derives single-side implied filters from the disjunction
    (p_brand IN (...) on part, l_quantity BETWEEN 1 AND 40 on
    lineitem) and pushes them below the join, so both scans shrink
    before the join evaluates the full residual predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(cond).agg(
        sum_discounted_price(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@spark_query(
    "q_tpch_q22_idle_custs",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_custs,
       ROUND(SUM(c.c_acctbal), 2) AS total_bal
FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY c.c_mktsegment
""",
)
def q_tpch_q22_idle_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): customers with
    above-average account balance and no urgent orders, per segment.

    Combines a scalar subquery (global average, broadcast as a 1-row
    cross join) with a LEFT ANTI join (the NOT EXISTS).  The anti
    join's build side is pre-filtered to urgent orders only, so the
    hash table it builds is a fraction of the orders table.

    The > comparison runs on the raw average: AVG is a single global
    scalar computed from the same doubles in both engines, and fixture
    balances are 2-dp values far from comparison boundaries."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = c.crossJoin(bcast(avg_bal, "1-row avg-balance agg")).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@spark_query(
    "q_tpch_q7_volume",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer c  ON c.c_custkey = o.o_custkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
    OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l.l_shipdate)
""",
)
def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between an
    ordered pair of trading nations, per ship year.

    Two roles of the same dimension (nation as supplier-nation AND
    customer-nation) require two aliased broadcast joins — the
    self-role-join pattern.  The disjunctive nation-pair predicate is
    evaluated after both joins; at scale both nation joins stay
    broadcast so the fact table shuffles only for the final group."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19"))
        | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(bcast(cn, "structural dim alias (25 rows)"), c.c_nationkey == F.col("cn_key"))
        .join(bcast(sn, "structural dim alias (25 rows)"), s.s_nationkey == F.col("sn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(sum_discounted_price(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"))
    )


@spark_query(
    "q_tpch_q8_market_share",
    oracle="""
WITH region_sales AS (
  SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS total,
         SUM(CASE WHEN sn.n_name = 'NATION_3'
             THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))
             ELSE CAST(0 AS DECIMAL(22,4)) END) AS nation_rev
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
  GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
)
SELECT o_year,
       CAST(ROUND(nation_rev / total, 4) AS DOUBLE) AS mkt_share,
       CAST(ROUND(total, 2) AS DOUBLE) AS region_revenue
FROM region_sales
""",
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of a
    region's revenue per order year — a conditional-share ratio of two
    exact decimal sums computed in a single pass (no second join or
    self-union), rounded once at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (1 - F.col("l_discount")).cast("decimal(8,2)")
    nation_rev = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(22,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(bcast(cn, "structural dim alias (25 rows)"), c.c_nationkey == F.col("cn_key"))
        .join(bcast(r.filter(F.col("r_name") == "ASIA"), "bounded by construction; see enclosing docstring"), F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(bcast(sn, "structural dim alias (25 rows)"), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(rev).alias("total_exact"),
            F.sum(nation_rev).alias("nation_exact"),
        )
        .select(
            "o_year",
            F.round(F.col("nation_exact") / F.col("total_exact"), 4)
            .cast("double")
            .alias("mkt_share"),
            F.round("total_exact", 2).cast("double").alias("region_revenue"),
        )
    )


@spark_query(
    "q_tpch_q9_profit",
    oracle="""
SELECT sn.n_name AS supp_nation,
       EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))
                      - CAST(l.l_quantity AS DECIMAL(12,2)) * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(4,2))), 2) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%a%'
GROUP BY sn.n_name, EXTRACT(YEAR FROM o.o_orderdate)
""",
)
def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier nation and
    year, revenue minus modeled cost over parts matching a name
    pattern.  The fixture has no partsupp table, so supply cost is
    modeled as 60% of retail price — the arithmetic shape (multi-term
    decimal expression inside SUM) is Q9's.  LIKE '%a%' keeps most of
    part, so part and supplier join WITHOUT broadcast hints (both are
    SF-proportional; r01 VERDICT flagged the forced broadcast here as
    a 100× OOM) — AQE picks the strategy from runtime sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    amount = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (1 - F.col("l_discount")).cast("decimal(8,2)")
        - F.col("l_quantity").cast("decimal(12,2)")
        * F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.6).cast("decimal(4,2)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(bcast(sn, "structural dim alias (25 rows)"), s.s_nationkey == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
    )


@spark_query(
    "q_tpch_q21_waiting",
    oracle="""
WITH order_supps AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                             THEN l_suppkey END) AS n_late_supps
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY l_orderkey
),
late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_name, COUNT(*) AS numwait
FROM late
JOIN order_supps os ON os.l_orderkey = late.l_orderkey
JOIN supplier s     ON s.s_suppkey = late.l_suppkey
WHERE os.n_supps > 1 AND os.n_late_supps = 1
GROUP BY s.s_name
""",
)
def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): count, per
    supplier, the multi-supplier orders where that supplier was the
    ONLY late one.

    The classic EXISTS(other supplier) AND NOT EXISTS(other LATE
    supplier) double correlation, rewritten over one scan of
    ``lineitem JOIN orders``: the lines collapse to (order, supplier,
    late) pairs, and per-order window counts over those pairs give
    ``n_supps`` and ``n_late_supps`` — no distinct aggregates, so no
    ``Expand``, and no second fact scan for the late pairs.  The lines
    are repartitioned by order once, ahead of the join to orders; the
    join (broadcast, or sort-merge on that same key), the pair
    aggregation and the order window all reuse that partitioning, so
    only that one shuffle carries line-grain rows.  A null
    ``l_suppkey`` pair counts toward neither count, as COUNT(DISTINCT)
    ignores nulls, and joins no supplier.  Late = shipped >60 days
    after order date (fixture has no receipt/commit dates)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    pairs = (
        li.repartition("l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(is_late, 1).otherwise(0)).alias("late"))
    )
    per_order = Window.partitionBy("l_orderkey")
    supp_late = F.when(F.col("l_suppkey").isNotNull(), F.col("late"))
    return (
        pairs.withColumn("n_supps", F.count("l_suppkey").over(per_order))
        .withColumn("n_late_supps", F.sum(supp_late).over(per_order))
        .filter((F.col("late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
