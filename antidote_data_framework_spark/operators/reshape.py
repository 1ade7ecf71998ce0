"""Reshaping / sampling / SQL-API operators — coverage beyond the §2
inventory (pivot's inverse, deterministic sampling, and the SQL parser
surface over registered views).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import spark_query
from ..sources import load_table, register_views


@spark_query(
    "q_unpivot_stack",
    oracle="""
SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
UNION ALL
SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val FROM orders
""",
)
def q_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via stack() — the inverse of O-31's pivot.
    stack is an Expand (row generator) in the plan: no shuffle, output
    rows = input × measures."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', o_totalprice, "
            "'custkey', CAST(o_custkey AS DOUBLE)) AS (measure, val)"
        ),
    )


@spark_query(
    "q_sample_deterministic",
    oracle="""
SELECT COUNT(*) AS n_sampled,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       COUNT(DISTINCT o_custkey) AS n_custs
FROM orders WHERE o_orderkey % 20 = 7
""",
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample by key arithmetic — the engine-wide
    substitute for TABLESAMPLE/rand() (reproducible across engines,
    partitionings, and retries; sampling by hash/modulo of a key is
    also how a 100 TB pipeline takes stable dev slices)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 7)
    return orders.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


_TPCH_Q3ISH = """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue,
       o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderpriority
"""


@spark_query("q_sql_api_q3", oracle=_TPCH_Q3ISH)
def q_sql_api_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped query through the SQL API (spark.sql over
    registered views) — same Catalyst plan as the DataFrame API, and
    the literal same text runs on the oracle.  Demonstrates that the
    engine's SQL surface is Spark SQL itself (SURVEY §2C: no parser of
    our own)."""
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q3ISH)


_Q17ISH = """
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE) AS avg_yearly,
       COUNT(*) AS n_small_lots
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
  )
"""


@spark_query("q_subquery_correlated", oracle=_Q17ISH)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity threshold).  Catalyst decorrelates it into an aggregate +
    join — the same rewrite the oracle engine performs — so the
    correlated form stays declarative with no per-row re-execution.
    Identical SQL text runs on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q17ISH)


@spark_query(
    "q_skew_salted_join",
    oracle="""
SELECT l.l_returnflag, f.flag_desc,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN (VALUES ('A', 'accepted'), ('N', 'none'), ('R', 'returned'))
     AS f(flag_code, flag_desc)
  ON l.l_returnflag = f.flag_code
GROUP BY l.l_returnflag, f.flag_desc
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted join on a pathologically skewed key.

    l_returnflag has 3 values over the whole fact table — a shuffle
    join on it would put ~1/3 of 100 TB in three reducer tasks.  The
    salting pattern: fact side gets salt = key-derived-but-uniform
    (l_orderkey % SALT), the dim side is exploded SALT times, and the
    join key becomes (flag, salt) — fan-out bounded, results
    identical.  (With a 3-row dim, broadcast would also solve this;
    salting is shown because it is the general fix when BOTH sides
    are too big to broadcast and AQE's skew split needs help.)"""
    SALT = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_orderkey") % SALT).cast("int")
    )
    # An opaque Python-RDD scan of unknown size, not functions/local.py's
    # LocalRelation, which the optimizer would size and auto-broadcast.
    flags = spark.createDataFrame(
        [("A", "accepted"), ("N", "none"), ("R", "returned")],
        "flag_code STRING, flag_desc STRING",
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
    joined = li.join(
        flags,
        (li.l_returnflag == flags.flag_code) & (li.salt == flags.salt),
    )
    return joined.groupBy("l_returnflag", "flag_desc").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            ),
            2,
        ).cast("double").alias("revenue"),
    )


@spark_query(
    "q_agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS grp_id,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): per-status,
    per-priority, and grand-total groups in one Expand pass — the
    general grouping-sets machinery O-16/O-17 ride on.  Spark's
    grouping() is 1-arg, so the Spark text uses grouping_id() (same
    bit vector as DuckDB's variadic GROUPING — verified by the
    rollup/cube oracles)."""
    register_views(spark, sf_dir)
    return spark.sql("""
SELECT o_orderstatus, o_orderpriority,
       grouping_id() AS grp_id,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")


@spark_query(
    "q_tpch_q6_forecast",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS promo_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure scan + filter +
    single aggregate — the canonical pushdown benchmark; every
    predicate reaches the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(8,2)")
                ),
                2,
            ).cast("double").alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@spark_query(
    "q_tpch_q12_shipmode",
    oracle="""
SELECT o.o_orderpriority,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
       CAST(SUM(CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY o.o_orderpriority
""",
)
def q_tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counting per priority
    (CASE-WHEN inside SUM — the pivoted-count idiom)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
            F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0)).alias("n_kept"),
        )
    )


@spark_query(
    "q_tpch_q14_promo",
    oracle="""
SELECT CAST(ROUND(
         100.00 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))
                 ELSE CAST(0 AS DECIMAL(22,4)) END)
         / SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))), 4) AS DOUBLE) AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional revenue share —
    a ratio of two decimal sums, rounded once at the end (the ratio is
    computed on EXACT decimal sums, so rounding is cross-engine
    stable)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (1 - F.col("l_discount")).cast("decimal(8,2)")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("decimal(22,4)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).cast("double").alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@spark_query(
    "q_upsert_merge",
    oracle="""
WITH upd AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_urgent,
         ROUND(SUM(o_totalprice), 2) AS urgent_spend
  FROM orders WHERE o_orderpriority = '1-URGENT'
  GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name,
       CASE WHEN u.custkey IS NOT NULL THEN 'VIP' ELSE c.c_mktsegment END AS segment,
       COALESCE(u.n_urgent, 0) AS n_urgent,
       COALESCE(u.urgent_spend, 0.0) AS urgent_spend
FROM customer c
LEFT JOIN upd u ON u.custkey = c.c_custkey
""",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped dimension upsert (WHEN MATCHED THEN UPDATE):
    customers matched by an updates feed (urgent-order aggregates) get
    their segment rewritten and enriched columns; unmatched rows pass
    through unchanged.

    Without a transactional table format, MERGE is expressed as
    left-join + conditional projection and written back with
    partition overwrite; on Delta/Iceberg (sources/lakehouse.py) the
    same plan becomes a native MERGE INTO.  The updates side is
    aggregated to one row per key BEFORE the join — merge feeds must
    be key-unique or matched rows duplicate.  No broadcast hint: the
    updates feed is keyed by o_custkey (cardinality up to |customer|,
    SF-proportional), so the planner/AQE picks the join strategy."""
    c = load_table(spark, sf_dir, "customer")
    upd = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_urgent"),
            F.round(F.sum("o_totalprice"), 2).alias("urgent_spend"),
        )
    )
    return c.join(upd, c.c_custkey == upd.custkey, "left").select(
        "c_custkey",
        "c_name",
        F.when(F.col("custkey").isNotNull(), F.lit("VIP"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
        F.coalesce("urgent_spend", F.lit(0.0)).alias("urgent_spend"),
    )
