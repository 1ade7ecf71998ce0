"""Data-quality operators: table profiling (catalog statistics) and
percentile winsorization (outlier capping) — the ANALYZE/clean stages
that precede any large-scale model-input build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table


@spark_query(
    "q_profile_table",
    oracle="""
SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
       COUNT(l_quantity) AS n_nonnull, COUNT(DISTINCT l_quantity) AS ndv,
       CAST(ROUND(MIN(l_quantity), 4) AS DOUBLE) AS min_val,
       CAST(ROUND(MAX(l_quantity), 4) AS DOUBLE) AS max_val,
       CAST(ROUND(AVG(l_quantity), 4) AS DOUBLE) + 0.0 AS avg_val
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*), COUNT(l_discount), COUNT(DISTINCT l_discount),
       CAST(ROUND(MIN(l_discount), 4) AS DOUBLE),
       CAST(ROUND(MAX(l_discount), 4) AS DOUBLE),
       CAST(ROUND(CAST(AVG(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE), 4) AS DOUBLE) + 0.0
FROM lineitem
UNION ALL
SELECT 'l_tax', COUNT(*), COUNT(l_tax), COUNT(DISTINCT l_tax),
       CAST(ROUND(MIN(l_tax), 4) AS DOUBLE),
       CAST(ROUND(MAX(l_tax), 4) AS DOUBLE),
       CAST(ROUND(CAST(AVG(CAST(l_tax AS DECIMAL(8,2))) AS DOUBLE), 4) AS DOUBLE) + 0.0
FROM lineitem
UNION ALL
SELECT 'l_linenumber', COUNT(*), COUNT(l_linenumber), COUNT(DISTINCT l_linenumber),
       CAST(MIN(l_linenumber) AS DOUBLE), CAST(MAX(l_linenumber) AS DOUBLE),
       CAST(ROUND(AVG(l_linenumber), 4) AS DOUBLE) + 0.0
FROM lineitem
ORDER BY col_name
""",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling: per-column row/non-null/NDV counts and
    min/max/avg for four lineitem columns, in the long format a
    catalog's ANALYZE stores.

    One scan computes ALL columns' statistics simultaneously (a single
    aggregate of 4x6 expressions), then unpivots — the oracle spells
    per-column scans because plain SQL lacks the unpivot, but DuckDB
    CSE-merges them.  AVG over 2-dp fixture decimals goes through
    DECIMAL sums where sums are non-integral (discount/tax), exact-sum
    doubles otherwise (quantity/linenumber are integral-valued).

    Scale: profiling is one map-side-combined pass; NDV is the only
    shuffle-heavy term (exact distinct per column) — at 100 TB a real
    catalog swaps it for approx_count_distinct (the engine's
    q_agg_approx_distinct shows that sketch)."""
    li = load_table(spark, sf_dir, "lineitem")
    exprs = []
    specs = [
        ("l_quantity", "plain"),
        ("l_discount", "decimal"),
        ("l_tax", "decimal"),
        ("l_linenumber", "int"),
    ]
    for col, mode in specs:
        if mode == "decimal":
            avg = (
                F.round(F.avg(F.col(col).cast("decimal(8,2)")).cast("double"), 4)
                + F.lit(0.0)
            )
        else:
            avg = F.round(F.avg(col), 4).cast("double") + F.lit(0.0)
        if mode == "int":
            mn = F.min(col).cast("double")
            mx = F.max(col).cast("double")
        else:
            mn = F.round(F.min(col), 4).cast("double")
            mx = F.round(F.max(col), 4).cast("double")
        exprs += [
            F.count(F.lit(1)).alias(f"{col}__n_rows"),
            F.count(col).alias(f"{col}__n_nonnull"),
            F.countDistinct(col).alias(f"{col}__ndv"),
            mn.alias(f"{col}__min_val"),
            mx.alias(f"{col}__max_val"),
            avg.alias(f"{col}__avg_val"),
        ]
    wide = li.agg(*exprs)
    stack_args = ", ".join(
        f"'{col}', {col}__n_rows, {col}__n_nonnull, {col}__ndv,"
        f" {col}__min_val, {col}__max_val, {col}__avg_val"
        for col, _ in specs
    )
    return wide.selectExpr(
        f"stack({len(specs)}, {stack_args})"
        " AS (col_name, n_rows, n_nonnull, ndv, min_val, max_val, avg_val)"
    ).orderBy("col_name")


@spark_query(
    "q_winsorize_outliers",
    oracle="""
WITH bounds AS (
  SELECT l_returnflag AS rf,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS p05,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag, COUNT(*) AS n,
       CAST(SUM(CASE WHEN l.l_extendedprice < b.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_floor,
       CAST(SUM(CASE WHEN l.l_extendedprice > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_ceil,
       CAST(ROUND(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, b.p05), b.p95)
                           AS DECIMAL(18,4))), 2) AS DOUBLE) AS winsorized_sum,
       CAST(ROUND(b.p05, 2) AS DOUBLE) + 0.0 AS p05,
       CAST(ROUND(b.p95, 2) AS DOUBLE) + 0.0 AS p95
FROM lineitem l JOIN bounds b ON b.rf = l.l_returnflag
GROUP BY l.l_returnflag, b.p05, b.p95
ORDER BY l.l_returnflag
""",
)
def q_winsorize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: cap each group's values into its own [p5, p95]
    band and report the capped sum plus how many rows hit each bound —
    the robust-statistics cleaning step before averaging anything
    noisy.

    EXACT percentiles (Spark ``percentile``, DuckDB percentile_cont —
    both linear-interpolation over the sorted group) so the bounds are
    the same doubles in both engines; the capped values are existing
    data values or those bounds, summed in DECIMAL.  The bounds table
    is a per-group scalar aggregate joined back broadcast-style.

    Scale: exact per-group percentiles sort each group once — fine for
    bounded group counts; with millions of groups swap in
    approx_percentile (the engine's q_agg_approx_quantile pattern) and
    keep the same capping join."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile aggregation buffer for both probes (r12): two
    # scalar F.percentile aggs each build + merge their own per-group
    # value-counts map over the same 600k values — the array form
    # shares one map and interpolates both probes from it, same
    # algorithm, bit-identical doubles (guide §1.2 per-task work).
    bounds = (
        li.groupBy(F.col("l_returnflag").alias("rf"))
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("ps")
        )
        .select(
            "rf",
            F.element_at("ps", 1).alias("p05"),
            F.element_at("ps", 2).alias("p95"),
        )
    )
    capped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
    return (
        li.join(bounds, li.l_returnflag == bounds.rf)
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0)
            ).alias("n_floor"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0)
            ).alias("n_ceil"),
            F.round(F.sum(capped.cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("winsorized_sum"),
        )
        .select(
            "l_returnflag",
            "n",
            "n_floor",
            "n_ceil",
            "winsorized_sum",
            (F.round("p05", 2).cast("double") + F.lit(0.0)).alias("p05"),
            (F.round("p95", 2).cast("double") + F.lit(0.0)).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


@spark_query(
    "q_equidepth_histogram",
    oracle="""
SELECT rf AS l_returnflag, bucket,
       COUNT(*) AS n_rows,
       CAST(ROUND(MIN(p), 2) AS DOUBLE) AS lo,
       CAST(ROUND(MAX(p), 2) AS DOUBLE) AS hi
FROM (
  SELECT l_returnflag AS rf, l_extendedprice AS p,
         NTILE(10) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS bucket
  FROM lineitem
) t
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram: 10 equal-population price
    buckets per return flag with their boundaries — the histogram
    flavor optimizers actually store (equal-width buckets waste
    resolution on sparse tails; equi-depth puts detail where rows
    are).  Complements q_profile_table / q_winsorize_outliers.

    NTILE is made deterministic by a TOTAL order (price, orderkey,
    linenumber) — ties on price alone would make bucket membership
    engine-dependent.  One window sort per group; at 100 TB a catalog
    build samples first or uses approx_percentile boundaries (the
    q_agg_approx_quantile sketch) — the equi-depth CONTRACT stays."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").alias("p"),
            F.ntile(10).over(w).alias("bucket"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("p"), 2).cast("double").alias("lo"),
            F.round(F.max("p"), 2).cast("double").alias("hi"),
        )
        .orderBy("l_returnflag", "bucket")
    )


@spark_query(
    "q_constraint_audit",
    oracle="""
WITH li AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS bad_flag,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.10 THEN 1 ELSE 0 END) AS bad_disc,
         SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS bad_price
  FROM lineitem
),
ord AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS ndv,
         COUNT(o_orderstatus) AS nonnull_comment
  FROM orders
),
orphans AS (
  SELECT COUNT(*) AS n_orphan
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
)
SELECT check_name, CAST(ROUND(observed, 6) AS DOUBLE) AS observed, passed FROM (
  SELECT 'accepted_values:l_returnflag' AS check_name,
         CAST(bad_flag AS DOUBLE) AS observed, bad_flag = 0 AS passed FROM li
  UNION ALL
  SELECT 'range:l_discount[0,0.10]', CAST(bad_disc AS DOUBLE), bad_disc = 0 FROM li
  UNION ALL
  SELECT 'positive:l_extendedprice', CAST(bad_price AS DOUBLE), bad_price = 0 FROM li
  UNION ALL
  SELECT 'uniqueness:o_orderkey', CAST(ndv AS DOUBLE) / n, ndv = n FROM ord
  UNION ALL
  SELECT 'completeness:o_orderstatus', CAST(nonnull_comment AS DOUBLE) / n,
         nonnull_comment = n FROM ord
  UNION ALL
  SELECT 'referential:o_custkey->c_custkey', CAST(n_orphan AS DOUBLE),
         n_orphan = 0 FROM orphans
)
ORDER BY check_name
""",
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/dbt-tests shape):
    accepted-values, range, positivity, key uniqueness, completeness
    and referential integrity, emitted as one (check, observed,
    passed) report table.

    Dataflow: ONE aggregate per scanned table computes all of that
    table's checks simultaneously (3 conditional sums over lineitem,
    ndv+completeness over orders), referential integrity is a
    broadcast anti-join count; the tiny per-check rows are unioned.
    At 100 TB this is exactly how a data-contract gate runs: a single
    combined pass per table (no per-check rescans), one small join
    for each FK — then the 6-row report broadcasts to the orchestrator
    deciding whether the partition is publishable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    li_agg = li.agg(
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("bad_flag"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.10), 1).otherwise(0)
        ).alias("bad_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("bad_price"),
    )
    ord_agg = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("ndv"),
        F.count("o_orderstatus").alias("nonnull_comment"),
    )
    # no broadcast hint: customer is SF-proportional, so the FK check
    # must stay a shuffle (or AQE-chosen) anti join to be scale-safe
    orphan = (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphan"))
    )

    # stack() unpivots each table's single aggregate row into its
    # per-check rows INSIDE one plan — union of per-check SELECTs over
    # the same aggregate would plan (and scan) the table once per
    # branch.
    li_checks = li_agg.select(
        F.expr(
            "stack(3,"
            " 'accepted_values:l_returnflag', CAST(bad_flag AS DOUBLE), bad_flag = 0,"
            " 'range:l_discount[0,0.10]',     CAST(bad_disc AS DOUBLE), bad_disc = 0,"
            " 'positive:l_extendedprice',     CAST(bad_price AS DOUBLE), bad_price = 0"
            ") AS (check_name, observed, passed)"
        )
    )
    ord_checks = ord_agg.select(
        F.expr(
            "stack(2,"
            " 'uniqueness:o_orderkey',  CAST(ndv AS DOUBLE) / n,             ndv = n,"
            " 'completeness:o_orderstatus', CAST(nonnull_comment AS DOUBLE) / n, nonnull_comment = n"
            ") AS (check_name, observed, passed)"
        )
    )
    fk_check = orphan.select(
        F.lit("referential:o_custkey->c_custkey").alias("check_name"),
        F.col("n_orphan").cast("double").alias("observed"),
        (F.col("n_orphan") == 0).alias("passed"),
    )
    return (
        li_checks.unionAll(ord_checks)
        .unionAll(fk_check)
        .select("check_name", F.round("observed", 6).alias("observed"), "passed")
        .orderBy("check_name")
    )


@spark_query(
    "q_grouped_linreg",
    oracle="""
WITH pts AS (
  SELECT p.p_brand,
         CAST(l.l_quantity AS BIGINT)                    AS x,
         CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
s AS (
  SELECT p_brand,
         COUNT(*)   AS n,
         SUM(x)     AS sx,
         SUM(y)     AS sy,
         SUM(x * y) AS sxy,
         SUM(x * x) AS sxx
  FROM pts GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6)       AS slope_cents,
       ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 4)       AS intercept_cents
FROM s
""",
)
def q_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit (price-vs-quantity slope
    and intercept per brand) from the five closed-form moment sums —
    the distributed way to run millions of tiny regressions: one
    partial-aggregated groupBy, no per-group data movement, no ML
    library.

    Determinism: x is an integer and y integer cents, so every moment
    sum is an exact integer; the normal-equation numerators and
    denominators are computed in exact integer arithmetic (DuckDB
    HUGEINT / Spark DECIMAL sums) and converted to double ONCE before
    the division (exact-int → nearest double is engine-identical).
    ``regr_slope``-style streaming-double accumulation would be
    order-dependent across partitionings.  At much larger per-group
    cardinalities the same sums just need wider decimals — the plan
    is unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pts = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    den = (n * sxx - sx * sx).cast("double")
    return s.select(
        "p_brand",
        n.cast("long").alias("n"),
        F.round((n * sxy - sx * sy).cast("double") / den, 6).alias("slope_cents"),
        F.round((sy * sxx - sx * sxy).cast("double") / den, 4).alias("intercept_cents"),
    )


@spark_query(
    "q_observe_inflight_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_large,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS total
FROM orders
WHERE o_orderstatus <> 'F'
""",
)
def q_observe_inflight_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via ``DataFrame.observe`` +
    ``Observation``: the audit counters (row count, large-order
    count, exact-decimal total) are accumulated WHILE the rows stream
    through the scan — no second pass over the data, which is the
    point at 100 TB (a separate audit query re-reads the table;
    observe() piggybacks on work already flowing).  The rows are
    driven through a `noop` sink (row-flow without driver
    collection), and the observed metrics are returned as the result
    — hash-matched against a direct SQL aggregation, proving the
    observed values equal a dedicated audit pass.
    """
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    obs = Observation("audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0))
        .cast("long")
        .alias("n_large"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
        .cast("double")
        .alias("total"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [(int(m["n_rows"]), int(m["n_large"]), float(m["total"]))],
        "n_rows BIGINT, n_large BIGINT, total DOUBLE",
    )


@spark_query(
    "q_chisq_independence",
    oracle="""
WITH obs AS (
  SELECT o_orderpriority AS p, o_orderstatus AS s,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
rt AS (SELECT p, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY p),
ct AS (SELECT s, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY s),
n  AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT obs.o, rt.rt, ct.ct, n.n,
         (rt.rt * 1.0 / n.n) * ct.ct AS expected
  FROM obs JOIN rt ON obs.p = rt.p JOIN ct ON obs.s = ct.s CROSS JOIN n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(((SELECT COUNT(*) FROM rt) - 1)
            * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
       ROUND(SUM((o - expected) * (o - expected) / expected), 4) AS chi2
FROM cells
""",
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (order priority x order status): the data-drift / feature-
    association statistic every profiling suite ships.  chi2 =
    SUM((obs - exp)^2 / exp) with exp = row_total * col_total / N.

    Plan shape: ONE pass over the fact table builds the contingency
    table (groupBy both keys); row totals, column totals, and N are
    re-aggregations of that tiny (|p| x |s| = 15-cell) table — the
    100 TB cost is exactly one shuffle of pre-aggregated partial
    counts, everything downstream is constant-sized.

    Determinism: counts exact; expected = (rt/N)*ct factored
    identically in both engines (rt*ct would stay exact too, but the
    ratio-first form keeps every intermediate < 2^53 at any SF); the
    15-term sum is rounded to 4 dp.
    """
    orders = load_table(spark, sf_dir, "orders")
    # The 15-cell contingency table feeds FIVE consumers (row/col
    # totals, N, the cells join, plus the two driver-side cardinality
    # counts below) — each re-ran the orders scan + groupBy before
    # this checkpoint (before plan: 8 scan nodes; r12, guide §5).
    obs = (
        orders.groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    # row_tot / col_tot are re-aggregations of the |p| x |s| contingency
    # table — bounded by category cardinality (5 and 3 rows), never by SF.
    row_tot = obs.groupBy("p").agg(F.sum("o").alias("rt"))
    col_tot = obs.groupBy("s").agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    n_p = row_tot.count()
    n_s = col_tot.count()
    cells = (
        obs.join(bcast(row_tot, "contingency-row-cardinality agg"), "p")
        .join(bcast(col_tot, "contingency-col-cardinality agg"), "s")
        .crossJoin(bcast(n, "1-row count aggregate"))
        .withColumn("expected", (F.col("rt") * 1.0 / F.col("n")) * F.col("ct"))
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.lit((n_p - 1) * (n_s - 1)).cast("long").alias("dof"),
        F.round(
            F.sum(
                (F.col("o") - F.col("expected"))
                * (F.col("o") - F.col("expected"))
                / F.col("expected")
            ),
            4,
        ).alias("chi2"),
    )


@spark_query(
    "q_ab_welch_ttest",
    oracle="""
WITH assigned AS (
  SELECT user_id % 2 AS arm, value
  FROM events WHERE event_type = 'purchase'
),
arms AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         AVG(value) AS mean,
         VAR_SAMP(value) AS var
  FROM assigned GROUP BY arm
)
SELECT a.n AS n_treat, b.n AS n_ctrl,
       ROUND(a.mean, 4) AS mean_treat,
       ROUND(b.mean, 4) AS mean_ctrl,
       ROUND(a.mean - b.mean, 4) AS lift,
       ROUND((a.mean - b.mean) / SQRT(a.var / a.n + b.var / b.n), 4)
         AS t_stat
FROM arms a JOIN arms b ON a.arm = 1 AND b.arm = 0
""",
)
def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic hash-split of users into
    two arms (user_id % 2 stands in for the assignment hash), then
    per-arm purchase-value mean/variance and the Welch t-statistic
    for the lift — the experimentation primitive on top of the
    engine.

    One filtered pass + one 2-group aggregation; the arm join is a
    2x2 self-join of a 2-row frame.  At 100 TB: partial aggregation
    makes the per-arm moments map-side; nothing downstream scales
    with data.

    Determinism: AVG/VAR_SAMP over identical double sets (order-of-
    summation risk is the repo-standard round-4 guard, same as every
    stats query); arm assignment is exact integer arithmetic.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    arms = (
        ev.select((F.col("user_id") % 2).alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    a = arms.filter(F.col("arm") == 1).alias("a")
    b = arms.filter(F.col("arm") == 0).alias("b")
    return a.crossJoin(b).select(
        F.col("a.n").alias("n_treat"),
        F.col("b.n").alias("n_ctrl"),
        F.round(F.col("a.mean"), 4).alias("mean_treat"),
        F.round(F.col("b.mean"), 4).alias("mean_ctrl"),
        F.round(F.col("a.mean") - F.col("b.mean"), 4).alias("lift"),
        F.round(
            (F.col("a.mean") - F.col("b.mean"))
            / F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")),
            4,
        ).alias("t_stat"),
    )


@spark_query(
    "q_k_anonymity",
    oracle="""
WITH nation_groups AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS sz
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
region_groups AS (
  SELECT n.n_regionkey, c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS sz
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, c.c_mktsegment
),
assigned AS (
  SELECT c.c_custkey,
         CASE WHEN ng.sz >= 5 THEN 'nation'
              WHEN rg.sz >= 5 THEN 'region'
              ELSE 'suppressed' END AS level,
         CASE WHEN ng.sz >= 5 THEN ng.sz
              WHEN rg.sz >= 5 THEN rg.sz
              ELSE NULL END AS class_size
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN nation_groups ng
    ON ng.c_nationkey = c.c_nationkey AND ng.c_mktsegment = c.c_mktsegment
  JOIN region_groups rg
    ON rg.n_regionkey = n.n_regionkey AND rg.c_mktsegment = c.c_mktsegment
)
SELECT level,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(class_size) AS BIGINT) AS min_class,
       ROUND(AVG(class_size), 4) AS avg_class
FROM assigned GROUP BY level
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity enforcement with a generalization ladder (k=5):
    each customer's quasi-identifier pair (nation, segment) must sit
    in an equivalence class of >= k records; classes below k
    GENERALIZE the geography one rung (nation -> region); classes
    still below k are SUPPRESSED.  Output: records per privacy level
    with class-size stats — the release-gate report a governance
    pipeline produces before publishing training data.

    Plan shape: two grouped class-size tables (bounded by QI
    cardinality: 25x5 and 5x5 — broadcast-sized BY CONSTRUCTION) join
    back to the record stream; the ladder is a codegen CASE.  At
    100 TB: one shuffle per QI granularity over pre-aggregated
    partials, then map-side broadcast joins — record count never
    re-shuffles.

    Determinism: class sizes exact BIGINTs; AVG rounded 4 dp.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    cn = c.join(bcast(n, "structural dim (25-row nation)"), c.c_nationkey == n.n_nationkey)
    ng = (
        cn.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_sz"))
    )
    rg = (
        cn.groupBy("n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("r_sz"))
    )
    assigned = (
        cn.join(bcast(ng, "group-count agg (<=25 nations x segments)"), ["c_nationkey", "c_mktsegment"])
        .join(bcast(rg, "group-count agg (<=5 regions x segments)"), ["n_regionkey", "c_mktsegment"])
        .select(
            "c_custkey",
            F.when(F.col("n_sz") >= 5, "nation")
            .when(F.col("r_sz") >= 5, "region")
            .otherwise("suppressed")
            .alias("level"),
            F.when(F.col("n_sz") >= 5, F.col("n_sz"))
            .when(F.col("r_sz") >= 5, F.col("r_sz"))
            .alias("class_size"),
        )
    )
    return assigned.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("class_size").alias("min_class"),
        F.round(F.avg("class_size"), 4).alias("avg_class"),
    )


@spark_query(
    "q_psi_drift",
    oracle="""
WITH ref AS (
  SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'
),
cur AS (
  SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'
),
edges AS (
  SELECT quantile_cont(value, 0.25) AS e1,
         quantile_cont(value, 0.50) AS e2,
         quantile_cont(value, 0.75) AS e3
  FROM ref
),
ref_b AS (
  SELECT CASE WHEN value <= e1 THEN 1 WHEN value <= e2 THEN 2
              WHEN value <= e3 THEN 3 ELSE 4 END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ref CROSS JOIN edges GROUP BY 1
),
cur_b AS (
  SELECT CASE WHEN value <= e1 THEN 1 WHEN value <= e2 THEN 2
              WHEN value <= e3 THEN 3 ELSE 4 END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM cur CROSS JOIN edges GROUP BY 1
),
ref_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ref_b),
cur_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cur_b),
terms AS (
  SELECT r.bucket,
         r.c * 1.0 / ref_n.n AS p_ref,
         cu.c * 1.0 / cur_n.n AS p_cur,
         (cu.c * 1.0 / cur_n.n - r.c * 1.0 / ref_n.n)
           * LN((cu.c * 1.0 / cur_n.n) / (r.c * 1.0 / ref_n.n)) AS term
  FROM ref_b r JOIN cur_b cu ON r.bucket = cu.bucket
  CROSS JOIN ref_n CROSS JOIN cur_n
)
SELECT bucket,
       ROUND(p_ref, 4) AS p_ref,
       ROUND(p_cur, 4) AS p_cur,
       ROUND(term, 6) AS psi_term,
       ROUND(SUM(term) OVER (), 6) AS psi_total
FROM terms
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift detection: the event-value
    distribution of the current period (second half of January) vs
    the reference period (first half), bucketed at the REFERENCE
    quartiles — PSI = sum((p_cur - p_ref) * ln(p_cur / p_ref)).
    The monitoring statistic every production feature pipeline
    computes per model input (PSI < 0.1 stable, > 0.25 action).

    Plan shape: one pass computes reference quartile edges (1-row
    broadcast frame), each period reduces to a 4-row bucket census,
    and the PSI arithmetic runs on 4 rows — at 100 TB the cost is
    two filtered scans with map-side partial counts, nothing else
    scales with data.

    Determinism: bucket edges are percentile-interpolated doubles
    computed identically (proven pattern: q_curriculum_bands); counts
    exact; LN over identical ratios; outputs rounded.
    """
    ev = load_table(spark, sf_dir, "events")
    split = "2024-01-16"
    ref = ev.filter(F.col("ts") < split).select("value")
    edges = ref.agg(
        F.expr("percentile(value, 0.25D)").alias("e1"),
        F.expr("percentile(value, 0.50D)").alias("e2"),
        F.expr("percentile(value, 0.75D)").alias("e3"),
    )

    from pyspark.sql import Window

    # Single-pass census (r12, guide §1.2/§2.4): the old shape ran the
    # per-period bucket census as FOUR plan branches (ref_b, cur_b, and
    # a re-derivation of each under ref_n / cur_n) — five scans of
    # `events` per run counting the edges pass.  One scan now buckets
    # every row and takes both periods' counts as conditional sums;
    # the period totals are window sums over the <=4-row census (exact
    # integer arithmetic — identical rn/cn by construction), taken
    # BEFORE the both-periods filter so a bucket observed in only one
    # period still contributes to its period's total, exactly like the
    # old per-period censuses.  The both-periods inner join becomes a
    # rc>0 AND cc>0 filter (same surviving bucket set).
    census = (
        ev.select("ts", "value")
        .crossJoin(bcast(edges, "node-bounded edge list, measured small"))
        .select(
            F.when(F.col("value") <= F.col("e1"), 1)
            .when(F.col("value") <= F.col("e2"), 2)
            .when(F.col("value") <= F.col("e3"), 3)
            .otherwise(4)
            .alias("bucket"),
            (F.col("ts") < split).alias("is_ref"),
            (F.col("ts") >= split).alias("is_cur"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("rc"),
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("cc"),
        )
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    terms = (
        census.withColumn("rn", F.sum("rc").over(wall))
        .withColumn("cn", F.sum("cc").over(wall))
        .filter((F.col("rc") > 0) & (F.col("cc") > 0))
        .withColumn("p_ref", F.col("rc") * 1.0 / F.col("rn"))
        .withColumn("p_cur", F.col("cc") * 1.0 / F.col("cn"))
        .withColumn(
            "term",
            (F.col("p_cur") - F.col("p_ref"))
            * F.log(F.col("p_cur") / F.col("p_ref")),
        )
    )

    return terms.select(
        "bucket",
        F.round("p_ref", 4).alias("p_ref"),
        F.round("p_cur", 4).alias("p_cur"),
        F.round("term", 6).alias("psi_term"),
        F.round(
            F.sum("term").over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
            6,
        ).alias("psi_total"),
    )


@spark_query(
    "q_benford_audit",
    oracle="""
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice >= 1
),
obs AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM digits GROUP BY d
),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs)
SELECT obs.d,
       obs.c AS observed,
       ROUND(obs.c * 1.0 / n.n, 4) AS p_obs,
       ROUND(LOG10(1.0 + 1.0 / obs.d), 4) AS p_benford,
       ROUND(ABS(obs.c * 1.0 / n.n - LOG10(1.0 + 1.0 / obs.d)), 4)
         AS abs_dev
FROM obs CROSS JOIN n
""",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: the first-significant-digit distribution
    of order totals vs the Benford expectation log10(1 + 1/d) with
    per-digit absolute deviation — the forensic-accounting /
    synthetic-data smoke test (fabricated amounts flunk Benford;
    multiplicative natural data passes).  The fixture's uniform-ish
    synthetic prices WILL show deviation — that is the point: the
    operator measures it.

    One digit-extraction pass (string head of the FLOOR'd integer
    part — explicit floor because double->int CAST rounds in DuckDB
    but truncates in Spark, a real cross-engine off-by-one at digit
    boundaries; and no log-based digit math), one 9-row census,
    constant-size arithmetic after.

    Determinism: digit extraction is exact string/integer work;
    LOG10 over identical literals; proportions rounded 4 dp.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    n = obs.agg(F.sum("c").alias("n"))
    p_obs = F.col("c") * 1.0 / F.col("n")
    p_ben = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(bcast(n, "1-row count aggregate"))
        .select(
            "d",
            F.col("c").alias("observed"),
            F.round(p_obs, 4).alias("p_obs"),
            F.round(p_ben, 4).alias("p_benford"),
            F.round(F.abs(p_obs - p_ben), 4).alias("abs_dev"),
        )
    )


@spark_query(
    "q_corr_matrix",
    oracle="""
WITH pairs AS (
  SELECT 'qty_price' AS pair, corr(l_quantity, l_extendedprice) AS r,
         regr_slope(l_extendedprice, l_quantity) AS slope
  FROM lineitem
  UNION ALL
  SELECT 'qty_discount', corr(l_quantity, l_discount),
         regr_slope(l_discount, l_quantity)
  FROM lineitem
  UNION ALL
  SELECT 'price_discount', corr(l_extendedprice, l_discount),
         regr_slope(l_discount, l_extendedprice)
  FROM lineitem
)
SELECT pair, ROUND(r, 4) AS r, ROUND(slope, 6) AS slope
FROM pairs
""",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix over the fact table's numeric
    columns (quantity, price, discount) with the regression slope per
    pair — the feature-redundancy screen of a profiling suite.

    ONE pass over lineitem computes all three pairs' moments
    (map-side partial aggregation; the oracle's UNION-of-scans form
    is the naive plan, Spark's single multi-aggregate is the fused
    one) — at 100 TB: one scan, one 1-row shuffle, nothing else.

    Determinism: corr/regr_slope are moment-based doubles in both
    engines; repo-standard round guard (4/6 dp).
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("r1"),
        F.expr("regr_slope(l_extendedprice, l_quantity)").alias("s1"),
        F.corr("l_quantity", "l_discount").alias("r2"),
        F.expr("regr_slope(l_discount, l_quantity)").alias("s2"),
        F.corr("l_extendedprice", "l_discount").alias("r3"),
        F.expr("regr_slope(l_discount, l_extendedprice)").alias("s3"),
    )
    # stack() unpivots the single 1-row aggregate into 3 rows INSIDE
    # one projection — a union of three selects over `m` would replay
    # the aggregation (and the scan) three times.
    return m.selectExpr(
        """stack(3,
              'qty_price',      round(r1, 4), round(s1, 6),
              'qty_discount',   round(r2, 4), round(s2, 6),
              'price_discount', round(r3, 4), round(s3, 6)
           ) AS (pair, r, slope)"""
    )


@spark_query(
    "q_l_diversity",
    oracle="""
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band
  FROM customer
),
classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS class_size,
         CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS n_sensitive
  FROM banded GROUP BY c_nationkey, c_mktsegment
)
SELECT CASE WHEN n_sensitive >= 3 THEN 'diverse' ELSE 'at_risk' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_records,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity,
       ROUND(AVG(n_sensitive), 4) AS avg_diversity
FROM classes GROUP BY 1
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) — the companion gate to q_k_anonymity:
    k-anonymity bounds CLASS SIZE, but a class where every member
    shares one sensitive value still leaks it (homogeneity attack);
    l-diversity requires each quasi-identifier class to contain >= l
    DISTINCT sensitive values.  QI = (nation, segment); sensitive =
    the account-balance band (2000-wide).  Output: classes/records and
    diversity stats per status — the second page of the privacy
    release report.

    Plan shape: one shuffle to (QI, band) partial-distinct, one to the
    QI class rollup, one tiny status rollup — COUNT(DISTINCT) over a
    banded value is the cheap two-phase distinct, never a
    collect_set.  At 100 TB the QI-class table is bounded by QI
    cardinality (25x5 here), not record count."""
    banded = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    classes = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("bal_band").alias("n_sensitive"),
    )
    return (
        classes.select(
            F.when(F.col("n_sensitive") >= 3, "diverse")
            .otherwise("at_risk")
            .alias("status"),
            "class_size",
            "n_sensitive",
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_records"),
            F.min("n_sensitive").alias("min_diversity"),
            F.round(F.avg("n_sensitive"), 4).alias("avg_diversity"),
        )
    )


@spark_query(
    "q_t_closeness",
    oracle="""
WITH q AS (
  SELECT quantile_cont(c_acctbal, 0.25) AS q1,
         quantile_cont(c_acctbal, 0.50) AS q2,
         quantile_cont(c_acctbal, 0.75) AS q3
  FROM customer
),
banded AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         CASE WHEN c.c_acctbal <= q.q1 THEN 1
              WHEN c.c_acctbal <= q.q2 THEN 2
              WHEN c.c_acctbal <= q.q3 THEN 3
              ELSE 4 END AS band
  FROM customer c CROSS JOIN q
),
cls AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_sz
  FROM banded GROUP BY 1, 2
),
gband AS (
  SELECT band, COUNT(*) * 1.0 / SUM(COUNT(*)) OVER () AS gfrac
  FROM banded GROUP BY band
),
cells AS (
  SELECT c.c_nationkey, c.c_mktsegment, c.class_sz, g.band, g.gfrac,
         COALESCE(b.n, 0) * 1.0 / c.class_sz AS cfrac
  FROM cls c
  CROSS JOIN gband g
  LEFT JOIN (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n
             FROM banded GROUP BY 1, 2, 3) b
    ON b.c_nationkey = c.c_nationkey AND b.c_mktsegment = c.c_mktsegment
   AND b.band = g.band
),
cum AS (
  SELECT c_nationkey, c_mktsegment, class_sz,
         SUM(cfrac - gfrac) OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY band) AS cumdiff
  FROM cells
)
SELECT c_nationkey, c_mktsegment, class_sz,
       ROUND(SUM(ABS(cumdiff)) / 3.0, 4) AS emd,
       (SUM(ABS(cumdiff)) / 3.0 <= 0.2) AS passes_t
FROM cum GROUP BY 1, 2, 3
""",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness audit (Li et al. ICDE'07) — the third rung of the
    governance ladder after q_k_anonymity (class size) and
    q_l_diversity (sensitive-value count): each quasi-identifier class
    (nation, segment) must have a sensitive-attribute DISTRIBUTION
    close to the global one, measured by Earth Mover's Distance over
    the ordered attribute (account balance in global quartile bands):
    EMD = (1/(B-1)) * Sigma |cumulative(class_frac - global_frac)|.
    L-diversity alone passes a class whose balances are 99% in the top
    band — t-closeness is what catches that skew-disclosure.

    Determinism: band boundaries are exact interpolated quartiles
    (cross-engine stable, same as q_agg_exact_median_mode), band
    assignment is threshold comparison, and the EMD is a <= 4-term
    cumulative sum of count ratios — rational arithmetic until one
    final round.

    Shape: ONE pass bands every record (boundaries are a broadcast
    1-row aggregate); class sizes, global band fractions, and
    class-band cells are all aggregations bounded by QI x band
    cardinality (125 x 4) — the record stream is never joined to
    itself, and the EMD window runs over 4-row partitions.  At 100 TB
    the quartiles come from approx_percentile (sketch) instead; every
    other stage is already record-count-free after the first
    aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.agg(
        F.percentile("c_acctbal", F.lit(0.25)).alias("q1"),
        F.percentile("c_acctbal", F.lit(0.50)).alias("q2"),
        F.percentile("c_acctbal", F.lit(0.75)).alias("q3"),
    )
    banded = cust.crossJoin(bcast(q, "1-row quantile aggregate")).select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") <= F.col("q1"), 1)
        .when(F.col("c_acctbal") <= F.col("q2"), 2)
        .when(F.col("c_acctbal") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("band"),
    )
    # One banding pass, not three (r12, guide §1.2/§5): cls and gband
    # are exact integer rollups of the (nation, segment, band) census
    # — class_sz = Σ_band n, global band count = Σ_class n — so the
    # record stream is banded ONCE and the ≤125×4-row census is
    # checkpointed; before, each of the three aggregations re-ran the
    # customer scan + quartile broadcast (before-plan: 12 scan nodes).
    cell_counts = (
        banded.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    cls = cell_counts.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n").cast("bigint").alias("class_sz")
    )
    gband = (
        cell_counts.groupBy("band")
        .agg(F.sum("n").alias("n"))
        .select(
            "band", (F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy())).alias("gfrac")
        )
    )
    cells = (
        cls.crossJoin(bcast(gband, "literal band-fraction dim (4 rows)"))
        .join(cell_counts, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_sz",
            "band",
            "gfrac",
            (F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("class_sz")).alias("cfrac"),
        )
    )
    wcum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("cumdiff", F.sum(F.col("cfrac") - F.col("gfrac")).over(wcum))
    return cum.groupBy("c_nationkey", "c_mktsegment", "class_sz").agg(
        F.round(F.sum(F.abs("cumdiff")) / 3.0, 4).alias("emd"),
        (F.sum(F.abs("cumdiff")) / 3.0 <= 0.2).alias("passes_t"),
    )


@spark_query(
    "q_grouped_ols_multivar",
    oracle="""
WITH pts AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS BIGINT)                       AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT)       AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)  AS y
  FROM lineitem
),
s AS (
  SELECT g, COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2,
         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
         SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM pts GROUP BY g
),
d AS (
  SELECT g, CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) AS m11, CAST(s1 AS DOUBLE) AS m12,
         CAST(s2 AS DOUBLE) AS m13, CAST(s11 AS DOUBLE) AS m22,
         CAST(s12 AS DOUBLE) AS m23, CAST(s22 AS DOUBLE) AS m33,
         CAST(sy AS DOUBLE) AS b1, CAST(s1y AS DOUBLE) AS b2,
         CAST(s2y AS DOUBLE) AS b3
  FROM s
)
SELECT g AS l_returnflag, n,
       ROUND((b1*(m22*m33 - m23*m23) - m12*(b2*m33 - m23*b3) + m13*(b2*m23 - m22*b3))
           / (m11*(m22*m33 - m23*m23) - m12*(m12*m33 - m23*m13) + m13*(m12*m23 - m22*m13)),
           4) AS beta0_cents,
       ROUND((m11*(b2*m33 - b3*m23) - b1*(m12*m33 - m23*m13) + m13*(m12*b3 - b2*m13))
           / (m11*(m22*m33 - m23*m23) - m12*(m12*m33 - m23*m13) + m13*(m12*m23 - m22*m13)),
           6) AS beta1_cents_per_qty,
       ROUND((m11*(m22*b3 - m23*b2) - m12*(m12*b3 - b2*m13) + b1*(m12*m23 - m22*m13))
           / (m11*(m22*m33 - m23*m23) - m12*(m12*m33 - m23*m13) + m13*(m12*m23 - m22*m13)),
           6) AS beta2_cents_per_pct
FROM d
""",
)
def q_grouped_ols_multivar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MULTIVARIATE least squares (price ~ quantity +
    discount, with intercept) solved in closed form from distributed
    sufficient statistics — the pattern that turns "train a model per
    segment" into ONE aggregation: each group reduces to its 3x3
    normal-equation moments (n, Sx1, Sx2, Sx1x1, Sx1x2, Sx2x2, Sy,
    Sx1y, Sx2y), and the coefficients are Cramer's rule on that tiny
    system in codegen.  q_grouped_linreg is the 1-feature case; this
    is the general shape (k features -> k(k+3)/2 + 1 moments).

    Determinism: inputs are exact integer units (quantity, discount
    %% points, price cents) so every moment is an exact int64 sum
    (partial-aggregated, order-free); determinant products would
    overflow int64 (~1e20) so moments convert ONCE to double and the
    Cramer arithmetic is written with IDENTICAL structure in both
    engines — correctly-rounded IEEE ops on identical inputs.

    Shape: one map-side-combined groupBy produces 10 numbers per
    group; the solve is a projection.  At 100 TB this runs at scan
    speed regardless of group count — the entire "model" shuffle is
    10 doubles per group, which is why sufficient-statistics training
    (linear/ridge/GLM-IRLS step) is THE distributed pattern when the
    feature count is small."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    s = pts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    m11, m12, m13 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    m22, m23, m33 = (F.col(c).cast("double") for c in ("s11", "s12", "s22"))
    b1, b2, b3 = (F.col(c).cast("double") for c in ("sy", "s1y", "s2y"))
    det = (
        m11 * (m22 * m33 - m23 * m23)
        - m12 * (m12 * m33 - m23 * m13)
        + m13 * (m12 * m23 - m22 * m13)
    )
    det_b0 = (
        b1 * (m22 * m33 - m23 * m23)
        - m12 * (b2 * m33 - m23 * b3)
        + m13 * (b2 * m23 - m22 * b3)
    )
    det_b1 = (
        m11 * (b2 * m33 - b3 * m23)
        - b1 * (m12 * m33 - m23 * m13)
        + m13 * (m12 * b3 - b2 * m13)
    )
    det_b2 = (
        m11 * (m22 * b3 - m23 * b2)
        - m12 * (m12 * b3 - b2 * m13)
        + b1 * (m12 * m23 - m22 * m13)
    )
    return s.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n"),
        F.round(det_b0 / det, 4).alias("beta0_cents"),
        F.round(det_b1 / det, 6).alias("beta1_cents_per_qty"),
        F.round(det_b2 / det, 6).alias("beta2_cents_per_pct"),
    )


@spark_query(
    "q_anova_oneway",
    oracle="""
WITH cells AS (
  SELECT event_type AS g,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS s,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
             * CAST(ROUND(value * 100, 0) AS BIGINT)) AS ss
  FROM events GROUP BY event_type
),
tot AS (
  SELECT SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
),
parts AS (
  SELECT t.k, t.nt,
         SUM(CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE))
           - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE) / CAST(t.nt AS DOUBLE)
           AS ss_between,
         CAST(t.sst AS DOUBLE)
           - SUM(CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE))
           AS ss_within
  FROM cells c CROSS JOIN tot t
  GROUP BY t.k, t.nt, t.st, t.sst
)
SELECT k AS n_groups, CAST(nt AS BIGINT) AS n_total,
       ROUND(ss_between / (k - 1), 4) AS ms_between,
       ROUND(ss_within / (nt - k), 4) AS ms_within,
       ROUND((ss_between / (k - 1)) / (ss_within / (nt - k)), 6) AS f_stat
FROM parts
""",
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types — completes the
    engine's hypothesis-test family (chi-square for independence,
    Welch t for two means, F for k means): is between-group variance
    of purchase value large relative to within-group variance?

    Sufficient-statistics discipline (same as q_grouped_ols_multivar):
    per-group (n, Sx, Sx²) in exact integer cents, ONE partial-
    aggregated groupBy; the F decomposition SS_between = Sigma s_g²/n_g
    - s²/n and SS_within = Sigma x² - Sigma s_g²/n_g happens on the
    k-row cell table in identically-structured double arithmetic.
    At 100 TB the test costs one scan; the cell table is
    group-cardinality-bounded."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100, 0).cast("long")
    cells = ev.select(F.col("event_type").alias("g"), c.alias("c")).groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    tot = cells.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = cells.crossJoin(bcast(tot, "1-row total aggregate"))
    parts = j.groupBy("k", "nt", "st", "sst").agg(
        (
            F.sum(
                F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
            - F.col("st").cast("double")
            * F.col("st").cast("double")
            / F.col("nt").cast("double")
        ).alias("ss_between"),
        (
            F.col("sst").cast("double")
            - F.sum(
                F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
        ).alias("ss_within"),
    )
    return parts.select(
        F.col("k").alias("n_groups"),
        F.col("nt").cast("bigint").alias("n_total"),
        F.round(F.col("ss_between") / (F.col("k") - 1), 4).alias("ms_between"),
        F.round(F.col("ss_within") / (F.col("nt") - F.col("k")), 4).alias("ms_within"),
        F.round(
            (F.col("ss_between") / (F.col("k") - 1))
            / (F.col("ss_within") / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@spark_query(
    "q_poisson_bootstrap_ci",
    oracle="""
WITH purchases AS (
  SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
weighted AS (
  SELECT b.b, p.c,
         CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1 WHEN u < 9197 THEN 2
              WHEN u < 9810 THEN 3 WHEN u < 9963 THEN 4 ELSE 5 END AS w
  FROM purchases p
  CROSS JOIN (SELECT UNNEST(range(0, 32)) AS b) b
  CROSS JOIN LATERAL (SELECT (p.event_id * 1103515245 + b.b * 12345) % 10000 AS u) u
),
reps AS (
  SELECT b, CAST(SUM(w * c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_b
  FROM weighted GROUP BY b
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_cents
  FROM purchases
)
SELECT p.n_events, CAST(32 AS BIGINT) AS n_replicates,
       ROUND(p.mean_cents, 4) AS point_mean_cents,
       ROUND(quantile_cont(r.mean_b, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(r.mean_b, 0.975), 4) AS ci_hi,
       ROUND(stddev_samp(r.mean_b), 4) AS se_boot
FROM reps r CROSS JOIN point p
GROUP BY p.n_events, p.mean_cents
""",
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean purchase
    value — THE bootstrap that works on distributed data (Chamandy et
    al., Google 2012): true resampling-with-replacement needs global
    coordination, but Poisson(1) per-row replicate weights
    approximate it with INDEPENDENT per-row draws, so all 32
    replicates accumulate in ONE pass over the data (explode row ->
    32 (replicate, weight) pairs, partial-aggregated groupBy).

    Determinism: the Poisson draw is inverse-CDF over a deterministic
    integer mixing law u(event, b) in 1e-4 grid units with LITERAL
    cumulative thresholds (0.3679/0.7358/0.9197/0.9810/0.9963) — both
    engines compute identical weights, so the CI hash-matches despite
    being a "randomized" algorithm; swap the mixing law for a seeded
    hash in production and nothing else changes.

    Shape: weights are codegen CASE arithmetic; the replicate table
    is 32 rows; the quantile/stddev run on those 32.  At 100 TB the
    single pass costs 32 integer multiply-adds per row — compare a
    naive bootstrap's 32 shuffled resamples."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    purchases = ev.select(
        "event_id", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    )
    exploded = purchases.select(
        "event_id", "c", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    )
    u = (F.col("event_id") * 1103515245 + F.col("b") * 12345) % 10000
    w = (
        F.when(u < 3679, 0)
        .when(u < 7358, 1)
        .when(u < 9197, 2)
        .when(u < 9810, 3)
        .when(u < 9963, 4)
        .otherwise(5)
    )
    reps = (
        exploded.select("b", "c", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("c")).cast("double")
                / F.sum("w").cast("double")
            ).alias("mean_b")
        )
    )
    stats = purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean_cents"),
    )
    return (
        reps.crossJoin(bcast(stats, "1-row global-moment aggregate"))
        .groupBy("n_events", "mean_cents")
        .agg(
            F.round(F.percentile("mean_b", F.lit(0.025)), 4).alias("ci_lo"),
            F.round(F.percentile("mean_b", F.lit(0.975)), 4).alias("ci_hi"),
            F.round(F.stddev_samp("mean_b"), 4).alias("se_boot"),
        )
        .select(
            "n_events",
            F.lit(32).cast("bigint").alias("n_replicates"),
            F.round("mean_cents", 4).alias("point_mean_cents"),
            "ci_lo",
            "ci_hi",
            "se_boot",
        )
    )


@spark_query(
    "q_join_skew_report",
    oracle="""
WITH freq AS (
  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS max_key_rows,
         ROUND(AVG(n), 4) AS avg_key_rows,
         ROUND(CAST(MAX(n) AS DOUBLE) / AVG(n), 4) AS skew_factor
  FROM freq
),
topk AS (
  SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk FROM freq
)
SELECT s.n_keys, s.n_rows, s.max_key_rows, s.avg_key_rows, s.skew_factor,
       CAST(t.rk AS BIGINT) AS rank, t.key AS hot_key, t.n AS hot_key_rows
FROM stats s JOIN topk t ON t.rk <= 5
""",
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the pre-flight report that decides
    whether a join on this key needs salting or AQE skew handling —
    key cardinality, max/avg rows per key (the skew factor), and the
    5 hottest keys.  A skew factor near 1 means hash partitioning
    balances; 100x means the hot keys each need a salt fan-out of
    roughly their overage.

    Shape: ONE partial-aggregated groupBy builds the key histogram;
    everything downstream (global stats, top-5 window) runs on the
    key-cardinality-bounded relation.  At 100 TB this replaces
    guessing with measurement for exactly the cost of a count — and
    the histogram itself is reusable as the salting plan (hot keys ->
    fan-out factors)."""
    orders = load_table(spark, sf_dir, "orders")
    freq = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stats = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        F.round(F.avg("n"), 4).alias("avg_key_rows"),
        F.round(F.max("n").cast("double") / F.avg("n"), 4).alias("skew_factor"),
    )
    # top-5 via TakeOrderedAndProject (distributed partial top-k),
    # NOT a row_number window over the full key histogram — that
    # window is a single-partition sort of an SF-proportional
    # relation.  The rank is assigned on the 5 survivors.
    top5 = freq.orderBy(F.desc("n"), "key").limit(5)
    w5 = Window.orderBy(F.desc("n"), "key")
    topk = top5.withColumn("rk", F.row_number().over(w5)).select(
        F.col("rk").cast("bigint").alias("rank"),
        F.col("key").alias("hot_key"),
        F.col("n").alias("hot_key_rows"),
    )
    return stats.crossJoin(bcast(topk, "LIMIT-k head")).select(
        "n_keys", "n_rows", "max_key_rows", "avg_key_rows", "skew_factor",
        "rank", "hot_key", "hot_key_rows",
    )


@spark_query("q_plan_self_audit")  # rows-only: physical-plan strings
# are engine-specific by definition — no DuckDB twin exists
def q_plan_self_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine auditing ITSELF: compile (never execute) a panel of
    its own flagship queries and report the scale-critical plan
    properties as data — pushed-down filters, broadcast-join count,
    map-side partial aggregation, whole-stage codegen, and whether
    any Python evaluator leaked into the plan.  This is
    tests/test_plans.py exposed as a runtime surface: a deployment
    can assert its OWN plans after a Spark upgrade or a conf change,
    on the real cluster, without running a row of data (compilation
    is driver-only).

    The panel spans the plan families: pushdown scan, broadcast star
    join, partial-agg rollup, window top-k, banded dedup join."""
    from ..plans import (
        broadcast_join_count,
        has_partial_aggregation,
        physical_plan,
        pushed_filters,
        uses_python_eval,
    )
    from ..registry import QUERIES

    panel = [
        "q_scan_project_filter",
        "q_join_5way_star",
        "q_agg_pricing_summary",
        "q_topk_per_group",
        "q_dedup_chunk_prune",
    ]
    rows = []
    for key in panel:
        df = QUERIES[key](spark, sf_dir)
        plan = physical_plan(df)
        rows.append(
            (
                key,
                len(pushed_filters(df)) > 0,
                broadcast_join_count(df),
                has_partial_aggregation(df),
                "WholeStageCodegen" in plan,
                uses_python_eval(df),
            )
        )
    return local_frame(
        spark,
        rows,
        "query STRING, has_pushdown BOOLEAN, n_broadcast_joins INT, "
        "has_partial_agg BOOLEAN, has_wscg BOOLEAN, python_in_plan BOOLEAN",
    )


# Deterministic-Laplace DP release parameters.  The "noise" is a
# fixed pseudo-random draw derived from an explicit affine hash of the
# cell's rank — the same no-RAND() discipline every sampler in this
# repo follows (q_sample_weighted's inverse-CDF trick, applied to the
# Laplace distribution), so both engines release identical values.
DP_EPSILONS = (0.5, 2.0)
DP_P = 1_000_003
DP_A = 48271
DP_B = 12345


@spark_query(
    "q_dp_noisy_counts",
    oracle=f"""
WITH cells AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count,
         ROW_NUMBER() OVER (ORDER BY event_type) AS gid
  FROM events GROUP BY event_type
),
eps AS (SELECT UNNEST(ARRAY[{", ".join(str(e) for e in DP_EPSILONS)}]) AS epsilon),
draws AS (
  SELECT c.event_type, c.true_count, e.epsilon,
         ((c.gid * 1000 + CAST(e.epsilon * 10 AS BIGINT)) * {DP_A} + {DP_B})
           % {DP_P} AS r
  FROM cells c CROSS JOIN eps e
),
noised AS (
  SELECT event_type, true_count, epsilon,
         (r + 0.5) / {DP_P} - 0.5 AS s,
         CASE WHEN (r + 0.5) / {DP_P} - 0.5 < 0 THEN 1.0 ELSE -1.0 END
           * (1.0 / epsilon)
           * LN(1.0 - 2.0 * ABS((r + 0.5) / {DP_P} - 0.5)) AS noise
  FROM draws
)
SELECT event_type, epsilon, true_count,
       CAST(ROUND(true_count + noise, 4) AS DOUBLE) + 0.0 AS noisy_count,
       CAST(ROUND(ABS(noise), 4) AS DOUBLE) + 0.0 AS abs_noise,
       'laplace-deterministic-demo' AS mechanism
FROM noised
ORDER BY event_type, epsilon
""",
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release: per-event-type counts
    with Laplace(1/ε) noise at two privacy budgets — the mechanism a
    pipeline uses to publish corpus statistics (per-domain doc
    counts, token histograms) without leaking individual rows.
    Count queries have sensitivity 1, so scale b = 1/ε; ε=0.5 is the
    conservative release, ε=2.0 the loose one, and emitting both
    makes the privacy/utility trade visible in one result.

    The Laplace draw is the inverse-CDF transform
    ``-b·sign(s)·ln(1-2|s|)`` of a uniform s ∈ (-0.5, 0.5).  THIS
    REGISTERED QUERY IS NOT A PRIVATE RELEASE (r5 ADVICE): s comes
    from a deterministic affine hash of the cell's rank so the output
    hash-matches the oracle, which makes the "noise" publicly
    recomputable and invertible.  The emitted ``mechanism`` column
    says so ('laplace-deterministic-demo'), and ``dp_noisy_counts``
    accepts an injectable ``uniform`` column so a production caller
    supplies a CSPRNG-backed draw (mechanism then reads
    'laplace-injected-rng') with an identical plan.

    Plan: one groupBy for the cells (output-cardinality-bounded), a
    literal-array explode for the ε sweep, pure codegen math after
    that — the noise step adds zero shuffles at any scale.

    Determinism: integer affine hash; one LN per cell of a double
    that is an exact ratio plus exact halves; rounded outputs.
    """
    return dp_noisy_counts(spark, sf_dir)


def dp_noisy_counts(spark: SparkSession, sf_dir: str, uniform=None) -> DataFrame:
    """Laplace-histogram release with an injectable uniform source.

    ``uniform``: optional Column evaluating to s ∈ (-0.5, 0.5) per
    (cell, epsilon) row — pass e.g. ``F.rand() - 0.5`` seeded from a
    CSPRNG for an actual DP release.  ``None`` (the registered demo)
    uses the deterministic affine hash, which provides NO privacy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("event_type")
    cells = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        .withColumn("gid", F.row_number().over(w))
    )
    eps = F.explode(
        F.array(*[F.lit(float(e)) for e in DP_EPSILONS])
    ).alias("epsilon")
    draws = cells.select("event_type", "true_count", "gid", eps)
    if uniform is None:
        mechanism = "laplace-deterministic-demo"
        r = (
            (F.col("gid") * 1000 + (F.col("epsilon") * 10).cast("long")) * DP_A
            + DP_B
        ) % DP_P
        s = (r + 0.5) / DP_P - 0.5
    else:
        mechanism = "laplace-injected-rng"
        s = uniform
    draws = draws.withColumn("s", s)
    s = F.col("s")
    noise = (
        F.when(s < 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * (1.0 / F.col("epsilon"))
        * F.log(1.0 - 2.0 * F.abs(s))
    )
    return (
        draws.withColumn("noise", noise)
        .select(
            "event_type",
            "epsilon",
            "true_count",
            (
                F.round(F.col("true_count") + F.col("noise"), 4)
                .cast("double")
                + F.lit(0.0)
            ).alias("noisy_count"),
            (F.round(F.abs("noise"), 4).cast("double") + F.lit(0.0)).alias(
                "abs_noise"
            ),
            F.lit(mechanism).alias("mechanism"),
        )
        .orderBy("event_type", "epsilon")
    )
