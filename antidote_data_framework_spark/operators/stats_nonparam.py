"""Nonparametric tests and change detection — the distribution-free
leg of the hypothesis-test family (chi-square / Welch-t / ANOVA-F in
profiling.py assume parametric forms; Mann-Whitney, Kolmogorov-Smirnov
and CUSUM do not), plus multiple-testing control (Benjamini-Hochberg)
and serial-correlation diagnostics (ACF).

Determinism discipline (README §Determinism): every rank / ECDF /
cumulative statistic is computed on EXACT integer cents with exact
BIGINT arithmetic; doubles appear only in the final k-row scalar
algebra, written with identical operation order in the Spark plan and
the DuckDB oracle so both engines produce bit-equal IEEE results.

Scale shape shared by the rank tests: ranks are NOT assigned per row
(a global sort of 100 TB) but per DISTINCT VALUE — the value domain of
a 2-decimal metric is bounded (~50k cents cells here) independent of
row count, so the plan is one map-side-combined groupBy at scan speed
followed by a window over a domain-bounded table.  This is the
standard trick for exact rank statistics at scale: tie-grouped average
ranks from cumulative counts, never a row-level sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table


def _cents() -> F.Column:
    return F.round(F.col("value") * 100, 0).cast("long")


@spark_query(
    "q_mann_whitney_u",
    oracle="""
WITH pts AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('purchase', 'click')
),
byval AS (
  SELECT c,
         CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM pts GROUP BY c
),
w AS (
  SELECT na, nb, na + nb AS t,
         COALESCE(SUM(na + nb) OVER (
           ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cumprev
  FROM byval
),
agg AS (
  SELECT CAST(SUM(na * (2 * cumprev + t + 1)) AS BIGINT) AS r2a,
         CAST(SUM(na) AS BIGINT) AS na_t,
         CAST(SUM(nb) AS BIGINT) AS nb_t,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM w
)
SELECT na_t AS n_a, nb_t AS n_b,
       ROUND(CAST(r2a - na_t * (na_t + 1) AS DOUBLE) / 2.0, 1) AS u_stat,
       ROUND(
         (CAST(r2a - na_t * (na_t + 1) AS DOUBLE) / 2.0
          - CAST(na_t * nb_t AS DOUBLE) / 2.0)
         / SQRT(CAST(na_t * nb_t AS DOUBLE) / 12.0
                * (CAST(na_t + nb_t AS DOUBLE) + 1.0
                   - CAST(tie3 AS DOUBLE)
                     / (CAST(na_t + nb_t AS DOUBLE)
                        * (CAST(na_t + nb_t AS DOUBLE) - 1.0)))),
         4) AS z_score,
       ROUND(1.0 - 2.0 * (CAST(r2a - na_t * (na_t + 1) AS DOUBLE) / 2.0)
                   / CAST(na_t * nb_t AS DOUBLE), 6) AS rank_biserial
FROM agg
""",
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase and click
    values — "do two groups differ in location?" without assuming
    normality, the robust sibling of q_ab_welch_ttest.

    Rank assignment is the scale-critical step: instead of ranking
    60k (or 60B) rows, rows collapse to per-CENTS-VALUE counts
    (na, nb) — one partial-aggregated groupBy — and the tie-grouped
    average rank of a cell falls out of the cumulative count:
    2*avg_rank = 2*cum_prev + t + 1 (kept doubled so everything stays
    in exact BIGINT; halving happens once, in the final scalar row).
    The window runs over the domain-bounded value table (<=50k cells
    regardless of SF).  Tie correction sum(t^3 - t) comes from the
    same pass.  z uses the normal approximation with tie-corrected
    variance; rank-biserial r = 1 - 2U/(na*nb) is the effect size."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        _cents().alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    byval = pts.groupBy("c").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("nb"),
    )
    win = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    w = byval.select(
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("t"),
        F.coalesce(
            F.sum(F.col("na") + F.col("nb")).over(win), F.lit(0)
        ).alias("cumprev"),
    )
    agg = w.agg(
        F.sum(F.col("na") * (2 * F.col("cumprev") + F.col("t") + 1))
        .cast("bigint")
        .alias("r2a"),
        F.sum("na").cast("bigint").alias("na_t"),
        F.sum("nb").cast("bigint").alias("nb_t"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    u_a = (F.col("r2a") - F.col("na_t") * (F.col("na_t") + 1)).cast("double") / 2.0
    prod_ab = (F.col("na_t") * F.col("nb_t")).cast("double")
    nn = (F.col("na_t") + F.col("nb_t")).cast("double")
    var = prod_ab / 12.0 * (
        nn + 1.0 - F.col("tie3").cast("double") / (nn * (nn - 1.0))
    )
    return agg.select(
        F.col("na_t").alias("n_a"),
        F.col("nb_t").alias("n_b"),
        F.round(u_a, 1).alias("u_stat"),
        F.round((u_a - prod_ab / 2.0) / F.sqrt(var), 4).alias("z_score"),
        F.round(1.0 - 2.0 * u_a / prod_ab, 6).alias("rank_biserial"),
    )


@spark_query(
    "q_ks_two_sample",
    oracle="""
WITH pts AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('purchase', 'view')
),
byval AS (
  SELECT c,
         CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM pts GROUP BY c
),
cum AS (
  SELECT
    CAST(SUM(na) OVER (
      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_a,
    CAST(SUM(nb) OVER (
      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_b
  FROM byval
),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS na_t, CAST(SUM(nb) AS BIGINT) AS nb_t
  FROM byval
),
dmax AS (
  SELECT t.na_t, t.nb_t,
         MAX(ABS(c.cum_a * t.nb_t - c.cum_b * t.na_t)) AS d_num
  FROM cum c CROSS JOIN tot t
  GROUP BY t.na_t, t.nb_t
)
SELECT na_t AS n_a, nb_t AS n_b,
       ROUND(CAST(d_num AS DOUBLE) / CAST(na_t * nb_t AS DOUBLE), 6) AS d_stat,
       ROUND(1.358 * SQRT(CAST(na_t + nb_t AS DOUBLE)
                          / CAST(na_t * nb_t AS DOUBLE)), 6) AS d_crit_05,
       (CAST(d_num AS DOUBLE) / CAST(na_t * nb_t AS DOUBLE)
        > 1.358 * SQRT(CAST(na_t + nb_t AS DOUBLE)
                       / CAST(na_t * nb_t AS DOUBLE))) AS reject_05
FROM dmax
""",
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov: the maximum ECDF gap between
    purchase and view values — the standard "did the distribution
    shift?" test (vs q_psi_drift's binned divergence, KS is binless
    and exact).

    Exactness trick: the ECDF difference |F_a(x) - F_b(x)| is kept as
    the INTEGER cross-multiplied gap |cum_a*nb - cum_b*na| so the max
    is found in exact BIGINT arithmetic over the domain-bounded value
    table; the single division by na*nb happens once in the 1-row
    result.  (cum*count products stay < 2^53 up to ~3e7 rows/side;
    beyond that promote to DECIMAL(38,0) — noted, not needed at any
    fixture SF.)  Critical value is the large-sample c(0.05)=1.358
    Smirnov threshold."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        _cents().alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    byval = pts.groupBy("c").agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("nb"),
    )
    win = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = byval.select(
        F.sum("na").over(win).cast("bigint").alias("cum_a"),
        F.sum("nb").over(win).cast("bigint").alias("cum_b"),
    )
    tot = byval.agg(
        F.sum("na").cast("bigint").alias("na_t"),
        F.sum("nb").cast("bigint").alias("nb_t"),
    )
    dmax = (
        cum.crossJoin(bcast(tot, "1-row total aggregate"))
        .groupBy("na_t", "nb_t")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("nb_t")
                    - F.col("cum_b") * F.col("na_t")
                )
            ).alias("d_num")
        )
    )
    prod = (F.col("na_t") * F.col("nb_t")).cast("double")
    d_stat = F.col("d_num").cast("double") / prod
    d_crit = 1.358 * F.sqrt((F.col("na_t") + F.col("nb_t")).cast("double") / prod)
    return dmax.select(
        F.col("na_t").alias("n_a"),
        F.col("nb_t").alias("n_b"),
        F.round(d_stat, 6).alias("d_stat"),
        F.round(d_crit, 6).alias("d_crit_05"),
        (d_stat > d_crit).alias("reject_05"),
    )


@spark_query(
    "q_bh_fdr_discoveries",
    oracle="""
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                  * CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS ss
  FROM events
),
cells AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY user_id, event_type
  HAVING COUNT(*) >= 10
),
scored AS (
  SELECT c.user_id, c.event_type, c.n,
         LEAST(1.0, 2.0 / (1.0 +
           CAST(c.n AS DOUBLE)
           * (CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE)
              - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
           * (CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE)
              - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
           / (CAST(g.ss AS DOUBLE) / CAST(g.n AS DOUBLE)
              - (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
                * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
         )) AS p_bound
  FROM cells c CROSS JOIN g g
),
ranked AS (
  SELECT user_id, event_type, n, p_bound,
         CAST(ROW_NUMBER() OVER (
           ORDER BY p_bound, user_id, event_type
         ) AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM scored
),
cut AS (
  SELECT COALESCE(MAX(CASE WHEN p_bound * m <= rnk * 0.25
                           THEN rnk ELSE NULL END), 0) AS k_star
  FROM ranked
)
SELECT r.rnk AS rank, r.user_id, r.event_type, r.n,
       ROUND(r.p_bound, 6) AS p_bound,
       ROUND(r.rnk * 0.25 / r.m, 6) AS bh_threshold,
       r.m AS n_tests,
       (r.rnk <= c.k_star) AS rejected
FROM ranked r CROSS JOIN cut c
ORDER BY r.rnk
LIMIT 25
""",
)
def q_bh_fdr_discoveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over per-(user, event_type)
    mean-deviation tests — the multiple-testing layer every metrics
    platform needs once it runs thousands of per-segment tests.

    Each cell with n>=10 events is tested against the global mean via
    the distribution-free Cantelli bound p <= 2/(1+z^2) with
    z^2 = n*(xbar-mu)^2/sigma^2 — RATIONAL arithmetic end-to-end (no
    erf/CDF, whose libm rounding differs across engines), so p-values
    are bit-identical and conservative (the fixture is null, so ~zero
    discoveries is the CORRECT output; the operator's value is the
    mechanics).  BH is two windows over the m-row test table: rank by
    p, k* = max rank with p_(k) <= k*q/m (q=0.25), reject rank <= k*.
    Scale: tests are one groupBy over the fact table; the BH sort is
    over m tests (segments), not rows — m is cardinality-bounded.
    Output: the 25 smallest-p tests with thresholds and verdicts."""
    ev = load_table(spark, sf_dir, "events")
    c = _cents()
    gstats = ev.select(c.alias("c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("gn"),
        F.sum("c").cast("bigint").alias("gs"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("gss"),
    )
    cells = (
        ev.select("user_id", "event_type", c.alias("c"))
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
        )
        .filter(F.col("n") >= 10)
    )
    mu = F.col("gs").cast("double") / F.col("gn").cast("double")
    sig2 = (
        F.col("gss").cast("double") / F.col("gn").cast("double") - mu * mu
    )
    dev = F.col("s").cast("double") / F.col("n").cast("double") - mu
    z2 = F.col("n").cast("double") * dev * dev / sig2
    scored = cells.crossJoin(bcast(gstats, "1-row global-moment aggregate")).select(
        "user_id",
        "event_type",
        "n",
        F.least(F.lit(1.0), 2.0 / (1.0 + z2)).alias("p_bound"),
    )
    ranked = scored.select(
        "user_id",
        "event_type",
        "n",
        "p_bound",
        F.row_number()
        .over(Window.orderBy("p_bound", "user_id", "event_type"))
        .cast("bigint")
        .alias("rnk"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_bound") * F.col("m") <= F.col("rnk") * 0.25,
                    F.col("rnk"),
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("k_star")
    )
    return (
        ranked.crossJoin(bcast(cut, "1-row BH-cutoff agg"))
        .select(
            F.col("rnk").alias("rank"),
            "user_id",
            "event_type",
            "n",
            F.round("p_bound", 6).alias("p_bound"),
            F.round(F.col("rnk") * 0.25 / F.col("m"), 6).alias("bh_threshold"),
            F.col("m").alias("n_tests"),
            (F.col("rnk") <= F.col("k_star")).alias("rejected"),
        )
        .orderBy("rank")
        .limit(25)
    )


@spark_query(
    "q_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily
),
r AS (
  SELECT d.day, d.x, t.nd, t.sx, t.sxx,
         CAST(SUM(t.nd * d.x - t.sx) OVER (
           ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS rt
  FROM daily d CROSS JOIN tot t
),
s AS (
  SELECT day, x, nd, sx, sxx, rt,
         LEAST(CAST(MIN(rt) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT), 0) AS runmin,
         GREATEST(CAST(MAX(rt) OVER (
           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT), 0) AS runmax
  FROM r
)
SELECT day,
       ROUND(CAST(x AS DOUBLE) / 100.0, 2) AS daily_dollars,
       ROUND(CAST(rt - runmin AS DOUBLE)
             / CAST(nd AS DOUBLE) / 100.0, 4) AS cusum_pos,
       ROUND(CAST(runmax - rt AS DOUBLE)
             / CAST(nd AS DOUBLE) / 100.0, 4) AS cusum_neg,
       (CAST(rt - runmin AS DOUBLE) / CAST(nd AS DOUBLE)
        > 3.0 * SQRT(CAST(sxx AS DOUBLE) / CAST(nd AS DOUBLE)
                     - (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))))
         AS alarm_pos,
       (CAST(runmax - rt AS DOUBLE) / CAST(nd AS DOUBLE)
        > 3.0 * SQRT(CAST(sxx AS DOUBLE) / CAST(nd AS DOUBLE)
                     - (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))))
         AS alarm_neg
FROM s
ORDER BY day
""",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM change-point detector over the daily purchase
    revenue series — "did the level shift, and when?", the sequential
    complement to q_events_anomaly_zscore's pointwise outliers and
    q_psi_drift's batch drift.

    The textbook recursion S+_t = max(0, S+_{t-1} + (x_t - target))
    looks inherently sequential; it is not.  With R_t = cumsum(x -
    target), S+_t = R_t - min(0, min_{j<=t} R_j) and S-_t = max(0,
    max_{j<=t} R_j) - R_t — a cumulative sum plus a running extremum,
    BOTH plain window functions (and O(1)-state if streamed, same
    shape as q_stream_ewma_stateful).  Exactness: target = the series
    mean sx/nd is rational, so everything is scaled through by nd —
    R_t = cumsum(nd*x_t - sx) stays exact BIGINT; division by nd
    happens only in the per-day display columns.  Alarm level h =
    3*sd(daily).  The window is over the DAY-bounded series (30 rows
    here, 36.5k for a century), not over events."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.sum(_cents()).cast("bigint").alias("x"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    win = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    r = daily.crossJoin(bcast(tot, "1-row total aggregate")).select(
        "day",
        "x",
        "nd",
        "sx",
        "sxx",
        F.sum(F.col("nd") * F.col("x") - F.col("sx"))
        .over(win)
        .cast("bigint")
        .alias("rt"),
    )
    s = r.select(
        "day",
        "x",
        "nd",
        "sx",
        "sxx",
        "rt",
        F.least(F.min("rt").over(win).cast("bigint"), F.lit(0).cast("bigint")).alias(
            "runmin"
        ),
        F.greatest(
            F.max("rt").over(win).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("runmax"),
    )
    nd = F.col("nd").cast("double")
    sd = F.sqrt(
        F.col("sxx").cast("double") / nd
        - (F.col("sx").cast("double") / nd) * (F.col("sx").cast("double") / nd)
    )
    s_pos = (F.col("rt") - F.col("runmin")).cast("double") / nd
    s_neg = (F.col("runmax") - F.col("rt")).cast("double") / nd
    return s.select(
        "day",
        F.round(F.col("x").cast("double") / 100.0, 2).alias("daily_dollars"),
        F.round(s_pos / 100.0, 4).alias("cusum_pos"),
        F.round(s_neg / 100.0, 4).alias("cusum_neg"),
        (s_pos > 3.0 * sd).alias("alarm_pos"),
        (s_neg > 3.0 * sd).alias("alarm_neg"),
    ).orderBy("day")


@spark_query(
    "q_autocorr_acf",
    oracle="""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS sx
  FROM daily
),
centered AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY d.day) AS BIGINT) AS idx,
         CAST(t.nd * d.x - t.sx AS DECIMAL(19,0)) AS y
  FROM daily d CROSS JOIN tot t
),
den AS (
  SELECT CAST(SUM(y * y) AS DECIMAL(38,0)) AS d FROM centered
),
lags AS (SELECT UNNEST([1, 2, 3, 7]) AS lag),
num AS (
  SELECT l.lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(a.y * b.y) AS DECIMAL(38,0)) AS num
  FROM lags l
  JOIN centered a ON TRUE
  JOIN centered b ON b.idx = a.idx - l.lag
  GROUP BY l.lag
)
SELECT n.lag, n.n_pairs,
       ROUND(CAST(n.num AS DOUBLE) / CAST(d.d AS DOUBLE), 6) AS acf
FROM num n CROSS JOIN den d
ORDER BY n.lag
""",
)
def q_autocorr_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1, 2, 3, 7
    — the seasonality/persistence diagnostic behind q_seasonal_baseline
    (is there a weekly cycle worth modeling?).

    r_k = sum(y_t * y_{t-k}) / sum(y^2) with y = centered series.
    Exactness: centering by the rational mean sx/nd is scaled through
    by nd — y_t = nd*x_t - sx is exact BIGINT; cross-products are
    accumulated in DECIMAL(19,0)*DECIMAL(19,0) -> DECIMAL(38,0), so
    numerator and denominator are EXACT integers in both engines and
    the single double division is bit-identical (distributed float
    summation order can never matter).  The lagged pairing is an
    equi-join on the day index of the DAY-bounded series (30 rows
    here) against a 4-row lag dimension — at any SF this is driver-
    trivial after one scan-speed groupBy over the fact table."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum(_cents()).cast("bigint").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    # The day-bounded centered series feeds den + both lag-join sides;
    # without a materialization point each of the three consumers (and
    # tot above them) re-ran the events scan + daily aggregation — the
    # before plan shows 12 scan nodes for a ~30-row series (r12,
    # guide §5).  One eager checkpoint makes them in-memory reads.
    centered = (
        daily.crossJoin(bcast(tot, "1-row total aggregate"))
        .select(
            F.row_number().over(Window.orderBy("day")).cast("bigint").alias("idx"),
            (F.col("nd") * F.col("x") - F.col("sx"))
            .cast("decimal(19,0)")
            .alias("y"),
        )
        .localCheckpoint()
    )
    den = centered.agg(
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("d")
    )
    lags = local_frame(spark, [(1,), (2,), (3,), (7,)], "lag BIGINT")
    a, b = centered.alias("a"), centered.alias("b")
    num = (
        bcast(lags, "literal lag dim (4 rows)")
        .join(a, F.lit(True))
        .join(b, F.col("b.idx") == F.col("a.idx") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("a.y") * F.col("b.y"))
            .cast("decimal(38,0)")
            .alias("num"),
        )
    )
    return (
        num.crossJoin(bcast(den, "1-row ACF-denominator agg"))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("d").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


@spark_query(
    "q_wilcoxon_signed_rank",
    oracle="""
WITH cells AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sp,
         CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT) AS sc,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS nc
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY user_id
  HAVING COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
     AND COUNT(CASE WHEN event_type = 'click' THEN 1 END) > 0
),
diffs AS (
  SELECT user_id,
         CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)
         - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS d
  FROM cells
),
ranked AS (
  SELECT d,
         CAST(ROW_NUMBER() OVER (ORDER BY ABS(d), user_id) AS BIGINT) AS rnk
  FROM diffs WHERE d <> 0.0
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN d > 0.0 THEN rnk ELSE 0 END) AS BIGINT) AS w_plus
  FROM ranked
)
SELECT n, w_plus,
       ROUND((CAST(w_plus AS DOUBLE)
              - CAST(n * (n + 1) AS DOUBLE) / 4.0)
             / SQRT(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0),
             4) AS z_score
FROM agg
""",
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user differences (mean
    purchase value vs mean click value, users observing both) — the
    paired companion to q_mann_whitney_u's independent-samples test,
    completing the nonparametric family.

    The pairing aggregate is one conditional groupBy over the fact
    table (scan speed, entity-bounded output); differences are exact
    rationals (integer sums divided once), zero differences dropped
    per the textbook procedure.  |d| ranking uses row_number with a
    user_id tie-break: the differences are continuous rationals with
    user-specific denominators, so exact |d| ties are measure-zero —
    and if one ever occurred, the tie-break keeps both engines
    IDENTICALLY ordered (determinism over textbook average-ranks is
    the right trade here; the z correction for ties is zero when no
    ties exist).  The ranking window is over USERS (entities), not
    events — bounded independent of fact-table scale."""
    ev = load_table(spark, sf_dir, "events")
    c = _cents()
    cells = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select("user_id", "event_type", c.alias("c"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("c")))
            .cast("bigint")
            .alias("sp"),
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            .cast("bigint")
            .alias("np"),
            F.sum(F.when(F.col("event_type") == "click", F.col("c")))
            .cast("bigint")
            .alias("sc"),
            F.count(F.when(F.col("event_type") == "click", F.lit(1)))
            .cast("bigint")
            .alias("nc"),
        )
        .filter((F.col("np") > 0) & (F.col("nc") > 0))
    )
    diffs = cells.select(
        "user_id",
        (
            F.col("sp").cast("double") / F.col("np").cast("double")
            - F.col("sc").cast("double") / F.col("nc").cast("double")
        ).alias("d"),
    ).filter(F.col("d") != 0.0)
    ranked = diffs.select(
        "d",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("d")), F.col("user_id")))
        .cast("bigint")
        .alias("rnk"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("d") > 0.0, F.col("rnk")).otherwise(0))
        .cast("bigint")
        .alias("w_plus"),
    )
    nn = F.col("n")
    return agg.select(
        "n",
        "w_plus",
        F.round(
            (
                F.col("w_plus").cast("double")
                - (nn * (nn + 1)).cast("double") / 4.0
            )
            / F.sqrt((nn * (nn + 1) * (2 * nn + 1)).cast("double") / 24.0),
            4,
        ).alias("z_score"),
    )
