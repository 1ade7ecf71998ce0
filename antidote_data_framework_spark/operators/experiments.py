"""Experimentation analytics — log-rank survival comparison, exact
Shapley-value channel attribution, and CUPED variance reduction.
Public textbook methods (Mantel 1966 log-rank; Shapley 1953 applied to
conversion attribution à la Zhao et al. 2018; Deng et al. KDD 2013
CUPED).

These complete two families the engine already carries: Kaplan–Meier
(survival.py) gains its two-sample significance test, and the A/B
toolkit (q_ab_welch_ttest, q_poisson_bootstrap_ci) gains the
variance-reduction step every mature experimentation platform runs
before the t-test.

Scale shapes:

- Log-rank touches raw events once (the per-subject duration groupBy);
  after that it is windows over a (groups × event-days) table — rows
  bounded by the horizon, not the user count.
- Shapley is EXACT here because the coalition space is the power set
  of the 4 touch channels (16 masks): a distributed per-user bitmask
  aggregation → a 16-row value table (STRUCTURALLY BOUNDED at 2^C —
  collected to the driver like the Markov matrix) → a 32-term exact
  marginal sum with factorial weights.  The DuckDB oracle expresses
  the same sum relationally, proving the dataflow is SQL-equivalent.
  (With C channels the value table is 2^C rows: exact Shapley stays
  feasible precisely while 2^C ≪ driver memory — the standard cutoff
  in attribution practice is C ≲ 15-20; beyond that you switch to the
  Markov removal effect, q_markov_attribution, or sampled Shapley.)
- CUPED is three scalar aggregates over a per-user pre/post rollup:
  θ = cov(pre, post)/var(pre), adjusted metric variance, and the
  variance-reduction ratio — one row, all exact covar_pop/var_pop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table

_CONV_VALUE = 95.0
_US_PER_DAY = 86_400_000_000.0

_SUBJ_CTES = f"""
subj AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS t0,
         MAX(epoch_us(ts)) AS tl,
         MIN(CASE WHEN event_type = 'purchase' AND value > {_CONV_VALUE}
                  THEN epoch_us(ts) END) AS tc
  FROM events GROUP BY user_id
),
dur AS (
  SELECT user_id % 2 AS grp,
         CAST(FLOOR((COALESCE(tc, tl) - t0) / {_US_PER_DAY}) AS BIGINT) AS t,
         CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM subj
)"""


@spark_query(
    "q_logrank_test",
    oracle=f"""
WITH {_SUBJ_CTES.strip()},
tbl AS (
  SELECT grp, t, SUM(ev) AS d, COUNT(*) AS r
  FROM dur GROUP BY grp, t
),
tot AS (SELECT grp, COUNT(*) AS n0 FROM dur GROUP BY grp),
days AS (SELECT DISTINCT t FROM tbl WHERE d > 0),
fullt AS (
  -- every exit day AND every pooled death day, per group: the
  -- cumulative-exit window must see censor-only days too
  SELECT grp, t, SUM(d) AS d, SUM(r) AS r FROM (
    SELECT grp, t, d, r FROM tbl
    UNION ALL
    SELECT g.grp, days.t, 0, 0
    FROM days CROSS JOIN (SELECT DISTINCT grp FROM dur) g
  ) u GROUP BY grp, t
),
atrisk0 AS (
  -- window over ALL days (WHERE would run before the window, so the
  -- death-day restriction lives in a separate outer CTE)
  SELECT f.grp, f.t, f.d,
         tot.n0 - COALESCE(SUM(f.r) OVER (
             PARTITION BY f.grp ORDER BY f.t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM fullt f
  JOIN tot ON tot.grp = f.grp
),
atrisk AS (
  SELECT * FROM atrisk0 WHERE t IN (SELECT t FROM days)
),
byt AS (
  SELECT t,
         SUM(d) AS d_all, SUM(n) AS n_all,
         SUM(CASE WHEN grp = 1 THEN d END) AS d1,
         SUM(CASE WHEN grp = 1 THEN n END) AS n1
  FROM atrisk GROUP BY t
),
terms AS (
  SELECT d1 - d_all * n1 / CAST(n_all AS DOUBLE) AS o_minus_e,
         CASE WHEN n_all > 1
              THEN d_all * (n1 / CAST(n_all AS DOUBLE))
                   * (1.0 - n1 / CAST(n_all AS DOUBLE))
                   * (n_all - d_all) / (n_all - 1.0)
              ELSE 0.0 END AS var_t
  FROM byt WHERE n_all > 0
)
SELECT CAST(COUNT(*) AS BIGINT)                      AS n_times,
       ROUND(SUM(o_minus_e), 4)                      AS observed_minus_expected,
       ROUND(SUM(var_t), 4)                          AS variance,
       ROUND(SUM(o_minus_e) * SUM(o_minus_e) / SUM(var_t), 4) AS chi2,
       CASE WHEN SUM(o_minus_e) * SUM(o_minus_e) / SUM(var_t) > 3.841
            THEN 1 ELSE 0 END                        AS significant_95
FROM terms
""",
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test between the fairness groups'
    time-to-high-value-purchase curves (the significance companion to
    q_kaplan_meier): χ² = (Σ(O₁−E₁))²/ΣVar over the pooled event
    days, with the hypergeometric variance at each day; one row with
    the 95% decision against the χ²₁ critical value 3.841 (emitted as
    a flag so no CDF is needed on either engine)."""
    ev = load_table(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("tl"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > _CONV_VALUE),
                F.unix_micros("ts"),
            )
        ).alias("tc"),
    )
    dur = subj.select(
        (F.col("user_id") % 2).alias("grp"),
        F.floor((F.coalesce("tc", "tl") - F.col("t0")) / F.lit(_US_PER_DAY))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("tc").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    # Materialize the (grp, day) life table once (r12, guide §5): tot,
    # times, groups and the exit-union below all consumed `dur`, each
    # re-running the events scan + per-user aggregation (the before
    # plan shows 10 scan nodes).  tbl is groups×days rows — tiny — and
    # every downstream quantity is exactly derivable from it:
    # n0 = Σ_t r (integer sum of the per-day counts = the per-group
    # subject count) and groups(tbl) == groups(dur) because the
    # groupBy is unfiltered.  Eager localCheckpoint per the measured
    # batch-2 result (lazy persists lost on every shape tried).
    tbl = (
        dur.groupBy("grp", "t")
        .agg(F.sum("ev").alias("d"), F.count(F.lit(1)).alias("r"))
        .localCheckpoint()
    )
    tot = tbl.groupBy("grp").agg(F.sum("r").alias("n0"))
    times = tbl.filter(F.col("d") > 0).select("t").distinct()
    groups = tbl.select("grp").distinct()
    grid = groups.crossJoin(bcast(times, "distinct event-day grid, span-bounded"))
    # r5 ADVICE fix: the risk set must shrink at EVERY exit day, not
    # only at pooled death days — subjects censored on a death-free
    # day leave the cohort too.  Union the pooled death-day grid into
    # the full per-(grp, day) exit table so the cumulative-exit window
    # sees all exits, then restrict to pooled death days afterwards.
    full = (
        tbl.select("grp", "t", "d", "r")
        .unionByName(
            grid.select(
                "grp", "t", F.lit(0).cast("bigint").alias("d"), F.lit(0).cast("bigint").alias("r")
            )
        )
        .groupBy("grp", "t")
        .agg(F.sum("d").alias("d"), F.sum("r").alias("r"))
    )
    wprev = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    atrisk = (
        full.join(bcast(tot, "1-row total aggregate"), "grp")
        .select(
            "grp",
            "t",
            "d",
            (
                F.col("n0")
                - F.coalesce(F.sum("r").over(wprev), F.lit(0))
            ).alias("n"),
        )
        .join(bcast(times, "distinct event-day grid, span-bounded"), "t", "semi")
    )
    byt = atrisk.groupBy("t").agg(
        F.sum("d").alias("d_all"),
        F.sum("n").alias("n_all"),
        F.sum(F.when(F.col("grp") == 1, F.col("d"))).alias("d1"),
        F.sum(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
    )
    p1 = F.col("n1") / F.col("n_all").cast("double")
    terms = byt.filter(F.col("n_all") > 0).select(
        (F.col("d1") - F.col("d_all") * p1).alias("o_minus_e"),
        F.when(
            F.col("n_all") > 1,
            F.col("d_all")
            * p1
            * (F.lit(1.0) - p1)
            * (F.col("n_all") - F.col("d_all"))
            / (F.col("n_all") - F.lit(1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("var_t"),
    )
    chi2 = F.sum("o_minus_e") * F.sum("o_minus_e") / F.sum("var_t")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.round(F.sum("o_minus_e"), 4).alias("observed_minus_expected"),
        F.round(F.sum("var_t"), 4).alias("variance"),
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2 > 3.841, F.lit(1)).otherwise(F.lit(0)).alias("significant_95"),
    )


# Touch channels (bit positions) — purchase is the conversion, not a touch.
_TOUCH = ["click", "error", "signup", "view"]
# Shapley weights for n=4 by |S| (size of coalition WITHOUT the player):
# w(s) = s!(n-1-s)!/n! = [1/4, 1/12, 1/12, 1/4] for s = 0..3.
_W = [0.25, 1.0 / 12.0, 1.0 / 12.0, 0.25]

_MASK_CTES = """
ev2 AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
),
fp AS (
  SELECT user_id, MIN(seq) AS pseq FROM ev2
  WHERE event_type = 'purchase' GROUP BY user_id
),
touches AS (
  SELECT e.user_id,
         MAX(CASE WHEN e.event_type = 'click'  THEN 1 ELSE 0 END) AS b0,
         MAX(CASE WHEN e.event_type = 'error'  THEN 2 ELSE 0 END) AS b1,
         MAX(CASE WHEN e.event_type = 'signup' THEN 4 ELSE 0 END) AS b2,
         MAX(CASE WHEN e.event_type = 'view'   THEN 8 ELSE 0 END) AS b3,
         MAX(CASE WHEN fp.pseq IS NOT NULL THEN 1 ELSE 0 END) AS conv
  FROM ev2 e LEFT JOIN fp ON e.user_id = fp.user_id
  WHERE fp.pseq IS NULL OR e.seq < fp.pseq
  GROUP BY e.user_id
),
vmask AS (
  SELECT b0 + b1 + b2 + b3 AS mask,
         COUNT(*) AS n_users,
         SUM(conv) AS n_conv,
         SUM(conv) / CAST(COUNT(*) AS DOUBLE) AS v
  FROM touches GROUP BY 1
),
masks AS (SELECT CAST(range AS INTEGER) AS m FROM range(16)),
vfull AS (
  SELECT m.m, COALESCE(v.v, 0.0) AS v
  FROM masks m LEFT JOIN vmask v ON v.mask = m.m
)"""


@spark_query(
    "q_shapley_attribution",
    oracle=f"""
WITH {_MASK_CTES.strip()},
players(ch, bit) AS (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
marginals AS (
  SELECT p.ch,
         CASE ((s.m & 1) + ((s.m >> 1) & 1) + ((s.m >> 2) & 1) + ((s.m >> 3) & 1))
           WHEN 0 THEN {_W[0]} WHEN 1 THEN {_W[1]}
           WHEN 2 THEN {_W[2]} ELSE {_W[3]} END
           * (vi.v - s.v) AS contrib
  FROM players p
  JOIN vfull s  ON (s.m & p.bit) = 0
  JOIN vfull vi ON vi.m = s.m + p.bit
)
SELECT ch AS channel, ROUND(SUM(contrib), 4) AS shapley_value
FROM marginals GROUP BY ch
""",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value conversion attribution over the 4 touch
    channels: each user's pre-conversion touch set becomes a 4-bit
    mask; v(S) = observed conversion rate of users with exactly that
    touch set (0 for unobserved sets); φ(ch) = Σ_{{S∌ch}} w(|S|)
    (v(S∪ch) − v(S)) enumerated over all 16 coalitions with factorial
    weights as literals.  Complements q_markov_attribution: Shapley
    answers "fair credit split", Markov answers "what breaks if the
    channel disappears"."""
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev2 = ev.select("user_id", "event_type", F.row_number().over(wseq).alias("seq"))
    fp = (
        ev2.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("seq").alias("pseq"))
    )
    touches = (
        ev2.join(fp, "user_id", "left")
        .filter(F.col("pseq").isNull() | (F.col("seq") < F.col("pseq")))
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("event_type") == ch, F.lit(1 << i)).otherwise(0)
                ).alias(f"b{i}")
                for i, ch in enumerate(_TOUCH)
            ],
            F.max(
                F.when(F.col("pseq").isNotNull(), F.lit(1)).otherwise(0)
            ).alias("conv"),
        )
    )
    vmask_rows = (
        touches.groupBy(
            (F.col("b0") + F.col("b1") + F.col("b2") + F.col("b3")).alias("mask")
        )
        .agg(
            (F.sum("conv") / F.count(F.lit(1)).cast("double")).alias("v"),
        )
        .collect()
    )
    # The coalition-value table is STRUCTURALLY BOUNDED at 2^C rows
    # (16 here) — same bounded-driver-state rule as the Markov matrix
    # above: only the touch aggregation is distributed; expressing the
    # 32-term marginal sum as Spark self-joins measured ~4 s of
    # scheduling (the tiny v-table pipeline executes once per join
    # side) for microsecond math.
    v = {r["mask"]: r["v"] for r in vmask_rows}
    out = []
    for i, ch in enumerate(_TOUCH):
        bit = 1 << i
        phi = 0.0
        for s in range(16):
            if s & bit:
                continue
            size = bin(s).count("1")
            phi += _W[size] * (v.get(s + bit, 0.0) - v.get(s, 0.0))
        out.append((ch, round(phi, 4)))
    return local_frame(spark, out, "channel STRING, shapley_value DOUBLE")


@spark_query(
    "q_cuped_adjustment",
    oracle="""
WITH pp AS (
  SELECT user_id,
         SUM(CASE WHEN epoch_us(ts) - first_us < 15 * 86400000000.0
                  THEN value ELSE 0 END) AS pre,
         SUM(CASE WHEN epoch_us(ts) - first_us >= 15 * 86400000000.0
                  THEN value ELSE 0 END) AS post
  FROM (
    SELECT user_id, ts, value,
           MIN(epoch_us(ts)) OVER () AS first_us
    FROM events WHERE event_type = 'purchase'
  ) e
  GROUP BY user_id
),
theta AS (
  SELECT covar_pop(pre, post) / var_pop(pre) AS th, AVG(pre) AS pre_mean
  FROM pp
)
SELECT CAST(COUNT(*) AS BIGINT)                            AS n_users,
       ROUND(MAX(t.th), 4)                                 AS theta,
       ROUND(var_pop(p.post), 4)                           AS var_raw,
       ROUND(var_pop(p.post - t.th * (p.pre - t.pre_mean)), 4) AS var_cuped,
       ROUND(1.0 - var_pop(p.post - t.th * (p.pre - t.pre_mean))
                 / var_pop(p.post), 4)                     AS var_reduction
FROM pp p CROSS JOIN theta t
GROUP BY t.th, t.pre_mean
""",
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction on per-user purchase revenue: pre
    period = first 15 days of the fixture window, post = the rest;
    θ = cov(pre, post)/var(pre); the adjusted metric
    post − θ·(pre − mean(pre)) keeps the same mean but sheds the
    variance the pre-period covariate explains (r² of pre on post).
    One row: θ, raw vs adjusted variance, and the reduction ratio —
    the factor by which q_ab_welch_ttest's sample-size requirement
    shrinks.

    Shape: one groupBy over purchase events (the window MIN is a
    global scalar, broadcast by construction), then scalar aggregates
    over the per-user rollup joined against the 1-row θ."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    first_us = ev.agg(F.min(F.unix_micros("ts")).alias("first_us"))
    split = F.unix_micros("ts") - F.col("first_us")
    pp = (
        ev.crossJoin(bcast(first_us, "1-row first-user agg"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(split < 15 * _US_PER_DAY, F.col("value")).otherwise(0.0)
            ).alias("pre"),
            F.sum(
                F.when(split >= 15 * _US_PER_DAY, F.col("value")).otherwise(0.0)
            ).alias("post"),
        )
    )
    theta = pp.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("th"),
        F.avg("pre").alias("pre_mean"),
    )
    adj = F.col("post") - F.col("th") * (F.col("pre") - F.col("pre_mean"))
    return (
        pp.crossJoin(bcast(theta, "1-row regression-coefficient agg"))
        .groupBy("th", "pre_mean")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.max("th"), 4).alias("theta"),
            F.round(F.var_pop("post"), 4).alias("var_raw"),
            F.round(F.var_pop(adj), 4).alias("var_cuped"),
            F.round(
                F.lit(1.0) - F.var_pop(adj) / F.var_pop("post"), 4
            ).alias("var_reduction"),
        )
        .drop("th", "pre_mean")
    )
