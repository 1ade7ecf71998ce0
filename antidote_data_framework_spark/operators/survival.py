"""Survival analysis and journey attribution — Kaplan–Meier curves,
Markov removal-effect attribution, and rolling robust windows over the
events fixture.  Public textbook methods (Kaplan & Meier JASA 1958;
first-order Markov attribution per Anderl et al. 2016's removal
effect; rolling medians are folklore).

Why these are engine operators: "time-to-event with censoring" and
"which channel actually drives conversions" are the two questions
every product-analytics warehouse answers daily, and both reduce to
exact relational dataflows — no sampling, no UDFs:

- Kaplan–Meier: per-subject durations (one groupBy over raw events)
  → per-(group, day) death/censor counts (rows bounded by groups ×
  horizon days, NOT by users) → two cumulative windows.  The survival
  product Π(1−d/n) is computed as exp(Σ ln(1−d/n)) — the log-domain
  cumulative-product trick that turns a product window into the sum
  window both engines implement natively; a boundary flag handles the
  d = n_risk → S = 0 case exactly (Spark's ln(0) is NULL, DuckDB's is
  -inf, so the zero case must never reach ln in either engine).
- Markov attribution: user journeys (truncated at first conversion)
  → transition-count matrix (≤ (|types|+3)² rows — the MODEL is
  structurally tiny even at 100 TB; only the count aggregation sees
  raw events) → per-variant removal redirect → FOUR matrix squarings
  as self-joins (P¹⁶).  The 16-step absorption probability is the
  declared semantic (not the (I−Q)⁻¹ limit): a fixed, finite dataflow
  both engines execute bit-identically, converged far past the
  fixture's ≤ 67-step journeys.
- Rolling median: the windowed twin of q_huber_mean's location
  estimate — exact quantile_cont over a 7-day ROWS frame on the
  per-day pre-aggregate (never over raw events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table
from .robust import _DAILY_CTE, _daily

_CONV_VALUE = 95.0  # "high-value purchase" conversion threshold
_US_PER_DAY = 86_400_000_000.0


@spark_query(
    "q_kaplan_meier",
    oracle=f"""
WITH subj AS (
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
),
tot AS (SELECT grp, COUNT(*) AS n0 FROM dur GROUP BY grp),
tbl AS (
  SELECT grp, t,
         CAST(SUM(ev) AS BIGINT)     AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY grp, t
),
km AS (
  SELECT tbl.grp, t, d, c,
         CAST(tot.n0 - COALESCE(SUM(d + c) OVER (
             PARTITION BY tbl.grp ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM tbl JOIN tot ON tbl.grp = tot.grp
),
km2 AS (
  SELECT grp, t, d, c, n_risk,
         MAX(CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END) OVER (
             PARTITION BY grp ORDER BY t) AS hit_zero,
         SUM(CASE WHEN d > 0 AND d < n_risk
                  THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END)
           OVER (PARTITION BY grp ORDER BY t) AS logsurv
  FROM km
)
SELECT grp, t AS day, n_risk, d AS n_events, c AS n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE ROUND(EXP(logsurv), 4) END AS survival
FROM km2 WHERE d > 0
""",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of "days from a user's first event
    to their first high-value purchase (value > 95)", per fairness
    group (user_id % 2); users who never convert are right-censored
    at their last observed event.  One row per (group, event-day):
    at-risk count, deaths, censored, S(t).

    The survival product is the log-domain cumulative sum described
    in the module docstring; the d = n_risk boundary (S → 0) is
    handled by an explicit cumulative flag so ln never sees 0 on
    either engine."""
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
    tot = dur.groupBy("grp").agg(F.count(F.lit(1)).alias("n0"))
    tbl = dur.groupBy("grp", "t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    wprev = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    km = tbl.join(bcast(tot, "1-row total aggregate"), "grp").withColumn(
        "n_risk",
        (
            F.col("n0")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).cast("bigint"),
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    km2 = km.withColumn(
        "hit_zero",
        F.max(
            F.when((F.col("d") >= F.col("n_risk")) & (F.col("d") > 0), 1).otherwise(0)
        ).over(wcum),
    ).withColumn(
        "logsurv",
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
            ).otherwise(F.lit(0.0))
        ).over(wcum),
    )
    return km2.filter(F.col("d") > 0).select(
        "grp",
        F.col("t").alias("day"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("logsurv"), 4))
        .alias("survival"),
    )


_CHANNELS = ["click", "error", "purchase", "signup", "view"]

_JOURNEY_CTES = """
ev2 AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
),
fp AS (
  SELECT user_id, MIN(seq) AS pseq FROM ev2
  WHERE event_type = 'purchase' GROUP BY user_id
),
j AS (
  SELECT e.user_id, e.event_type, e.seq
  FROM ev2 e LEFT JOIN fp ON e.user_id = fp.user_id
  WHERE fp.pseq IS NULL OR e.seq <= fp.pseq
),
pairs AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY seq),
                  'start') AS f,
         event_type AS t
  FROM j
  UNION ALL
  SELECT event_type AS f,
         CASE WHEN event_type = 'purchase' THEN 'conv' ELSE 'drop' END AS t
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rr
    FROM j
  ) lastev WHERE rr = 1
),
cnt AS (SELECT f, t, COUNT(*) AS c FROM pairs GROUP BY f, t),
base AS (
  SELECT f, t, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY f) AS p
  FROM cnt
  UNION ALL SELECT 'conv', 'conv', 1.0
  UNION ALL SELECT 'drop', 'drop', 1.0
)"""


@spark_query(
    "q_markov_attribution",
    oracle=f"""
WITH {_JOURNEY_CTES.strip()},
variants(v) AS (VALUES ('base'), ('click'), ('error'), ('purchase'), ('signup'), ('view')),
m0 AS (
  SELECT v.v, b.f,
         CASE WHEN v.v <> 'base' AND b.t = v.v THEN 'drop' ELSE b.t END AS t,
         SUM(b.p) AS p
  FROM variants v CROSS JOIN base b
  GROUP BY v.v, b.f, 3
),
m1 AS (SELECT a.v, a.f, b.t, SUM(a.p * b.p) AS p
       FROM m0 a JOIN m0 b ON a.v = b.v AND a.t = b.f GROUP BY a.v, a.f, b.t),
m2 AS (SELECT a.v, a.f, b.t, SUM(a.p * b.p) AS p
       FROM m1 a JOIN m1 b ON a.v = b.v AND a.t = b.f GROUP BY a.v, a.f, b.t),
m3 AS (SELECT a.v, a.f, b.t, SUM(a.p * b.p) AS p
       FROM m2 a JOIN m2 b ON a.v = b.v AND a.t = b.f GROUP BY a.v, a.f, b.t),
m4 AS (SELECT a.v, a.f, b.t, SUM(a.p * b.p) AS p
       FROM m3 a JOIN m3 b ON a.v = b.v AND a.t = b.f GROUP BY a.v, a.f, b.t),
res AS (
  SELECT vv.v, COALESCE(hit.p, 0.0) AS p
  FROM variants vv LEFT JOIN (
    SELECT v, p FROM m4 WHERE f = 'start' AND t = 'conv'
  ) hit ON vv.v = hit.v
)
SELECT r.v AS channel,
       ROUND(b.p, 4) AS conv_base,
       ROUND(r.p, 4) AS conv_removed,
       ROUND((b.p - r.p) / b.p, 4) AS removal_effect
FROM res r CROSS JOIN (SELECT p FROM res WHERE v = 'base') b
WHERE r.v <> 'base'
""",
)
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov channel attribution with removal effects:
    user journeys truncated at first purchase feed a transition
    matrix over {{start, 5 event types, conv, drop}}; each channel's
    removal redirects its inbound mass to drop; conversion
    probability is 16-step absorption from 'start' (four matrix
    squarings — the declared, engine-identical semantic; journeys are
    ≤ tens of steps so P¹⁶ is fully converged).  Output per channel:
    base/removed conversion probability and the normalized removal
    effect — the channel's Markov attribution weight.

    Scale: raw events are touched exactly once (the journey + count
    aggregation); everything after is algebra on a ≤ 8×8-row model
    per variant — 6 tiny self-join squarings Spark broadcasts
    automatically."""
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev2 = ev.select(
        "user_id", "event_type", F.row_number().over(wseq).alias("seq")
    )
    fp = (
        ev2.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("seq").alias("pseq"))
    )
    j = ev2.join(fp, "user_id", "left").filter(
        F.col("pseq").isNull() | (F.col("seq") <= F.col("pseq"))
    )
    wlag = Window.partitionBy("user_id").orderBy("seq")
    inner = j.select(
        F.coalesce(F.lag("event_type").over(wlag), F.lit("start")).alias("f"),
        F.col("event_type").alias("t"),
    )
    wlast = Window.partitionBy("user_id").orderBy(F.desc("seq"))
    terminal = (
        j.withColumn("rr", F.row_number().over(wlast))
        .filter(F.col("rr") == 1)
        .select(
            F.col("event_type").alias("f"),
            F.when(F.col("event_type") == "purchase", F.lit("conv"))
            .otherwise(F.lit("drop"))
            .alias("t"),
        )
    )
    cnt = inner.unionAll(terminal).groupBy("f", "t").agg(F.count(F.lit(1)).alias("c"))

    # Everything downstream of the count aggregation is algebra on a
    # ≤ (|types|+3)²-row model — STRUCTURALLY BOUNDED driver state
    # (the same pattern as the IVF centroids / PQ codebooks / k×m
    # antidote block).  Doing the squarings as Spark self-joins was
    # measured at 10-90 s of pure scheduling/lineage overhead for
    # sub-millisecond math; only the journey aggregation above ever
    # sees raw events, so at 100 TB this collect is still ≤ 64 rows.
    import numpy as np

    counts = {(r["f"], r["t"]): r["c"] for r in cnt.collect()}
    states = ["start"] + _CHANNELS + ["conv", "drop"]
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    P = np.zeros((n, n))
    for (f, t), c in counts.items():
        P[idx[f], idx[t]] = c
    row_sums = P.sum(axis=1)
    for i in range(n):
        if row_sums[i] > 0:
            P[i] /= row_sums[i]
    P[idx["conv"], idx["conv"]] = 1.0
    P[idx["drop"], idx["drop"]] = 1.0

    def conv16(mat: "np.ndarray") -> float:
        m = mat.copy()
        for _ in range(4):  # P^2, P^4, P^8, P^16 — same unroll as the oracle
            m = m @ m
        return float(m[idx["start"], idx["conv"]])

    base_p = conv16(P)
    out = []
    for ch in _CHANNELS:
        R = P.copy()
        # removal: redirect all mass entering the channel to 'drop'
        R[:, idx["drop"]] += R[:, idx[ch]]
        R[:, idx[ch]] = 0.0
        R[idx["conv"], idx["conv"]] = 1.0
        R[idx["drop"], idx["drop"]] = 1.0
        removed_p = conv16(R)
        out.append(
            (
                ch,
                round(base_p, 4),
                round(removed_p, 4),
                round((base_p - removed_p) / base_p, 4),
            )
        )
    return local_frame(
        spark,
        out,
        "channel STRING, conv_base DOUBLE, conv_removed DOUBLE, removal_effect DOUBLE",
    )


@spark_query(
    "q_rolling_median",
    oracle=f"""
WITH {_DAILY_CTE.strip()}
SELECT event_type, d,
       ROUND(quantile_cont(y, 0.5) OVER w, 4) AS roll_median,
       ROUND(AVG(y) OVER w, 4)                AS roll_mean,
       CAST(COUNT(*) OVER w AS BIGINT)        AS n_window
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day exact median + mean of each event_type's daily
    total — the robust smoother next to q_ewma_smooth's exponential
    one.  Runs on the per-day pre-aggregate (≤ horizon rows per
    group), so the exact in-frame percentile buffer is bounded by the
    frame, never by raw event count."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "d",
        F.round(F.percentile("y", F.lit(0.5)).over(w), 4).alias("roll_median"),
        F.round(F.avg("y").over(w), 4).alias("roll_mean"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_window"),
    )
