"""Structured Streaming operators — SURVEY.md §2B O-51/O-52.

Streaming twins of the batch event-time windows (operators/eventtime).
Both run a real streaming query over a file source: the batch events
fixture is staged into multiple parquet files and consumed with
``maxFilesPerTrigger=1``, so the watermark advances across several
micro-batches exactly as it would on a live stream.  Results land in a
memory sink and are returned as a DataFrame (rows-only by declaration:
append-mode emission depends on watermark progression, which is a
streaming-runtime property, not ANSI SQL).

In production the same plans read Kafka/cloud storage; nothing below
depends on the source being finite.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import broadcast_small as bcast
from ..functions.local import local_frame

from ..registry import spark_query
from ..sources import load_table

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)

def _staged_schema(spark: SparkSession, src: str):
    """Schema for the file-source stream, read from the staged parquet
    footers themselves (a metadata-only read).  Hard-coding a schema
    literal broke round 2 when the fixtures changed timestamp flavor —
    the staged data is written from ``load_table``'s normalized frame,
    so its own footer is the single source of truth."""
    return spark.read.parquet(src).schema


def _stage_events(
    spark: SparkSession, sf_dir: str, copies: int = 1, n_files: int = 4
) -> str:
    """Stage the events fixture as time-range buckets with strictly
    increasing file modification times.

    The parquet file source processes oldest-mtime-first, so this makes
    arrival order == event-time order — the realistic in-order stream.
    With copies=2 each bucket is staged twice back-to-back (replay
    arrives while the bucket's keys are still inside the watermark
    horizon), which is what makes stateful dedup observable.

    Cost discipline (r01 VERDICT: ~5-8 s of staging dominated every
    q_stream_* bench number):

    - The staged dir is keyed by CONFIG (sf, copies, n_files), not by
      caller — queries with the same layout (tumbling + session) share
      one staging; a marker file makes reuse free across calls AND
      across processes.
    - One Spark job stages all buckets: a single ``partitionBy(bucket)``
      write replaces the old n_files×copies separate filtered writes.
      Replay copies are plain file copies (identical bytes are exactly
      what a replay is), never a second Spark job.
    """
    import json
    import time

    # The marker config includes the SOURCE fixture's mtime+size (r3
    # ADVICE): if the driver regenerates events.parquet in place, the
    # staged copy invalidates instead of silently serving stale events.
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    config = {
        "sf_dir": os.path.abspath(sf_dir),
        "copies": copies,
        "n_files": n_files,
        "src_mtime_ns": st.st_mtime_ns,
        "src_size": st.st_size,
        # bumped when the bucket math changes (r10 ADVICE: v2 = exact
        # integer-micros span) so stages laid out by the old math
        # invalidate instead of silently mismatching law oracles
        "staging_v": 2,
    }
    name = f"events_{os.path.basename(sf_dir.rstrip('/'))}_{copies}x{n_files}"
    path = os.path.join(SCRATCH, name)
    marker = os.path.join(path, "_staged.json")
    try:
        with open(marker) as fh:
            if json.load(fh) == config:
                return path
    except (OSError, ValueError):
        pass
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)

    events = load_table(spark, sf_dir, "events")
    # Exact integer micros end-to-end (r10 ADVICE #1): the old float
    # timedelta.total_seconds()*1e6 span loses ~1-2 us at the
    # century-scale spans of the far-future 27x fixture, which can
    # shift `step` by 1 vs the oracle law's (hi-lo+1)//n_files+1 and
    # land boundary rows in different buckets.
    lo_us, hi_us = events.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    step = (int(hi_us) - int(lo_us) + 1) // n_files + 1
    bucket = F.floor(
        (F.unix_micros(F.col("ts")) - F.lit(int(lo_us))) / F.lit(step)
    ).alias("bucket")
    # one job: each bucket lands in exactly one task -> one file each
    (
        events.withColumn("bucket", bucket)
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(tmp)
    )
    base_mtime = time.time() - 10 * n_files * copies
    seq = 0
    for k in range(n_files):
        bdir = os.path.join(tmp, f"bucket={k}")
        parts = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet")) if os.path.isdir(bdir) else []
        if not parts:
            # A gappy event timeline (e.g. the scale fixture's
            # decade-apart replica windows) leaves some equal-width
            # time buckets EMPTY — fewer staged files is a valid
            # replay, not an error.  Fixture timelines at the standard
            # SFs are contiguous, so their staging layout is unchanged.
            continue
        assert len(parts) == 1, f"bucket {k}: expected 1 file, got {parts}"
        src_file = os.path.join(bdir, parts[0])
        for c in range(copies):
            dst = os.path.join(path, f"b{k:03d}_c{c}.parquet")
            shutil.copyfile(src_file, dst)
            os.utime(dst, (base_mtime + seq, base_mtime + seq))
            seq += 1
    shutil.rmtree(tmp, ignore_errors=True)
    with open(marker, "w") as fh:
        json.dump(config, fh)
    return path


# Stateful operators keep one state-store instance PER shuffle
# partition PER micro-batch; at the fixture's volume (<=1.2M rows in
# ~10 micro-batches) 32 partitions are pure per-task/state overhead —
# 8 cuts commit cost ~4x with identical results (hash partitioning by
# key is semantics-free).  On a real cluster this is the knob sized to
# state volume per partition, not to CPU count; it is pinned at the
# FIRST run of a checkpoint, which here is fresh per query.
_STREAM_SHUFFLE_PARTITIONS = "8"


def _checkpoint_committed_rows(ckpt: str) -> int:
    """Total input rows across all COMMITTED batches of a file-source
    streaming checkpoint, read from the checkpoint's own metadata logs
    (r10 VERDICT #1 — deterministic, synchronous accounting).

    The file source logs, per batch, exactly which files it picked up
    (``sources/0/<batchId>``: a v1 header then one JSON entry per file
    with ``path`` and ``batchId``; every-10th log may be a rolled-up
    ``<batchId>.compact`` carrying ALL entries so far), and a batch is
    durable only once ``commits/<batchId>`` exists.  Summing the
    parquet footer row counts of committed files is therefore the
    authoritative "rows this checkpoint has processed" — no listener
    bus, no asynchrony, no drop-on-overflow: the same ledger the
    restarted query itself consults to avoid re-reads.  Driver-side
    cost is O(committed files) metadata reads — bounded by the staged
    file count, never by data volume.

    Entries dedup by (path, batchId) — NOT by path alone: a .compact
    rollup re-lists every prior entry under its ORIGINAL batchId
    (dedup must collapse those), but a BROKEN recovery that re-ingests
    an already-committed file logs the same path under a NEW batchId,
    and that must COUNT AGAIN so the p1+p2 == corpus-total assert
    catches the double-processing (review r11: a path-keyed dedup
    would have silently reported the clean delta for a double-read)."""
    import json as _json
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as _pq

    commits_dir = os.path.join(ckpt, "commits")
    committed = (
        {int(f) for f in os.listdir(commits_dir) if f.isdigit()}
        if os.path.isdir(commits_dir)
        else set()
    )
    src_dir = os.path.join(ckpt, "sources", "0")
    if not committed or not os.path.isdir(src_dir):
        return 0
    entries: set[tuple[str, int]] = set()  # (path, batchId)
    for name in os.listdir(src_dir):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not base.isdigit():
            continue  # .crc shadows, temp files
        with open(os.path.join(src_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                entry = _json.loads(line)
                entries.add((entry["path"], int(entry["batchId"])))
    total = 0
    for uri, batch_id in entries:
        if batch_id in committed:
            total += _pq.ParquetFile(unquote(urlparse(uri).path)).metadata.num_rows
    return total


def _run_stream(agg: DataFrame, mode: str) -> str:
    sink = f"mem_{uuid.uuid4().hex[:8]}"
    conf = agg.sparkSession.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE_PARTITIONS)
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(sink)
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
    return sink


@spark_query(
    "q_stream_tumbling_watermark",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP)                 AS window_start,
       CAST(time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events, wm
WHERE time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY 1, 2, 3
""",
)
def q_stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_window_tumbling: 1-day tumbling counts per
    event type with a 1-hour watermark, append mode.

    Append emits a window only once the watermark (max event time seen
    minus 1h) passes its end — so finalized windows match the batch
    result exactly, and the trailing window stays in state (late rows
    beyond the watermark would be dropped).  The equivalence
    assertion lives in tests/test_streaming.py.

    Oracle (upgraded from rows-only, r9): the emission law is
    deterministic, so it IS SQL — the batch tumbling aggregate
    restricted to windows whose end the final watermark
    (global MAX(ts) − 1h) has passed.  Three facts make the law exact
    for this source: (a) _stage_events buckets arrive in event-time
    order, so no row is ever late and every finalized window equals
    its batch twin; (b) Spark's no-data micro-batch (on by default)
    flushes state after the last file, so the final watermark is the
    GLOBAL max minus the delay; (c) no fixture's MAX(ts) lands within
    1h±1ms of a day boundary (checked at all three SFs), so the <=
    vs < boundary tie and Spark's millisecond watermark truncation
    cannot flip a window's membership."""
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer cents (r9 ADVICE): SUM over doubles is summation-
            # order-sensitive across engines; the tie-free
            # floor(x*100+0.5) quantization (shared with EWMA/CUSUM/
            # TWS) makes the windowed sum exact integer arithmetic in
            # both engines, no 4-dp-boundary risk
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )
    sink = _run_stream(agg, "append")
    return spark.table(sink)


@spark_query(
    "q_stream_dedup_stateful",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 7 DAY AS w FROM events)
SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS window_start,
       COUNT(DISTINCT event_id) AS n_distinct_events
FROM events, wm
WHERE time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY 1
""",
)
def q_stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: every time bucket is staged TWICE
    (each event arrives again as a replay one micro-batch later), and
    dropDuplicatesWithinWatermark on event_id keeps state only within
    the watermark horizon — the bounded-state dedup pattern for
    infinite streams (exact global dedup state would grow without
    bound at 100 TB/day).

    Emits one row per day: distinct events surviving dedup vs the 2×
    duplicated input, proving the state machine dropped replays.

    Oracle (upgraded from rows-only, r9 — this is SURVEY §2 O-52): the
    emission law is SQL.  Every replay is dropped (the 7-day horizon
    exceeds the ~6-day bucket span, so a bucket's keys are still in
    state when its replay file arrives one micro-batch later), so
    survivors = the DISTINCT event_ids of the source; append mode
    then emits exactly the day windows whose end the final watermark
    MAX(ts)−7d passed (same closure law as q_stream_tumbling_watermark,
    with the trailing ~8 days staying in state)."""
    src = _stage_events(spark, sf_dir, copies=2, n_files=5)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # watermark horizon (7 days) > bucket span (~6 days at the fixture's
    # 30-day range / 5 buckets), so every replayed key is still in state.
    deduped = (
        stream.withWatermark("ts", "7 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_distinct_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_distinct_events",
        )
    )
    sink = _run_stream(deduped, "append")
    return spark.table(sink)


# rows-only, surveyed for oracle upgrade r9 and kept: the state fold
# accumulates a FLOAT total via pandas .sum() (pairwise summation) per
# batch — unlike the EWMA/CUSUM/TWS folds its op order is neither
# sequential-scalar (CTE-replayable) nor integer-exact, so a DuckDB
# SUM can differ at the 4-dp rounding boundary.  The batch-twin
# equality test pins it instead.
@spark_query("q_stream_custom_stateful")
def q_stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-event-type running aggregate (count + value sum)
    carried in explicit state across micro-batches — the escape hatch
    for stateful logic that watermarked windows can't express
    (sessionization variants, CDC reducers, online feature updates).

    State is one small tuple per key — bounded regardless of stream
    length; each micro-batch updates it from Arrow-batched pandas
    frames.  Emits the final per-type totals, which must equal the
    batch groupBy on the same staged data."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # prune to the fold's columns before the Arrow state boundary
        # (column-pruning + pandas ns-timestamp safety — see
        # q_stream_transform_with_state)
        .select("event_type", "value")
    )

    def running_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "sum_value": [round(total, 4)]}
        )

    out = stream.groupBy("event_type").applyInPandasWithState(
        running_totals,
        outputStructType="event_type STRING, n_events BIGINT, sum_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_stream(out, "update")
    # "update" emits one row per key per micro-batch; keep the final
    # (largest-count) row per event type.
    latest = spark.table(sink)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", "sum_value")
    )


@spark_query(
    "q_stream_session_window",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER win IS NULL
                OR ts - LAG(ts) OVER win >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP)                      AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM sess, wm
GROUP BY user_id, sess_id, wm.w
HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm.w
""",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_window_session: per-user session windows
    with a 30-minute gap, merged incrementally as events arrive.

    Session windows are the hardest streaming state: unlike fixed
    windows, sessions MERGE when a new event bridges two open ones, so
    state per key is a set of open sessions, finalized only when the
    watermark passes a session's (gap-extended) end.  Append mode
    therefore emits exactly the closed sessions — at any scale the
    state size is bounded by open sessions within the watermark
    horizon, not stream length.

    Oracle (upgraded from rows-only, r9): the batch gap-and-islands
    rewrite (q_window_session's oracle) restricted to CLOSED sessions
    — those whose gap-extended end the final watermark MAX(ts)−1h
    passed.  In-order arrival means sessions merge exactly as in
    batch, so the closed set is the batch session set filtered by the
    closure law."""
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer cents (r9 ADVICE): exact in both engines — see
            # q_stream_tumbling_watermark
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )
    sink = _run_stream(agg, "append")
    return spark.table(sink)


@spark_query(
    "q_stream_python_source",
    oracle="""
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM (
  SELECT 'type_' || CAST((d.i + k.i) % 4 AS VARCHAR) AS event_type,
         CAST((d.i * 31 + k.i * 7) % 100 AS DOUBLE)  AS value
  FROM generate_series(0, 9) AS d(i), generate_series(0, 199) AS k(i)
)
GROUP BY event_type
""",
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read from a custom PYTHON micro-batch source
    (sources/pyds.SyntheticEventsStreamSource, Spark 4
    simpleStreamReader API): a short series of day-ranged micro-batches of a deterministic
    event law, aggregated per event type in complete mode.

    The source's offsets are pure functions of the data
    (readBetweenOffsets replays any range identically), so the
    post-quiescence aggregate is exactly reproducible — which is why
    this STREAMING query can carry a full SQL oracle (generate_series
    restates the same law) instead of the rows-only waiver the
    file-source streams need.  The connector shape is how a production
    pipeline wraps a REST/paginated/queue source: driver tracks
    offsets, executors fetch batches, recovery = re-read committed
    offset ranges."""
    from ..sources.pyds import SyntheticEventsStreamSource

    try:
        spark.dataSource.register(SyntheticEventsStreamSource)
    except Exception:
        pass  # already registered in this session
    stream = spark.readStream.format("synthetic_events_stream").load()
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    sink = _run_stream(agg, "complete")
    return spark.table(sink)


@spark_query(
    "q_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer-derived dimension and aggregates per market segment in
    complete mode.  Oracle (upgraded from rows-only, r9): complete
    mode's post-quiescence snapshot IS the batch join + aggregate —
    no emission law needed — so the plain SQL join is the expected
    output.  This is THE production enrichment shape: facts
    stream in, dimensions are a slowly-changing lookup; at 100 TB/day
    the only state is the running aggregate, bounded by |segments|.

    The dim is NOT broadcast-hinted: customer grows with SF, and a
    forced hint bypasses autoBroadcastJoinThreshold — the r01 OOM
    anti-pattern (test-enforced).  The planner broadcasts it while it
    fits and falls back to a shuffled join per micro-batch when it
    doesn't.  Final snapshot must equal the batch join+agg twin
    (asserted in tests/test_streaming.py)."""
    from ..sources import load_table as _lt

    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    dim = _lt(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        stream.join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # integer cents (r9 ADVICE): exact in both engines — see
            # q_stream_tumbling_watermark
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_cents"
            ),
        )
    )
    sink = _run_stream(agg, "complete")
    return spark.table(sink)


@spark_query(
    "q_stream_stream_join",
    oracle="""
SELECT CAST(date_trunc('day', c.ts) AS TIMESTAMP) AS click_day,
       COUNT(*) AS n_attributed_pairs
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 DAY
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY 1
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — click→purchase attribution: each
    'click' event joins the same user's 'purchase' events within the
    following day.  BOTH sides carry watermarks and the join condition
    bounds event time in both directions, so the state store retains
    only rows inside the watermark horizon (unbounded retention is
    exactly what the API forbids here).  Matches emit in append mode
    as both watermarks pass; the per-day rollup of the emitted pairs
    happens on the sink table and must equal the batch join twin
    (asserted in tests/test_streaming.py).

    Oracle (upgraded from rows-only, r9): an INNER interval join's
    matches emit as they are found, never gated on a closure law, and
    in-order arrival plus the 1h-delay watermarks guarantee no click
    is evicted while a purchase inside its 1-day horizon can still
    arrive (a purchase at p_ts needs clicks ≥ p_ts − 1d; eviction only
    removes clicks < global-min-watermark − 1d ≤ p_ts − 1h − 1d).  So
    the emitted pair set equals the batch interval join exactly and
    the oracle is the plain SQL twin."""
    src = _stage_events(spark, sf_dir)
    schema = _staged_schema(spark, src)

    def side(event_type: str, alias: str):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("event_id").alias(f"{alias}_id"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY")),
    )
    sink = _run_stream(
        pairs.select("c_user", "c_id", "c_ts", "p_id", "p_ts"), "append"
    )
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("day", "c_ts").alias("click_day"))
        .agg(F.count(F.lit(1)).alias("n_attributed_pairs"))
    )


@spark_query(
    "q_stream_lakehouse_ingest",
    oracle="""
WITH bounds AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
),
buckets AS (
  SELECT FLOOR((epoch_us(e.ts) - b.lo) / ((b.hi - b.lo + 1) // 3 + 1)) AS bucket
  FROM events e, bounds b
)
SELECT CAST(COUNT(DISTINCT bucket) AS INTEGER) AS n_commits,
       (SELECT COUNT(*) FROM events) AS n_rows_ingested,
       (SELECT COUNT(*) FROM events) AS n_source_rows,
       TRUE AS exactly_once
FROM buckets
""",
)
# Oracle upgraded from rows-only in r9; r10 (ADVICE): n_commits is now
# DERIVED as the count of non-empty equal-width time buckets — the
# same floor((ts - min) / step) law _stage_events partitions by, with
# step = (span_us + 1) // n_files + 1 for n_files=3 — instead of a
# hardcoded 3, so a gappy timeline (e.g. the scale fixture's decade-
# apart replica windows) that leaves a bucket empty stages fewer files
# and the oracle tracks it.  One staged file = one maxFilesPerTrigger=1
# micro-batch = one idempotent commit (this stateless foreachBatch
# query runs no empty no-data batches), every source row lands exactly
# once.  The hash check pins the exactly_once claim itself: a replayed
# or dropped batch would flip the boolean or the counts.
def q_stream_lakehouse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the versioned lakehouse table with
    exactly-once semantics: each micro-batch lands via foreachBatch →
    ``VersionedTable.append_idempotent`` whose commit records the
    batch id — a replayed batch is a no-op, so retries cannot
    double-ingest (the txn-id dedup contract of production lakehouse
    sinks).  Emits one row proving conservation: every staged source
    row is in the final table exactly once, one commit per
    micro-batch."""
    from ..operators.lakehouse_ops import _fresh_table_dir
    from ..sources.vtable import VersionedTable

    src = _stage_events(spark, sf_dir, n_files=3)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table_dir = _fresh_table_dir()

    def ingest(batch_df, batch_id: int) -> None:
        VersionedTable(batch_df.sparkSession, table_dir).append_idempotent(
            batch_df, f"append-b{batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    vt = VersionedTable(spark, table_dir)
    n_versions = vt.latest_version() + 1
    ingested = vt.read()
    n_rows = ingested.count()
    n_distinct = ingested.select("event_id").distinct().count()
    n_src = spark.read.parquet(src).count()
    return local_frame(
        spark,
        [
            (
                int(n_versions),
                int(n_rows),
                int(n_src),
                _ingest_conservation(n_rows, n_distinct, n_src),
            )
        ],
        "n_commits INT, n_rows_ingested BIGINT, n_source_rows BIGINT, exactly_once BOOLEAN",
    )


def _ingest_conservation(n_rows: int, n_distinct: int, n_src: int) -> bool:
    """The exactly-once law: every source row is in the table exactly
    once — no loss (n_rows == n_src), no replay (n_distinct == n_src).
    Module-level so the negative-control test can feed it counts from
    a REAL double-ingest (append replayed under a fresh txn id) and
    prove the boolean flips FALSE (r11 VERDICT #1)."""
    return bool(n_rows == n_src and n_distinct == n_src)


# Misra-Gries sketch geometry for q_stream_heavy_hitters — module-level
# so the floor-law test asserts the SAME constants the operator runs
# with (review r11: the test previously mirrored 8/65 literals that
# could silently diverge from a retuned sketch).
MG_K = 64          # counters per shard; guarantee threshold n_shard/(MG_K+1)
MG_SHARDS = 8      # user_id % MG_SHARDS

# rows-only, surveyed for oracle upgrade r11 (r10 VERDICT #4 named it
# the next law-oracle candidate) and kept, with proof: the top-15
# MEMBERSHIP is not a function of the data multiset once the sketch
# leaves its exact regime, so no SQL over the tables can restate it.
# Measured on the fixtures (events, shard = user_id % 8, MG capacity
# K=64 per shard, guarantee threshold n_shard/(K+1)): at sf0.001 the
# worst top-15 user sits at 0.04x the threshold and at sf0.01 at
# 0.26x — every true top-15 user is GUARANTEED to survive the sketch,
# candidates superset the answer, and the exact recount makes the
# output equal the batch top-15 (what the sf0.001 equality test and
# the sf0.01 floor-law test pin).  At sf0.1 the fixture flattens
# (user base grows ~10x, per-user counts stay ~80-90): the 15th count
# is 86 against a shard threshold of ~192 — 2.3x OVER the guarantee —
# and ranks 15/16 tie at 86, so which tied user survives depends on
# micro-batch arrangement and Arrow chunk boundaries, i.e. runtime
# layout, not data semantics.  That regime boundary is the sketch
# being honest (no o(n)-state summary can rank a near-uniform
# distribution), not a fixable gap; the frequency-floor LAW that does
# hold at every SF — emitted freqs are exact counts, and any user
# above its shard's guarantee threshold with freq >= the emitted
# minimum must appear — is pinned by
# tests/test_round4_ops.py::test_stream_heavy_hitters_floor_law.
@spark_query("q_stream_heavy_hitters")
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy users: the top-15 event producers, answered
    over a live stream with BOUNDED state — the streaming twin of
    q_heavy_hitters (operators/sketches.py).

    Phase 1 keeps a Misra-Gries(64) sketch PER SHARD (user_id % 8)
    inside applyInPandasWithState — 8 x 64 counters total, constant
    regardless of stream length.  Phase 2 exactly recounts ONLY the
    merged candidates and emits the top-15 by exact count.  Guarantee
    regime: while the active-user cardinality fits the total sketch
    capacity (as at sf0.001: 150 users vs 512 counters) the answer is
    EXACT — test-verified equal to the direct batch top-15; beyond
    capacity the sketch keeps every user above n_shard/64 and the
    result is the honest approximate top-k.  (A fraction-of-total
    threshold like batch q_heavy_hitters degenerates here: per-user
    event counts do NOT grow with SF — the user base grows instead —
    so "top-k heavy producers" is the scale-invariant question.)

    At 100 TB/day this is the canonical "trending entities" topology:
    shard-sharded sketches in the stream, a candidate-only exact
    rollup behind it.

    Bench note (r5 VERDICT #4): wall time is fixed micro-batch +
    Python state-store overhead (isolated runs hold at ~2 s across
    SFs); round-over-round swings track session pressure, now measured
    by bench.py's regressions_vs_prev section."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    K = MG_K

    def mg_shard(key, pdfs, state: GroupState):
        if state.exists:
            uids, counts, n_seen = state.get
            sketch = dict(zip(uids, counts))
        else:
            sketch, n_seen = {}, 0
        for pdf in pdfs:
            vc = pdf["user_id"].value_counts()
            n_seen += int(vc.sum())
            for uid, cnt in vc.items():
                sketch[int(uid)] = sketch.get(int(uid), 0) + int(cnt)
            if len(sketch) > K:
                cuts = sorted(sketch.values(), reverse=True)
                cut = cuts[K] if len(cuts) > K else 0
                sketch = {u: c - cut for u, c in sketch.items() if c > cut}
        state.update((list(sketch.keys()), list(sketch.values()), n_seen))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(sketch),
                "user_id": list(sketch.keys()),
                "n_seen": [n_seen] * len(sketch),
            }
        )

    candidates_stream = (
        # only user_id crosses the Arrow state boundary (column
        # pruning + pandas ns-timestamp safety — see
        # q_stream_transform_with_state)
        stream.select("user_id")
        .withColumn("shard", F.col("user_id") % MG_SHARDS)
        .groupBy("shard")
        .applyInPandasWithState(
            mg_shard,
            outputStructType="shard INT, user_id BIGINT, n_seen BIGINT",
            stateStructType="uids ARRAY<BIGINT>, counts ARRAY<BIGINT>, n_seen BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = _run_stream(candidates_stream, "update")
    emitted = spark.table(sink)
    # final sketch emission per shard = the rows carrying that shard's
    # max n_seen (update mode re-emits the sketch every micro-batch)
    from pyspark.sql import Window

    w = Window.partitionBy("shard")
    candidates = (
        emitted.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .select("user_id")
        .distinct()
    )
    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    exact = (
        events.join(bcast(candidates, "LIMIT-bounded candidate head"), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.select(
            "user_id",
            "freq",
            F.round(F.col("freq") * 1.0 / F.lit(n_total), 6)
            .cast("double")
            .alias("frac"),
        )
        .orderBy(F.desc("freq"), F.asc("user_id"))
        .limit(15)
    )


@spark_query("q_stream_pattern_match")  # rows-only: custom streaming state
def q_stream_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_event_pattern_match: detect strictly-
    consecutive view→click→purchase runs per user AS EVENTS ARRIVE,
    carrying the last two event types across micro-batch boundaries in
    explicit state — the part a batch window can't do incrementally
    (a pattern split across two micro-batches still matches).

    State per user is two strings + one counter — O(1) regardless of
    stream length, the viable footprint at any key cardinality.  The
    staged file source arrives in event-time order (see _stage_events)
    and rows are totalized by (ts, event_id) within each batch, so the
    stream sees the same sequence the batch window sorts — the
    equivalence test (tests/test_streaming.py) asserts final per-user
    match counts equal the batch operator's.

    Bench note (r5 VERDICT #4): wall time here is dominated by FIXED
    local-mode overhead — 4 micro-batch commits + Python state-store
    workers — not by data volume (isolated runs hold at ~5.3 s from
    sf0.001 to sf0.1).  Round-over-round swings on this query track
    session pressure, which bench.py's regressions_vs_prev section now
    measures directly; at cluster scale the per-batch overhead
    amortizes over seconds-long batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events(spark, sf_dir, n_files=4)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # epoch micros across the Arrow state boundary, not the
        # timestamp — see q_stream_ewma_stateful
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        )
    )

    def detect(key, pdfs, state: GroupState):
        e1, e2, n = state.get if state.exists else ("", "", 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts_us", "event_id"])
        for et in batch["event_type"]:
            if e1 == "view" and e2 == "click" and et == "purchase":
                n += 1
            e1, e2 = e2, et
        state.update((e1, e2, n))
        yield pd.DataFrame({"user_id": [key[0]], "n_matches": [n]})

    out = stream.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType="user_id BIGINT, n_matches BIGINT",
        stateStructType="e1 STRING, e2 STRING, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_stream(out, "update")
    # update mode re-emits each user per micro-batch; the final state
    # is the max counter.  Users with zero matches are dropped to
    # mirror the batch operator's output domain.
    latest = spark.table(sink)
    return (
        latest.groupBy("user_id")
        .agg(F.max("n_matches").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


@spark_query(
    "q_stream_backfill_availablenow",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
)
# Oracle upgraded from rows-only in r9: AvailableNow drains the whole
# source and complete mode's final snapshot is the batch census; cents
# are integer-exact (values are non-negative at every SF, so Spark
# HALF_UP and DuckDB half-away rounding agree even at ties), so the
# oracle is the plain GROUP BY with no float caveat.
def q_stream_backfill_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill via ``Trigger.AvailableNow``: process EVERYTHING already
    in the source as rate-limited micro-batches (maxFilesPerTrigger
    still applies), then terminate on its own — the catch-up mode for
    unified batch+stream pipelines.  Contrast the other q_stream_*
    ops, which use a live trigger plus processAllAvailable(): that
    shape never exits in production; AvailableNow is what a nightly
    backfill or a bootstrap-then-tail deployment actually runs, with
    exactly-once progress recorded in the checkpoint so an interrupted
    backfill resumes where it stopped instead of rereading.

    The aggregation is the corpus-total census per event type in
    complete mode; tests/test_streaming.py asserts it equals the batch
    twin over the same fixture (stream == batch is the unification
    contract).  Money in exact cents (repo money rule).
    """
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    sink = f"mem_{uuid.uuid4().hex[:8]}"
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE_PARTITIONS)
    ckpt = os.path.join(SCRATCH, f"ckpt_backfill_{uuid.uuid4().hex[:8]}")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()  # AvailableNow self-terminates at drain
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(sink)


# rows-only, surveyed for oracle upgrade r9 and kept: the final census
# matches the batch GROUP BY (and the backfill twin above now carries
# that oracle), but this query's POINT is the phase1_rows/phase2_rows
# split across the simulated crash — those counts restate the staging
# file-bucket layout (floor-division time buckets over half the file
# list), which is runtime arrangement, not data semantics a SQL oracle
# should canonize.  The crash-resume conservation is test-pinned.
@spark_query("q_stream_checkpoint_recovery")
def q_stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once restart from a checkpoint: run an AvailableNow
    backfill over HALF the staged files, "crash" (stop), land the
    rest of the files, and restart the SAME query from the SAME
    checkpoint — the second run must process ONLY the new files (the
    checkpoint's source offsets record what was committed) and the
    final census must equal the batch answer over everything.

    This is the fault-tolerance contract a 100 TB ingest relies on:
    progress is owned by the checkpoint, not the job, so a restarted
    pipeline never re-reads or double-counts.  Output: the per-type
    census plus each phase's processed input-row count — phase 2's
    input is the delta, not the corpus (test-enforced, along with
    stream == batch equality).

    Phase accounting reads the checkpoint's OWN sources/commits ledger
    (``_checkpoint_committed_rows``), not the StreamingQueryListener
    bus (r10 VERDICT #1): the async bus drops events on overflow, and
    under full-suite load the listener counts read 255+480 for a
    1,000-row corpus even though the recovery itself was exactly-once.
    The ledger is what the restarted query consults to skip committed
    files — reading it makes the accounting assert the SAME artifact
    the "no re-read" claim rests on, deterministically.
    """
    src = _stage_events(spark, sf_dir)
    all_files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    half = len(all_files) // 2
    live = os.path.join(SCRATCH, f"ckpt_recovery_src_{uuid.uuid4().hex[:8]}")
    os.makedirs(live, exist_ok=True)
    ckpt = os.path.join(SCRATCH, f"ckpt_recovery_{uuid.uuid4().hex[:8]}")
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE_PARTITIONS)
    sink = f"mem_{uuid.uuid4().hex[:8]}"
    phase_rows: list[int] = []
    try:
        def run_phase(qname: str) -> int:
            stream = (
                spark.readStream.schema(_staged_schema(spark, src))
                .option("maxFilesPerTrigger", 1)
                .parquet(live)
            )
            agg = stream.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(qname)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # CUMULATIVE committed-ledger total; the phase-2 call site
            # subtracts phase 1's reading to get the delta
            return _checkpoint_committed_rows(ckpt)

        for f in all_files[:half]:
            shutil.copyfile(os.path.join(src, f), os.path.join(live, f))
        phase_rows.append(run_phase(sink))
        # "crash" happened here; the rest of the data lands
        for f in all_files[half:]:
            shutil.copyfile(os.path.join(src, f), os.path.join(live, f))
        phase_rows.append(run_phase(sink) - phase_rows[0])
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)
    return (
        spark.table(sink)
        .withColumn("phase1_rows", F.lit(phase_rows[0]).cast("long"))
        .withColumn("phase2_rows", F.lit(phase_rows[1]).cast("long"))
    )


_STREAM_EWMA_ORACLE = """
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
SELECT f.user_id, m.n AS n_events, ROUND(f.s, 4) AS ewma_cents
FROM fold f JOIN mx m ON m.user_id = f.user_id AND f.rn = m.n
"""


@spark_query("q_stream_ewma_stateful", oracle=_STREAM_EWMA_ORACLE)
def q_stream_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA (alpha = 1/2) per user with O(1) state — the
    UNBOUNDED-recurrence twin of the batch q_ewma_smooth (whose
    bounded 12-sample window is the parallelizable batch form; the
    recurrence s' = (c + s)/2 is inherently sequential per key, which
    is exactly what per-key streaming state is FOR).  State per user
    is two numbers (current smoothed value, count) carried across
    micro-batches by applyInPandasWithState; rows within a batch are
    sorted by (ts, event_id) before folding so the recurrence order
    is the event-time order regardless of Arrow batch layout.

    Emits update-mode rows; the final (max-count) row per user is the
    stream's answer, and tests/test_streaming.py replays the same
    fold over the staged data in plain Python — stream == replay
    exactly (identical float ops in identical order).  At 100 TB
    state is 16 bytes x |active users| in the state store; the
    recurrence never re-reads history."""
    import pandas as pd
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # the fold needs event-time ORDER, not the timestamp itself:
        # ship epoch micros (8-byte long, monotone with ts) across the
        # Arrow state boundary instead of the timestamp — pandas
        # datetime64[ns] caps at year 2262 and the 27x scale point's
        # shifted events overflow it (column pruning bonus: only the
        # fold's 4 columns cross per micro-batch)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value")
    )

    def fold_ewma(key, pdfs, state: GroupState):
        s, n = state.get if state.exists else (0.0, 0)
        frames = [pdf for pdf in pdfs]
        if frames:
            allp = pd.concat(frames).sort_values(["ts_us", "event_id"])
            # floor(x+0.5): tie-free half-away cents, matching the
            # batch twin's quantization (operators/timeseries.py)
            for c in np.floor(allp["value"].to_numpy() * 100 + 0.5):
                c = float(c)
                s = c if n == 0 else (c + s) / 2.0
                n += 1
        state.update((s, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma_cents": [s]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        fold_ewma,
        outputStructType="user_id BIGINT, n_events BIGINT, ewma_cents DOUBLE",
        stateStructType="s DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_stream(out, "update")
    latest = spark.table(sink)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("ewma_cents", 4).alias("ewma_cents"))
    )


_STREAM_CUSUM_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, FLOOR(value * 100 + 0.5) AS c,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
mx AS (SELECT user_id, MAX(rn) AS n FROM ev GROUP BY user_id),
step AS (
  SELECT user_id, rn,
         GREATEST(0.0, c - 10000.0)  AS sp1,
         GREATEST(0.0, 10000.0 - c)  AS sn1,
         c
  FROM ev
),
fold(user_id, rn, sp, sn, alarms) AS (
  SELECT user_id, CAST(1 AS BIGINT),
         CASE WHEN sp1 > 50000.0 THEN 0.0 ELSE sp1 END,
         CASE WHEN sn1 > 50000.0 THEN 0.0 ELSE sn1 END,
         CAST(CASE WHEN sp1 > 50000.0 THEN 1 ELSE 0 END
            + CASE WHEN sn1 > 50000.0 THEN 1 ELSE 0 END AS BIGINT)
  FROM step WHERE rn = 1
  UNION ALL
  SELECT f.user_id, f.rn + 1,
         CASE WHEN GREATEST(0.0, f.sp + (e.c - 10000.0)) > 50000.0
              THEN 0.0 ELSE GREATEST(0.0, f.sp + (e.c - 10000.0)) END,
         CASE WHEN GREATEST(0.0, f.sn + (10000.0 - e.c)) > 50000.0
              THEN 0.0 ELSE GREATEST(0.0, f.sn + (10000.0 - e.c)) END,
         f.alarms
           + CASE WHEN GREATEST(0.0, f.sp + (e.c - 10000.0)) > 50000.0
                  THEN 1 ELSE 0 END
           + CASE WHEN GREATEST(0.0, f.sn + (10000.0 - e.c)) > 50000.0
                  THEN 1 ELSE 0 END
  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
)
SELECT f.user_id, m.n AS n_events,
       ROUND(f.sp, 2) AS s_pos, ROUND(f.sn, 2) AS s_neg, f.alarms AS n_alarms
FROM fold f JOIN mx m ON m.user_id = f.user_id AND f.rn = m.n
"""


@spark_query("q_stream_cusum_stateful", oracle=_STREAM_CUSUM_ORACLE)
def q_stream_cusum_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM change detection per user with O(1) state — the
    STREAMING form of q_cusum_changepoint (whose batch form rewrites
    Page's recursion as cumsum-minus-running-extremum windows; the
    recursion itself S+ = max(0, S+ + (c - K)) is the textbook ONLINE
    detector, which is exactly what per-key state is for).

    Reference level K = 10000 cents and alarm threshold H = 50000
    cents are fixed monitoring parameters (an online detector cannot
    know the stream's own mean upfront — in production K comes from
    the seasonal profile table q_seasonal_baseline broadcasts).  On
    an alarm the fired side resets to zero (Page's restart), so state
    per user is four numbers: (s_pos, s_neg, n, n_alarms) — 32 bytes
    x |active users| regardless of stream length.  Rows inside each
    micro-batch fold in (ts, event_id) order, so the detector's
    trajectory is the event-time one and the plain-Python replay in
    tests/test_streaming.py matches exactly."""
    import pandas as pd
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # epoch micros across the Arrow state boundary, not the
        # timestamp — see q_stream_ewma_stateful
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value")
    )
    K, H = 10000.0, 50000.0

    def fold_cusum(key, pdfs, state: GroupState):
        sp, sn, n, alarms = (
            state.get if state.exists else (0.0, 0.0, 0, 0)
        )
        frames = [pdf for pdf in pdfs]
        if frames:
            allp = pd.concat(frames).sort_values(["ts_us", "event_id"])
            # floor(x+0.5): tie-free half-away cents, matching the
            # batch twin's quantization (operators/timeseries.py)
            for c in np.floor(allp["value"].to_numpy() * 100 + 0.5):
                c = float(c)
                sp = max(0.0, sp + (c - K))
                sn = max(0.0, sn + (K - c))
                n += 1
                if sp > H:
                    alarms += 1
                    sp = 0.0
                if sn > H:
                    alarms += 1
                    sn = 0.0
        state.update((sp, sn, n, alarms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "s_pos": [sp],
                "s_neg": [sn],
                "n_alarms": [alarms],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        fold_cusum,
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, s_pos DOUBLE, "
            "s_neg DOUBLE, n_alarms BIGINT"
        ),
        stateStructType="sp DOUBLE, sn DOUBLE, n BIGINT, alarms BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_stream(out, "update")
    latest = spark.table(sink)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("s_pos", 2).alias("s_pos"),
            F.round("s_neg", 2).alias("s_neg"),
            "n_alarms",
        )
    )


_STREAM_OUTER_JOIN_ORACLE = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
wm AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
              - INTERVAL 1 HOUR AS w),
m AS (SELECT DISTINCT c.event_id FROM c JOIN p ON p.user_id = c.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 DAY),
x AS (SELECT COUNT(*) AS n_expired FROM c, wm
      WHERE c.event_id NOT IN (SELECT event_id FROM m)
        AND c.ts + INTERVAL 1 DAY < wm.w)
SELECT (SELECT COUNT(*) FROM c)  AS n_clicks,
       (SELECT COUNT(*) FROM m)  AS n_matched,
       (SELECT n_expired FROM x) AS n_expired_unmatched,
       (SELECT COUNT(*) FROM c) - (SELECT COUNT(*) FROM m)
         - (SELECT n_expired FROM x) AS n_retained_in_state
"""


@spark_query("q_stream_outer_join", oracle=_STREAM_OUTER_JOIN_ORACLE)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the attribution
    twin of q_stream_stream_join that also emits the non-converting
    clicks: a click with no same-user purchase in the following day
    surfaces as a null-extended row, but only AFTER the watermark
    passes its join horizon (that is the outer join's correctness
    contract: emit-null is a negative claim, provable only once late
    matches are impossible).  The result partitions every click into
    three disjoint buckets — matched, expired-unmatched (null rows
    emitted), and retained-in-state (clicks whose horizon the final
    watermark never crossed; a live pipeline would emit them as the
    stream advances) — and conservation over the three is asserted
    against the staged source in tests.

    Scale: state per side is bounded by the watermark horizon exactly
    as in the inner join; the null-extension adds no state — it is
    produced by the eviction scan itself.  Bucket accounting runs on
    the SINK table (driver-bounded memory sink here; a real pipeline
    lands the same append stream in the lakehouse table).
    """
    src = _stage_events(spark, sf_dir)
    schema = _staged_schema(spark, src)

    def side(event_type: str, alias: str):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("event_id").alias(f"{alias}_id"),
                F.col("ts").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    pairs = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY")),
        "left_outer",
    )
    sink = _run_stream(
        pairs.select("c_user", "c_id", "c_ts", "p_id", "p_ts"), "append"
    )
    emitted = spark.table(sink)
    matched = (
        emitted.filter(F.col("p_id").isNotNull())
        .select("c_id")
        .distinct()
        .count()
    )
    expired = (
        emitted.filter(F.col("p_id").isNull()).select("c_id").distinct().count()
    )
    total = (
        spark.read.parquet(src)
        .filter(F.col("event_type") == "click")
        .count()
    )
    return local_frame(
        spark,
        [(int(total), int(matched), int(expired), int(total - matched - expired))],
        "n_clicks bigint, n_matched bigint, n_expired_unmatched bigint, "
        "n_retained_in_state bigint",
    )


@spark_query(
    "q_stream_transform_with_state",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY user_id
""",
)
def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals on Spark 4's transformWithState API
    (SPARK-49564, the successor to applyInPandasWithState): a
    StatefulProcessor object owns typed, NAMED state handles
    (ValueState here) backed by the RocksDB state store, instead of
    one opaque GroupState tuple.  State per user is two integers
    (event count, total cents), updated per Arrow batch, emitted in
    update mode; the final (max-count) update row per user is the
    stream's answer.

    Totals are INTEGER cents (the tie-free floor(x*100 + 0.5)
    quantization shared with the EWMA/CUSUM folds), so the running
    sum is exact integer arithmetic in every engine and the oracle is
    the plain GROUP BY — no float-order caveat.

    DEPENDENCY GATE: transformWithState's Python state protocol speaks
    protobuf to a driver-side state server, and this container ships
    no `google.protobuf` (pip installs are off-limits; verified: the
    TWS driver worker crashes in StateMessage_pb2 on import).  Where
    protobuf is absent the query runs the SAME fold on
    applyInPandasWithState — identical state contents, batch
    boundaries, emission cadence, and (integer-exact) results, so the
    oracle and every test hold for both paths; on a protobuf-equipped
    cluster the TWS path engages automatically.

    Scale: state is 16 bytes x |active users| (RocksDB-backed and
    incremental-checkpointed on the TWS path — that is WHY the new
    API mandates the provider); per-batch work is one Arrow exchange
    per shuffle partition."""
    import numpy as np
    import pandas as pd

    src = _stage_events(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(_staged_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # prune to the fold's columns BEFORE the stateful boundary:
        # only (key, value) should ever cross the Arrow exchange — at
        # scale the other columns are dead weight per micro-batch, and
        # the timestamp column specifically cannot cross at all on
        # far-future data (pandas datetime64[ns] caps at year 2262;
        # the 27-replica scale fixture's shifted events overflow it —
        # caught by the r10 sf2.7 checkpoint)
        .select("user_id", "value")
    )
    out_schema = "user_id BIGINT, n_events BIGINT, total_cents BIGINT"

    def _fold_batch(pdf: "pd.DataFrame", n: int, cents: int) -> tuple[int, int]:
        c = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
        return n + len(pdf), cents + int(c.sum())

    runner = _run_totals_tws if _tws_path_available() else _run_totals_aipws
    sink = runner(spark, stream, out_schema, _fold_batch)

    latest = spark.table(sink)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


def _tws_path_available() -> bool:
    """Capability gate for transformWithState's Python state protocol.

    TWS workers speak protobuf to a driver-side state server; without
    `google.protobuf` the worker crashes inside StateMessage_pb2 at
    import time, so the gate must be decided BEFORE the stream starts.
    Module-level (not inline) so tests can pin the selection both ways
    by injecting a stub module / monkeypatching — a protobuf-equipped
    cluster must not silently take the fallback, and this container
    must not take the TWS path."""
    try:
        import google.protobuf  # noqa: F401  (the TWS state protocol)

        return True
    except ImportError:
        return False


def _run_totals_tws(spark: SparkSession, stream: DataFrame, out_schema: str, fold_batch) -> str:
    """transformWithState branch of q_stream_transform_with_state."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n, cents = fold_batch(pdf, n, cents)
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    conf = spark.conf
    prev_provider = conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    # transformWithState requires the RocksDB provider (its state
    # model — named handles, TTL, timers — is built on it).
    conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        return _run_stream(out, "update")
    finally:
        if prev_provider is None:
            conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                prev_provider,
            )


def _run_totals_aipws(spark: SparkSession, stream: DataFrame, out_schema: str, fold_batch) -> str:
    """applyInPandasWithState fallback branch (no google.protobuf)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold_totals(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n, cents = fold_batch(pdf, n, cents)
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        fold_totals,
        outputStructType=out_schema,
        stateStructType="n BIGINT, cents BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_stream(out, "update")
