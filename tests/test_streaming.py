"""Streaming equivalence (SURVEY §5.2.4): the streaming windowed
aggregation must agree with its batch twin on every window it emits."""

from __future__ import annotations

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _cents(F):
    return F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
        "sum_cents"
    )


def test_stream_tumbling_matches_batch_twin(spark, sf_dir):
    # vs the REGISTERED batch twin (r10 ADVICE #5): both halves emit
    # integer sum_cents again, so the documented twin relationship is
    # what this test exercises — not an inline re-implementation.
    batch = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"],
            r["sum_cents"],
        )
        for r in QUERIES["q_window_tumbling"](spark, sf_dir).collect()
    }
    streamed = QUERIES["q_stream_tumbling_watermark"](spark, sf_dir).collect()
    assert len(streamed) > 0, "append mode emitted nothing — watermark never advanced"
    for r in streamed:
        key = (r["window_start"], r["window_end"], r["event_type"])
        assert key in batch, f"streamed window {key} missing from batch result"
        assert (r["n_events"], r["sum_cents"]) == batch[key], key


def test_stream_dedup_drops_all_replays(spark, sf_dir):
    rows = QUERIES["q_stream_dedup_stateful"](spark, sf_dir).collect()
    assert len(rows) > 0
    streamed_total = sum(r["n_distinct_events"] for r in rows)
    batch_days = {
        (r["window_start"], r["window_end"]): r["n_events"]
        for r in (
            QUERIES["q_window_tumbling"](spark, sf_dir)
            .groupBy("window_start", "window_end")
            .sum("n_events")
            .withColumnRenamed("sum(n_events)", "n_events")
            .collect()
        )
    }
    # every emitted day's deduped count equals the batch count for that day
    for r in rows:
        for (ws, we), n in batch_days.items():
            if ws == r["window_start"]:
                assert r["n_distinct_events"] == n, ws


def test_stream_session_matches_batch_twin(spark, sf_dir):
    """Every session the stream finalizes (append mode) must exist in
    the batch session-window result with identical bounds and aggregates
    — the merge logic is the same, only emission timing differs."""
    # vs the REGISTERED batch twin (r10 ADVICE #5), same as tumbling.
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["sum_cents"],
        )
        for r in QUERIES["q_window_session"](spark, sf_dir).collect()
    }
    streamed = QUERIES["q_stream_session_window"](spark, sf_dir).collect()
    assert len(streamed) > 0, "append mode emitted no closed sessions"
    for r in streamed:
        key = (r["user_id"], r["session_start"], r["session_end"])
        assert key in batch, f"streamed session {key} missing from batch result"
        assert (r["n_events"], r["sum_cents"]) == batch[key], key


def test_stream_static_join_matches_batch_twin(spark, sf_dir):
    from antidote_data_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    batch = {
        r["segment"]: (r["n_events"], r["sum_cents"])
        for r in (
            load_table(spark, sf_dir, "events")
            .join(dim, "user_id")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_events"), _cents(F))
            .collect()
        )
    }
    streamed = QUERIES["q_stream_static_join"](spark, sf_dir).collect()
    assert len(streamed) == len(batch)
    for r in streamed:
        assert (r["n_events"], r["sum_cents"]) == batch[r["segment"]], r["segment"]


def test_stream_stream_join_matches_batch_twin(spark, sf_dir):
    from antidote_data_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = {
        r["click_day"]: r["n"]
        for r in (
            clicks.join(
                purchases,
                (F.col("c_user") == F.col("p_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY")),
            )
            .groupBy(F.date_trunc("day", "c_ts").alias("click_day"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    streamed = QUERIES["q_stream_stream_join"](spark, sf_dir).collect()
    assert len(streamed) > 0
    # complete coverage, not just emitted-subset: a watermark evicting
    # click state early would silently drop whole days of pairs
    assert {r["click_day"] for r in streamed} == set(batch)
    for r in streamed:
        assert batch[r["click_day"]] == r["n_attributed_pairs"], r["click_day"]


def test_stream_lakehouse_ingest_exactly_once(spark, sf_dir):
    row = QUERIES["q_stream_lakehouse_ingest"](spark, sf_dir).collect()[0]
    assert row["exactly_once"] is True
    assert row["n_rows_ingested"] == row["n_source_rows"]
    assert row["n_commits"] >= 2  # one commit per micro-batch


def test_stream_pattern_match_matches_batch_twin(spark, sf_dir):
    """The stateful streaming pattern detector must converge to the
    batch window operator's per-user match counts — including
    patterns that straddle micro-batch boundaries (state carries the
    last two event types across batches)."""
    batch = {
        r["user_id"]: r["n_matches"]
        for r in QUERIES["q_event_pattern_match"](spark, sf_dir).collect()
    }
    streamed = {
        r["user_id"]: r["n_matches"]
        for r in QUERIES["q_stream_pattern_match"](spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_backfill_availablenow_matches_batch_twin(spark, sf_dir):
    """AvailableNow must drain every staged file then stop, leaving
    exactly the batch census: same event types, counts, cents."""
    from antidote_data_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    batch = {
        r["event_type"]: (r["n_events"], r["cents"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    streamed = {
        r["event_type"]: (r["n_events"], r["cents"])
        for r in QUERIES["q_stream_backfill_availablenow"](spark, sf_dir).collect()
    }
    assert streamed == batch


def test_checkpoint_recovery_is_exactly_once(spark, sf_dir):
    """Phase 2 must process only the post-crash files (delta, not the
    corpus), and the final census equals the batch answer."""
    from antidote_data_framework_spark.sources import load_table
    from pyspark.sql import functions as F

    out = QUERIES["q_stream_checkpoint_recovery"](spark, sf_dir).collect()
    batch = {
        r["event_type"]: (r["n_events"], r["cents"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    streamed = {r["event_type"]: (r["n_events"], r["cents"]) for r in out}
    assert streamed == batch
    total = sum(n for n, _ in batch.values())
    p1, p2 = out[0]["phase1_rows"], out[0]["phase2_rows"]
    assert p1 + p2 == total  # no re-read, no double-count
    assert 0 < p2 < total  # phase 2 was a true delta


def test_stage_events_invalidates_on_fixture_change(spark, sf_dir, tmp_path):
    """r4 VERDICT #2: if the driver regenerates events.parquet in
    place, the staged stream input must re-stage instead of silently
    serving the stale copy.  The marker is keyed on the source file's
    mtime+size, so an in-place rewrite (same path, new mtime) busts
    the cache."""
    import os
    import shutil

    from antidote_data_framework_spark.sources import fixtures
    from antidote_data_framework_spark.streaming.stream_queries import _stage_events

    fix = tmp_path / "sfX"
    fix.mkdir()
    shutil.copyfile(f"{sf_dir}/events.parquet", fix / "events.parquet")
    staged1 = _stage_events(spark, str(fix))
    files1 = {f: os.stat(os.path.join(staged1, f)).st_mtime_ns
              for f in os.listdir(staged1) if f.endswith(".parquet")}
    assert files1, "staging produced no files"

    # reuse: same fixture bytes -> same staged dir, untouched
    staged2 = _stage_events(spark, str(fix))
    files2 = {f: os.stat(os.path.join(staged2, f)).st_mtime_ns
              for f in os.listdir(staged2) if f.endswith(".parquet")}
    assert staged2 == staged1 and files2 == files1, "unchanged fixture re-staged"

    # in-place regeneration (content may or may not differ; mtime does)
    os.utime(fix / "events.parquet")
    fixtures._DF_CACHE.clear()  # the driver's regeneration = a fresh session
    staged3 = _stage_events(spark, str(fix))
    files3 = {f: os.stat(os.path.join(staged3, f)).st_mtime_ns
              for f in os.listdir(staged3) if f.endswith(".parquet")}
    assert files3 != files1, "stale staged copy served after fixture change"
    shutil.rmtree(staged1, ignore_errors=True)


def test_stream_ewma_equals_python_replay(spark, sf_dir):
    """The stateful streaming EWMA must equal the same sequential fold
    replayed in plain Python over the staged events, per user."""
    import __spark_entry__ as entrymod
    from antidote_data_framework_spark.streaming.stream_queries import _stage_events

    got = {
        r["user_id"]: r
        for r in entrymod.queries()["q_stream_ewma_stateful"](spark, sf_dir).collect()
    }
    src = _stage_events(spark, sf_dir, n_files=2)
    rows = (
        spark.read.parquet(src)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    rows.sort(key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    state: dict = {}
    for r in rows:
        c = float(round(r["value"] * 100))
        s, n = state.get(r["user_id"], (0.0, 0))
        s = c if n == 0 else (c + s) / 2.0
        state[r["user_id"]] = (s, n + 1)
    assert set(got) == set(state)
    for uid, (s, n) in state.items():
        assert got[uid]["n_events"] == n, uid
        assert abs(got[uid]["ewma_cents"] - round(s, 4)) < 1e-9, uid


def test_stream_cusum_equals_python_replay(spark, sf_dir):
    """The stateful streaming CUSUM must equal Page's sequential
    recursion (with restart-on-alarm) replayed in plain Python."""
    import __spark_entry__ as entrymod
    from antidote_data_framework_spark.streaming.stream_queries import _stage_events

    got = {
        r["user_id"]: r
        for r in entrymod.queries()["q_stream_cusum_stateful"](spark, sf_dir).collect()
    }
    src = _stage_events(spark, sf_dir, n_files=2)
    rows = (
        spark.read.parquet(src)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    rows.sort(key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    K, H = 10000.0, 50000.0
    state: dict = {}
    for r in rows:
        c = float(round(r["value"] * 100))
        sp, sn, n, alarms = state.get(r["user_id"], (0.0, 0.0, 0, 0))
        sp = max(0.0, sp + (c - K))
        sn = max(0.0, sn + (K - c))
        n += 1
        if sp > H:
            alarms, sp = alarms + 1, 0.0
        if sn > H:
            alarms, sn = alarms + 1, 0.0
        state[r["user_id"]] = (sp, sn, n, alarms)
    assert set(got) == set(state)
    for uid, (sp, sn, n, alarms) in state.items():
        assert got[uid]["n_events"] == n, uid
        assert abs(got[uid]["s_pos"] - round(sp, 2)) < 1e-9, uid
        assert abs(got[uid]["s_neg"] - round(sn, 2)) < 1e-9, uid
        assert got[uid]["n_alarms"] == alarms, uid


def test_tws_gate_detects_injected_protobuf(monkeypatch):
    """r9 VERDICT #5: the transformWithState capability gate must flip
    when google.protobuf becomes importable (stub injected into
    sys.modules) and stay False in this container where it is absent —
    so a protobuf-equipped cluster cannot silently take the fallback."""
    import sys
    import types

    from antidote_data_framework_spark.streaming import stream_queries as sq

    # This container ships no protobuf (SURVEY §0 environment contract).
    assert sq._tws_path_available() is False

    google = types.ModuleType("google")
    protobuf = types.ModuleType("google.protobuf")
    google.protobuf = protobuf
    monkeypatch.setitem(sys.modules, "google", google)
    monkeypatch.setitem(sys.modules, "google.protobuf", protobuf)
    assert sq._tws_path_available() is True


def test_tws_branch_selection_honors_gate(spark, sf_dir, monkeypatch):
    """The query must route to _run_totals_tws when the gate is True and
    _run_totals_aipws when False — pinned with sentinel runners so the
    dispatch itself (not the stream) is under test."""
    from antidote_data_framework_spark.streaming import stream_queries as sq

    class _Taken(Exception):
        pass

    picked = {}

    def _mark(name):
        def _runner(spark_, stream, out_schema, fold_batch):
            picked["branch"] = name
            raise _Taken()

        return _runner

    monkeypatch.setattr(sq, "_run_totals_tws", _mark("tws"))
    monkeypatch.setattr(sq, "_run_totals_aipws", _mark("aipws"))

    monkeypatch.setattr(sq, "_tws_path_available", lambda: True)
    try:
        sq.q_stream_transform_with_state(spark, sf_dir)
    except _Taken:
        pass
    assert picked["branch"] == "tws"

    monkeypatch.setattr(sq, "_tws_path_available", lambda: False)
    try:
        sq.q_stream_transform_with_state(spark, sf_dir)
    except _Taken:
        pass
    assert picked["branch"] == "aipws"
