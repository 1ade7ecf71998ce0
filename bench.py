"""Benchmark harness — times every registered query at $SPARK_GRAFT_SF_DIR.

Driver contract output (r01 lesson: the driver tail-captures stdout, so
a single enormous JSON line got truncated to an unparseable tail —
BENCH_r01.json recorded ``"parsed": null``):

- stdout line 1: the full contract JSON
  ``{"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": S}``.
- stdout last line: a COMPACT headline (metric/value/unit/sf +
  queries_file pointer) that stays complete even when only the tail
  of stdout is captured.
- the full per-query stats (median/min/all runs) are written to
  ``bench_queries.json`` next to this script (and echoed per-run on
  stderr as it runs).

Timing methodology (r2+r3 ADVICE, fixed for good this round):

- **The timer wraps ``fn(spark, sf_dir)`` AND the materialization.**
  Eager work inside ``fn`` — ALS/KMeans fits, the antidote loop,
  streaming executions, iterative connected components — is measured.
  For lazy queries the plan construction adds only milliseconds.
- **Median of N sweeps** (``SPARK_GRAFT_BENCH_RUNS``, default 3):
  r2→r3 showed 3–8× code-invariant single-shot swings (minhash
  54→6.9 s with zero code change), so one-shot numbers cannot
  distinguish regression from noise.  The suite is swept N times and
  each query reports its median; min + raw runs go to
  bench_queries.json.
- **Sweeps start cold, queries within a sweep share.**  Derived-state
  caches (ALS model, bias-prediction pipeline) are cleared at the top
  of every sweep, so each sweep re-pays every eager fit exactly once
  — the first query that needs a shared artifact pays for it, later
  ones ride it, mirroring a production session.  Sweep order is the
  registration order and identical across sweeps, so per-query
  medians compare like with like.
- **Wall-clock budget** (``SPARK_GRAFT_BENCH_BUDGET_SEC``, default
  1500): a new sweep only starts while under budget; medians are then
  taken over the sweeps that ran (n_runs recorded per query).
- The driver-side materialization path (Arrow ``toPandas`` vs
  ``collect``) is chosen from the result schema after the plan is
  built, before any execution.  If the chosen path still fails, the
  timer restarts before the fallback so the recorded time covers one
  execution (the rebuilt ``fn`` may ride caches populated by the
  failed attempt; acceptable for an error path that never fires in a
  green run).
"""

from __future__ import annotations

import atexit
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from antidote_data_framework_spark.session import clear_derived_caches, get_spark  # noqa: E402
from antidote_data_framework_spark.sources import load_table  # noqa: E402

from pyspark.sql import types as T  # noqa: E402

_ARROW_UNFRIENDLY = (T.ArrayType, T.MapType, T.StructType)

# ---------------------------------------------------------------------
# Host-drift canaries (r11 VERDICT #3).  The box's speed moves between
# driver rounds on BYTE-IDENTICAL code (r11: ~+6% fleet-wide, ~1.5x on
# Python-boundary operators vs r9 — proven environmental by interleaved
# A/B on the same SHA), so raw round-over-round ratios conflate host
# drift with real regressions.  Three frozen queries — one per
# execution class — act as drift meters: the tracker divides every
# query's ratio by its class canary's ratio before flagging.  The
# canaries' SOURCE is pinned by tests/test_bench_canaries.py (edit one
# and the test forces an explicit re-pin decision), so a canary move
# is by construction host drift, not code.
CANARIES = {
    "scan": "q_scan_project_filter",     # codegen parquet scan+filter
    "shuffle": "q_join_5way_star",       # multi-join shuffle pipeline
    "pandas": "q_image_phash_neardup",   # Arrow/pandas boundary kernel
}
# Queries whose HOT PATH crosses the Python boundary (mapInPandas /
# applyInPandas / pandas_udf / mapInArrow / Python data source /
# Python-driven micro-batches) — normalized by the pandas canary;
# everything else by the shuffle canary (the scan canary only meters
# itself; scan-bound and shuffle-bound JVM code drift together).
PANDAS_CLASS = {
    # streaming with Python-boundary stages / Python sources
    "q_stream_custom_stateful", "q_stream_heavy_hitters",
    "q_stream_pattern_match", "q_stream_checkpoint_recovery",
    "q_stream_ewma_stateful", "q_stream_cusum_stateful",
    "q_stream_outer_join", "q_stream_python_source",
    "q_stream_transform_with_state",
    # applyInPandas recurrences
    "q_holt_linear", "q_holt_linear_chunked", "q_ewma_recurrence_chunked",
    # declared UDF-surface demos
    "q_udf_surface", "q_cogroup_align", "q_udtf_chunker", "q_maparrow_norms",
    # multimodal decode kernels
    "q_multimodal_features", "q_image_phash_neardup",
    "q_video_framesample", "q_multimodal_framesample",
    # Python sources / codecs
    "q_source_custom_pyds", "q_source_binaryfile", "q_source_avro_roundtrip",
    # pandas-stage ML / feature ops
    "q_isotonic_pav", "q_compression_ratio", "q_heavy_hitters",
    "q_countmin_sketch", "q_als_recommend_ann", "q_als_warmstart_refit",
    "q_antidote_step", "q_antidote_loop", "q_antidote_grad_sharded",
    "q_antidote_step_fairness", "q_embed_gram", "q_pca_project",
}


def _drift_class(name: str) -> str:
    if name in PANDAS_CLASS:
        return "pandas"
    if name == CANARIES["scan"]:
        return "scan"
    return "shuffle"


# Mid-sweep / end-of-sweep canary replicas (r12 VERDICT #2/#4): the
# fixed-position canaries proved blind to IN-SWEEP pressure twice in
# r12 (canaries ~1.0 while the late-sweep tail ran ~1.3x), so each
# sweep re-times every pinned canary at the sweep midpoint and after
# the last query under reserved "__canary_<class>_{mid,end}" keys.
# Replicas run the SAME hash-pinned query functions (the source pin in
# tests/test_bench_canaries.py covers them by construction), are
# EXCLUDED from the suite total and from regression flagging, and give
# the tracker a drift ratio per (class, sweep position): each query is
# normalized by its class's nearest-position canary sample instead of
# one fixed-position sample.
_REPLICA_PREFIX = "__canary_"


def _replica_keys() -> dict[str, str]:
    """replica key -> canary class, for both sweep positions."""
    return {
        f"{_REPLICA_PREFIX}{cls}_{pos}": cls
        for cls in CANARIES
        for pos in ("mid", "end")
    }


def _class_ratio_points(
    cls: str,
    qnames: list[str],
    ratio_at: "callable",
) -> list[tuple[int, float]]:
    """Drift-ratio sample points (sweep index, now/prev ratio) for one
    canary class: the registered canary's own sweep position plus the
    mid/end replicas.  Points whose prev or now median is missing are
    dropped (first run after the replica feature lands, or a failed
    canary)."""
    points: list[tuple[int, float]] = []
    cname = CANARIES[cls]
    if cname in qnames:
        r = ratio_at(cname)
        if r is not None:
            points.append((qnames.index(cname), r))
    n_q = len(qnames)
    for pos, idx in (("mid", max(0, n_q // 2 - 1)), ("end", n_q - 1)):
        r = ratio_at(f"{_REPLICA_PREFIX}{cls}_{pos}")
        if r is not None:
            points.append((idx, r))
    return points


def _nearest_ratio(points: list[tuple[int, float]], idx: int) -> float:
    """Drift ratio of the sample point nearest to sweep index `idx`
    (1.0 when no points exist — no adjustment rather than a bogus
    one)."""
    if not points:
        return 1.0
    return min(points, key=lambda p: abs(p[0] - idx))[1]


def _record_paths(here: str, cpus: str, subset: str) -> tuple[str, str | None]:
    """(record_file, prev_file_for_comparison) for this run.

    r12 VERDICT #3 (bench self-clobber): the driver's 8-core scaling
    run used to overwrite ``bench_queries.json`` — the 32-core tracker
    anchor — destroying the anchor AND its flags.  Full runs now
    always write ``bench_queries_c<cpus>.json``; ``bench_queries.json``
    IS the c32 file (the anchor) and is only produced when cpus == 32.
    Comparison is keyed on cpus too: a run compares against the
    previous record AT ITS OWN core count, never across core counts.
    Subset runs keep writing ``bench_queries_subset.json`` and never
    compare."""
    if subset:
        return os.path.join(here, "bench_queries_subset.json"), None
    if cpus == "32":
        path = os.path.join(here, "bench_queries.json")
        return path, path
    path = os.path.join(here, f"bench_queries_c{cpus}.json")
    return path, path


def _wants_collect(df) -> bool:
    """Pick the driver-side materialization path from the schema alone
    (plan analysis only — no execution)."""
    return any(isinstance(f.dataType, _ARROW_UNFRIENDLY) for f in df.schema.fields)


def _run_once(spark, sf_dir: str, fn) -> float:
    """One timed execution: plan construction + eager work + full
    driver-side materialization."""
    t0 = time.time()
    df = fn(spark, sf_dir)
    use_collect = _wants_collect(df)
    try:
        df.collect() if use_collect else df.toPandas()
    except Exception:
        # unexpected conversion failure: restart the timer so the
        # recorded number covers ONE execution, not two
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.collect()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_sweeps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark("bench")
    # Warm-up: JIT + parquet footer caches, excluded from per-query time.
    load_table(spark, sf_dir, "lineitem").count()

    qs = entrymod.queries()
    # optional subset for targeted runs / fast shutdown-path checks:
    # SPARK_GRAFT_BENCH_QUERIES=q_a,q_b python bench.py
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if subset:
        want = {k.strip() for k in subset.split(",") if k.strip()}
        unknown = want - set(qs)
        if unknown:
            raise SystemExit(f"bench: unknown query keys: {sorted(unknown)}")
        qs = {k: v for k, v in qs.items() if k in want}
    # canary replicas run on FULL runs only (subset probes stay lean);
    # the mid replicas fire after the sweep's midpoint query, the end
    # replicas after its last query.
    replicas = _replica_keys() if not subset else {}
    qnames = list(qs)
    mid_name = qnames[max(0, len(qnames) // 2 - 1)] if replicas else None
    runs: dict[str, list[float]] = {name: [] for name in qs}
    runs.update({rk: [] for rk in replicas})

    def _time_replicas(sweep: int, pos: str) -> None:
        for rk, cls in replicas.items():
            if not rk.endswith(f"_{pos}"):
                continue
            try:
                sec = _run_once(spark, sf_dir, qs[CANARIES[cls]])
                runs[rk].append(sec)
                print(
                    f"bench[{sweep + 1}/{n_sweeps}]: {rk} {sec:.2f}s",
                    file=sys.stderr,
                )
            except Exception as exc:
                print(
                    f"bench[{sweep + 1}/{n_sweeps}]: {rk} failed: {exc}",
                    file=sys.stderr,
                )

    t_start = time.time()
    sweeps_done = 0
    for sweep in range(n_sweeps):
        if sweep > 0 and time.time() - t_start > budget:
            print(
                f"bench: budget {budget:.0f}s reached after sweep {sweep} — "
                f"medians use {sweep} run(s)",
                file=sys.stderr,
            )
            break
        clear_derived_caches(spark)
        for name, fn in qs.items():
            try:
                sec = _run_once(spark, sf_dir, fn)
                runs[name].append(sec)
                print(f"bench[{sweep + 1}/{n_sweeps}]: {name} {sec:.2f}s", file=sys.stderr)
            except Exception as exc:  # a failing query must not kill the bench
                print(f"bench[{sweep + 1}/{n_sweeps}]: {name} failed: {exc}", file=sys.stderr)
            if name == mid_name:
                _time_replicas(sweep, "mid")
        _time_replicas(sweep, "end")
        sweeps_done = sweep + 1

    times: dict[str, float] = {}
    stats: dict[str, dict] = {}
    for name, rs in runs.items():
        if rs:
            times[name] = round(statistics.median(rs), 3)
            stats[name] = {
                "median": times[name],
                "min": round(min(rs), 3),
                "n_runs": len(rs),
                "runs": [round(r, 3) for r in rs],
            }
        else:
            times[name] = -1.0
            stats[name] = {"median": -1.0, "min": -1.0, "n_runs": 0, "runs": []}

    total = round(
        sum(
            t
            for name, t in times.items()
            if t >= 0 and not name.startswith(_REPLICA_PREFIX)
        ),
        3,
    )

    # Per-query regression tracking (r5 VERDICT #4): compare this run's
    # medians against the COMMITTED bench_queries.json (the previous
    # round's per-query record — BENCH_r{N}.json only keeps the compact
    # headline), so "suite-growth session pressure vs real regression"
    # is decided by data at bench time, not archaeology after the
    # round.  Only same-SF runs compare; a query is flagged when BOTH
    # its median AND its min-of-runs are >=1.5x the previous record and
    # >=0.5s slower absolute.  The min gate is the noise filter (r5->r6
    # lesson: median-only flagged 5 queries whose raw runs swung
    # 0.7-5 s with zero code change — GC/codegen session pressure moves
    # the tail and can move the median of 3, but a real regression
    # shifts the BEST observation too).
    here = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    queries_file, prev_file = _record_paths(here, cpus, subset)
    regressions: dict[str, dict] = {}
    prev_sf = None
    prev_stats: dict[str, dict] = {}
    if prev_file is not None:
        try:
            with open(prev_file) as f:
                prev_doc = json.load(f)
            prev_sf = prev_doc.get("sf")
            prev_stats = prev_doc.get("queries", {})
        except Exception:
            prev_stats = {}
    canary_ratios: dict[str, float] = {}
    canary_points: dict[str, list[tuple[int, float]]] = {}
    if prev_sf == sf:
        def _ratio_at(key: str):
            was = prev_stats.get(key, {}).get("median")
            now = times.get(key, -1.0)
            if was and was > 0 and now > 0:
                return round(now / was, 3)
            return None

        # canary drift ratios (1.0 when a canary is missing or failed —
        # no adjustment rather than a bogus one); per-position sample
        # points feed the nearest-position normalization below.
        for cls, cname in CANARIES.items():
            canary_ratios[cls] = _ratio_at(cname) or 1.0
            canary_points[cls] = _class_ratio_points(cls, qnames, _ratio_at)
        for name, now in times.items():
            if name.startswith(_REPLICA_PREFIX):
                continue  # replicas are meters, never flagged
            was = prev_stats.get(name, {}).get("median")
            if was is None or was <= 0 or now <= 0:
                continue
            was_min = prev_stats.get(name, {}).get("min", was)
            now_min = stats[name]["min"]
            # canary-adjusted ratios (r11 VERDICT #3, position-aware
            # since r13): divide by the drift of the class canary
            # sample NEAREST this query's sweep position, so in-sweep
            # pressure (late-sweep tails running hot while the early
            # canaries read 1.0) is metered too.  Canaries themselves
            # are never flagged — their source is test-pinned, so
            # their movement IS the meter.
            cls = _drift_class(name)
            idx = qnames.index(name) if name in qnames else 0
            drift = max(_nearest_ratio(canary_points.get(cls, []), idx), 0.1)
            adj = (now / was) / drift
            adj_min = (now_min / was_min) / drift if was_min > 0 else adj
            median_reg = adj >= 1.5 and now - was >= 0.5
            min_reg = adj_min >= 1.5 and now_min - was_min >= 0.5
            if median_reg and min_reg and name not in CANARIES.values():
                regressions[name] = {
                    "prev_median": was,
                    "median": now,
                    "prev_min": was_min,
                    "min": now_min,
                    "ratio": round(now / was, 2),
                    "drift_class": cls,
                    "canary_adjusted_ratio": round(adj, 2),
                }
    # Budget-guard visibility (r4 VERDICT #7): record how close the
    # sweep loop came to the budget so a silent drop from 3 sweeps to
    # 2 (medians comparing unlike with like round-over-round) is
    # readable straight from the artifact.
    elapsed = round(time.time() - t_start, 1)
    min_runs = min((len(rs) for rs in runs.values()), default=0)
    with open(queries_file, "w") as f:
        json.dump(
            {
                "sf": sf,
                "cpus": cpus,
                "total_query_sec": total,
                "sweeps": sweeps_done,
                "budget_sec": budget,
                "elapsed_sec": elapsed,
                "budget_headroom_sec": round(budget - elapsed, 1),
                "min_runs_any_query": min_runs,
                "canary_ratios": canary_ratios,
                "canary_ratio_points": {
                    cls: [[i, r] for i, r in pts]
                    for cls, pts in canary_points.items()
                },
                "regressions_vs_prev": regressions,
                "queries": stats,
            },
            f,
            indent=1,
        )

    contract_line = json.dumps(
        {
            "metric": "total_query_sec",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": sf,
        }
    )
    headline_line = json.dumps(
        {
            "metric": "total_query_sec",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": sum(
                1 for n in times if not n.startswith(_REPLICA_PREFIX)
            ),
            "n_failed": sum(
                1
                for n, t in times.items()
                if t < 0 and not n.startswith(_REPLICA_PREFIX)
            ),
            "canary_replicas": sum(
                1 for n in times if n.startswith(_REPLICA_PREFIX)
            ),
            "sweeps": sweeps_done,
            "budget_headroom_sec": round(budget - elapsed, 1),
            "n_regressions_vs_prev": len(regressions),
            "canary_ratios": canary_ratios,
            "queries_file": os.path.basename(queries_file),
        }
    )

    # Shutdown BEFORE printing (r9 VERDICT #1): JVM noise written to
    # stderr after the headline can push the JSON out of a short tail
    # capture.  Stop any active streaming queries and the session, THEN
    # emit the machine-parsed lines last.
    try:
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:
                pass
        spark.stop()
    except Exception as exc:  # shutdown noise must never cost the artifact
        print(f"bench: shutdown warning: {exc}", file=sys.stderr)

    # Belt-and-braces: if anything below is interrupted, atexit still
    # re-prints the headline as the true last line of stdout.  The hook
    # is a no-op once the normal print path completed (r10 ADVICE #4:
    # unconditional re-print left a successful run ending in TWO
    # identical headline lines, surprising a last-two-lines parser).
    printed_ok = False

    def _reprint_if_interrupted() -> None:
        if not printed_ok:
            print(headline_line)
            sys.stdout.flush()

    atexit.register(_reprint_if_interrupted)

    # Line 1: the full driver-contract JSON (metric + per-query map).
    print(contract_line)
    # Last line: compact headline — complete even under tail-capture.
    print(headline_line)
    sys.stdout.flush()
    printed_ok = True


if __name__ == "__main__":
    main()
