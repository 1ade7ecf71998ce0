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

Regression flags: wall time is the headline but the second signal.
The first is the per-key counters (jobs, stages, tasks, shuffle bytes,
micro-batches) that ``oracle_check.py --json`` records and compares
against its previous artifact; unlike wall time they do not follow
host speed.  This script flags a query only when its median AND its min-of-runs are both
>=1.5x the previous record at the same SF and core count and >=0.5 s
slower.
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
    runs: dict[str, list[float]] = {name: [] for name in qs}

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

    total = round(sum(t for t in times.values() if t >= 0), 3)

    # Per-query wall flags against the previous record (BENCH_r{N}.json
    # only keeps the compact headline).  Only same-SF runs compare; the
    # min gate is the noise filter (r5->r6 lesson: median-only flagged
    # 5 queries whose raw runs swung 0.7-5 s with zero code change —
    # session pressure moves the tail and can move the median of 3, but
    # a real regression shifts the BEST observation too).
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
    if prev_sf == sf:
        for name, now in times.items():
            was = prev_stats.get(name, {}).get("median")
            if was is None or was <= 0 or now <= 0:
                continue
            was_min = prev_stats.get(name, {}).get("min", was)
            now_min = stats[name]["min"]
            median_reg = now / was >= 1.5 and now - was >= 0.5
            min_reg = was_min > 0 and now_min / was_min >= 1.5 and now_min - was_min >= 0.5
            if median_reg and min_reg:
                regressions[name] = {
                    "prev_median": was,
                    "median": now,
                    "prev_min": was_min,
                    "min": now_min,
                    "ratio": round(now / was, 2),
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
            "n_queries": len(times),
            "n_failed": sum(1 for t in times.values() if t < 0),
            "sweeps": sweeps_done,
            "budget_headroom_sec": round(budget - elapsed, 1),
            "n_regressions_vs_prev": len(regressions),
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
