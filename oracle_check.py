"""Local mirror of the driver's DuckDB-oracle verify.

Runs every registered query through Spark AND its oracle SQL through
DuckDB on the same parquet fixtures, then compares row count, column
names, and an order-insensitive canonical row multiset.  Queries with
no oracle get a rows-only check (runs + row count >= 0).

Usage:
    python oracle_check.py                      # all queries at sf0.001
    python oracle_check.py --sf /root/testdata/sf0.01 q_agg_pricing_summary ...
    python oracle_check.py --sf /root/testdata/sf0.01 --json ORACLE_SWEEP_sf0.01.json

The ``--json`` form writes a machine-readable sweep artifact (one entry
per query: mode, pass/fail, row counts, wall seconds, counters) —
committed each round as standing evidence for the queries outside the
driver's 50-slot CORRECTNESS window (VERDICT r4 "Next round" #1).

Each entry's ``counters`` are read from the Spark status store after the
query's build and after its ``toPandas``: ``build_jobs`` (jobs that ran
while the DataFrame was built) plus ``jobs``, ``stages``, ``tasks``,
``shuffle_write_bytes`` and streaming ``batches`` over both.  Unlike
wall time they do not follow host speed, so they are the regression
signal.  Before overwriting the ``--json`` path the run compares its
counters with the artifact already there, prints the keys that changed
and stores them as ``counter_changes`` (``{key: {field: [was, now]}}``).
It compares only when SF, core count, shuffle partitions and key order
all match (the derived-state memo makes counters depend on key order),
and only when neither run staged the events fixture under
``.scratch/``: the run that stages it pays extra build jobs.  The exit
code still means correctness only.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import glob
import json
import math
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from antidote_data_framework_spark.registry import EXPECTED_EMPTY
from antidote_data_framework_spark.session import get_spark
from antidote_data_framework_spark.sources import TABLES
from antidote_data_framework_spark.streaming.stream_queries import SCRATCH
from perfbench.spans import SparkCounters

STAGED_MARKERS = os.path.join(SCRATCH, "events_*", "_staged.json")
COUNTERS = ("build_jobs", "jobs", "stages", "tasks", "shuffle_write_bytes", "batches")
# Keys whose shuffle-write bytes differed between runs of identical
# code -> the largest difference the compare forgives: the spread
# measured over four sf0.01 sweeps on 4 cores.  Shuffle blocks are
# compressed, and the order in which rows reach a task after a shuffle
# is not fixed, so the bytes that task writes can vary.  Every other
# counter must match exactly.  Two keys also flipped counts in those
# sweeps, probably AQE re-planning on the varying sizes (cause not
# pinned down): q_als_rmse_gate (19/20 build jobs, 43/45 stages, 72/83
# tasks) and q_lakehouse_zonemap_skip (15/16 tasks); the compare
# reports them.
BYTE_TOLERANCE = {
    "q_als_rmse_gate": 163_163,
    "q_als_warmstart_refit": 646,
    "q_antidote_loop": 574_136,
    "q_attribution_touch": 81,
    "q_cogroup_align": 124,
    "q_embed_gram": 52,
    "q_fairness_absolute": 1,
    "q_fairness_under_over": 1,
    "q_fairness_value": 1,
    "q_fuzzy_join_names": 606,
    "q_global_sort_range": 174,
    "q_graph_pagerank": 5,
    "q_lakehouse_zonemap_skip": 519,
    "q_negative_sampling": 39_693,
    "q_sink_compaction": 658,
    "q_source_custom_pyds": 1_764,
    "q_tpch_q21_waiting": 6_637,
}


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class CanonError(TypeError):
    """A result cell the driver's canonicalizer cannot hash (or renders
    engine-dependently).  Any query raising this is driver-red."""


def _canon_value(v) -> str:
    """STRICT canonicalization — at least as strict as the driver's.

    Round-1 lesson (VERDICT.md §what's-wrong): the old lenient version
    int-ified ``15.0`` -> ``"15"`` and stringified list cells, hiding
    exactly the divergences the driver catches.  Rules now:

    - list/tuple/ndarray/dict/set cells RAISE (driver: pandas
      sort_values -> ``unhashable type: 'list'``).
    - decimal.Decimal RAISES (DuckDB fetchdf renders DECIMAL/HUGEINT as
      float64 — queries must cast explicitly to BIGINT/DOUBLE instead).
    - float stays float: ``15.0`` renders ``"15.0"``, never ``"15"``.
    """
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (list, tuple, np.ndarray, dict, set, frozenset)):
        raise CanonError(
            f"unhashable result cell of type {type(v).__name__}: "
            "registered queries must emit scalar columns only "
            "(array_join/to_json in Spark, array_to_string in DuckDB)"
        )
    if isinstance(v, decimal.Decimal):
        raise CanonError(
            "Decimal result cell: cast explicitly to DOUBLE or BIGINT on "
            "both engines (DuckDB DECIMAL/HUGEINT round-trips as float64)"
        )
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return "NULL"
        ts = pd.Timestamp(v)
        # tz-aware values canonicalize by INSTANT (UTC wall clock, no
        # offset suffix) — r3 ADVICE: a tz-annotated parquet flavor
        # makes DuckDB emit TIMESTAMPTZ whose "+00:00" isoformat would
        # spuriously mismatch Spark's naive-UTC rendering of the same
        # instant.  (The oracle SQLs also CAST ts outputs to TIMESTAMP
        # so the driver's own canon never sees a tz-aware cell.)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple(_canon_value(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return cols, rows


def compare_one(
    spark, con, name: str, fn, sql: str | None, sf_dir: str,
    counters: SparkCounters | None = None,
) -> tuple[bool, str, dict]:
    if counters is not None:
        counters.harvest()  # drop jobs an earlier failed key left behind
    t0 = time.time()
    df = fn(spark, sf_dir)
    spark_s = time.time() - t0
    build = counters.harvest() if counters is not None else None
    t0 = time.time()
    sdf = df.toPandas()
    spark_s += time.time() - t0
    rec = {"mode": "rows-only" if sql is None else "sql", "spark_rows": len(sdf),
           "spark_sec": round(spark_s, 3)}
    if counters is not None:
        run = counters.harvest()
        rec["counters"] = {"build_jobs": build["jobs"]} | {
            f: build[f] + run[f] for f in COUNTERS[1:]
        }
    # The driver canonicalizes EVERY result, including rows-only ones
    # (r01: q_agg_approx_quantile, no oracle, still crashed its hasher) —
    # so strict canon must succeed even when there is no oracle SQL.
    scols, srows = canon_rows(sdf)
    # Zero-row lint (VERDICT r6 #2): an empty result set makes any
    # hash-match vacuous — empty==empty verifies none of the query's
    # logic.  Queries whose correct fixture answer IS empty must
    # declare @spark_query(..., expected_empty=True).
    if len(sdf) == 0 and name not in EXPECTED_EMPTY:
        return (
            False,
            "ZERO-ROW RESULT (vacuous pass): declare expected_empty=True "
            "in the registry if an empty result is genuinely correct",
            rec,
        )
    if sql is None:
        return True, f"rows-only ok ({len(sdf)} rows, {spark_s:.1f}s)", rec
    ddf = con.execute(sql).fetchdf()
    dcols, drows = canon_rows(ddf)
    rec["oracle_rows"] = len(drows)
    if scols != dcols:
        return False, f"COLUMN MISMATCH spark={scols} duck={dcols}", rec
    if len(srows) != len(drows):
        return False, f"ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}", rec
    if srows != drows:
        diffs = [
            (s, d) for s, d in zip(srows, drows) if s != d
        ][:5]
        detail = "\n".join(f"    spark={s}\n    duck ={d}" for s, d in diffs)
        return False, f"VALUE MISMATCH ({len(diffs)}+ rows differ):\n{detail}", rec
    rec["hash_match"] = True
    return True, f"hash-match ok ({len(srows)} rows, {spark_s:.1f}s)", rec


def counter_changes(prev: dict, now: dict) -> dict[str, dict[str, list]]:
    """``{key: {field: [was, now]}}`` for the keys whose counters differ
    between two ``queries`` records (keys without counters are skipped)."""
    out = {}
    for key, rec in now.items():
        was, cur = prev.get(key, {}).get("counters"), rec.get("counters")
        if not (was and cur):
            continue
        tol = BYTE_TOLERANCE.get(key, 0)
        diff = {
            f: [was[f], cur[f]]
            for f in COUNTERS
            if abs(cur[f] - was[f]) > (tol if f == "shuffle_write_bytes" else 0)
        }
        if diff:
            out[key] = diff
    return out


def compare_blocker(prev: dict, artifact: dict) -> str | None:
    """Why two sweep artifacts' counters are not comparable, or None."""
    for field in ("sf_dir", "cpus", "shuffle_partitions", "keys"):
        if prev.get(field) != artifact[field]:
            return f"{field} differs from the previous artifact"
    if prev.get("staged") or artifact["staged"]:
        return "a run staged the events fixture (its build jobs include the staging)"
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query keys (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--json", dest="json_out", default=None,
                    help="write a machine-readable sweep artifact here")
    args = ap.parse_args()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("oracle_check")
    counters = SparkCounters(spark)
    con = duck_connect(args.sf)
    failed = []
    records: dict[str, dict] = {}
    t_sweep = time.time()
    for name in names:
        try:
            ok, msg, rec = compare_one(
                spark, con, name, qs[name], oracles.get(name), args.sf, counters
            )
        except Exception:
            ok, msg = False, "EXCEPTION\n" + traceback.format_exc(limit=8)
            rec = {"mode": "sql" if oracles.get(name) else "rows-only",
                   "error": traceback.format_exc(limit=2).splitlines()[-1]}
        rec["pass"] = ok
        records[name] = rec
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name}: {msg}")
        if not ok:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed at {args.sf}")
    if failed:
        print("failed:", " ".join(failed))
    if args.json_out:
        artifact = {
            "sf_dir": args.sf,
            "cpus": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "keys": names,
            "staged": sorted(
                os.path.basename(os.path.dirname(m))
                for m in glob.glob(STAGED_MARKERS)
                if os.path.getmtime(m) >= t_sweep
            ),
            "n_queries": len(names),
            "n_passed": len(names) - len(failed),
            "n_failed": len(failed),
            "n_sql_oracled": sum(1 for r in records.values() if r["mode"] == "sql"),
            "n_rows_only": sum(1 for r in records.values() if r["mode"] == "rows-only"),
            "sweep_sec": round(time.time() - t_sweep, 1),
            "queries": records,
        }
        try:
            with open(args.json_out) as fh:
                prev = json.load(fh)
        except (OSError, ValueError):
            prev = None
        blocker = "no previous artifact" if prev is None else compare_blocker(prev, artifact)
        if blocker:
            print(f"counters not compared: {blocker}")
        else:
            changes = counter_changes(prev["queries"], records)
            artifact["counter_changes"] = changes
            print(f"counter changes vs {args.json_out}: {len(changes)} key(s)")
            for name, diff in changes.items():
                print(f"  {name}: " + ", ".join(f"{f} {a} -> {b}" for f, (a, b) in diff.items()))
        with open(args.json_out, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True)
        print(f"wrote {args.json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
