"""One driver process of a benchmark run; ``run.py`` starts it.

    python3 perfbench/worker.py <spec.json> <monotonic time the process was spawned>

It times the set-up (engine import, session start, one lineitem scan)
from the spawn time, then runs passes over the workload until
``seconds`` have passed since the first began, at least one.  Every
pass starts with ``clear_derived_caches`` and runs each key once,
building the DataFrame (the query function) and materializing it
(``toPandas``): one client in a closed loop.  Each result is checked
after the pass's timer stops.  In a traced process every pass records
spans and counters.  Last it stops the session, waits for the JVM to
exit and writes its result as JSON.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import SparkCounters, Tracer, peak_rss_mb, process_cpu, self_times  # noqa: E402
from metrics import LAYER_UNITS  # noqa: E402
from workloads import pass_order  # noqa: E402


def sf_dir(entry) -> str:
    """The sf0.1 fixtures: the directory beside the sf0.001 one that
    ``__spark_entry__.SF0001`` names."""
    return os.path.join(os.path.dirname(entry.SF0001), "sf0.1")


def layer_of(fn) -> str:
    """The package module that registers a query: ``operators``, ``ml``
    or ``streaming``."""
    return fn.__module__.split(".")[1]


def run_pass(spark, session, fns, keys, sf, checker, tracer, tid, cpu_clock):
    """Run every key once; return (wall seconds, the change in each
    CPU counter ``cpu_clock`` reports, failures)."""
    done = []
    start, cpu0 = time.monotonic(), cpu_clock()
    with tracer.span("pass", tid):
        with tracer.span("session.clear_caches", f"{tid}/clear", spark_work=True):
            session.clear_derived_caches(spark)
        for key in keys:
            qid = f"{tid}/{key}"
            try:
                with tracer.span("query", qid):
                    with tracer.span(f"{layer_of(fns[key])}.build", qid, spark_work=True):
                        df = fns[key](spark, sf)
                    if tracer.active:
                        with tracer.span("catalyst.plan", qid, spark_work=True):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("collect.materialize", qid, spark_work=True) as c:
                        pdf = df.toPandas()
                        c["rows"] = len(pdf)
                done.append((key, df, pdf))
            except Exception:  # a failing query is counted, the run goes on
                done.append((key, None, traceback.format_exc(limit=3)))
    wall = time.monotonic() - start
    cpu = {k: v - cpu0[k] for k, v in cpu_clock().items()}
    failures = []
    for key, df, pdf in done:
        why = pdf if df is None else checker.problem(key, pdf, df.schema.simpleString())
        if why:
            failures.append(f"{key}: {why}")
    return wall, cpu, failures


def layer_metrics(spans: list[dict], cpus: int) -> dict:
    """Per-layer sums over the spans of one traced pass."""
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    batches = nonempty = 0
    for s in spans:
        name, c, dur = s["name"], s["counters"], s["end"] - s["start"]
        layer = name.split(".")[0]
        if name == "session.clear_caches":
            m["session.clear_caches_s"] += dur
        elif name == "catalyst.plan":
            m["catalyst.plan_s"] += dur
        elif name == "collect.materialize":
            m["collect.materialize_s"] += dur
            for k in ("jobs", "stages", "tasks", "driver_cpu_s", "rows"):
                m[f"collect.{k}"] += c[k]
        elif name.endswith(".build"):
            m[f"{layer}.build_s"] += dur
            m[f"{layer}.build_jobs"] += c["jobs"]
            m[f"{layer}.build_driver_cpu_s"] += c["driver_cpu_s"]
        if "jobs" in c:
            for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
                m[f"spark.{k}"] += c[k]
            batches += c["batches"]
            nonempty += c["nonempty_batches"]
    pass_span = next(s for s in spans if s["name"] == "pass")
    wall = pass_span["end"] - pass_span["start"]
    m["spark.busy_ratio"] = m["spark.executor_run_s"] / (wall * cpus)
    m["streaming.batches"] = batches
    m["streaming.nonempty_batch_ratio"] = nonempty / batches if batches else 0.0
    m["jvm.cpu_s"] = pass_span["counters"]["jvm"]
    m["pyworker.cpu_s"] = pass_span["counters"]["pyworker"]
    return m


def main(spec: dict, spawned: float) -> dict:
    wl, root = spec["workload"], spec["root"]
    sys.path.insert(0, root)
    os.chdir(root)
    tracer = Tracer()
    tracer.active = True  # set-up spans carry no counters, so always cheap
    sid = f"{wl}/setup"
    with tracer.span("registry.import", sid):
        import __spark_entry__ as entry
        from antidote_data_framework_spark import session
        from antidote_data_framework_spark.sources import load_table
        from pyspark import SparkContext
        from pyspark.sql import functions as F
    with tracer.span("session.start", sid):
        spark = session.get_spark("perfbench")
    sf = sf_dir(entry)
    with tracer.span("sources.warmup", sid):
        load_table(spark, sf, "lineitem").agg(
            F.count(F.lit(1)), F.sum("l_extendedprice")
        ).collect()
    out = {"setup_s": time.monotonic() - spawned}
    proc = SparkContext._gateway.proc
    out["jvm_pid"] = proc.pid
    out["setup_layers"] = {
        f"{s['name']}_s": s["end"] - s["start"] for s in tracer.spans
    }
    try:
        out.update(run_workload(spec, spark, session, entry, sf, tracer, proc.pid))
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    out["spans"] = tracer.spans
    out["self_s"] = self_times(tracer.spans)
    return out


def run_workload(spec, spark, session, entry, sf, tracer, jvm_pid) -> dict:
    from check import Checker

    wl, traced = spec["workload"], spec["trace"]
    keys = pass_order(wl, spec["seed"])
    fns = entry.queries()
    checker = Checker.load(spec["root"], keys)
    if traced:
        tracer.counters = SparkCounters(spark)
    failures: list[str] = []
    walls, cpu_times, layers = [], [], []
    tracer.active = traced
    deadline = time.monotonic() + spec["seconds"]
    while not walls or time.monotonic() < deadline:
        first_span = len(tracer.spans)
        wall, cpu, bad = run_pass(
            spark, session, fns, keys, sf, checker, tracer, f"{wl}/{len(walls)}",
            lambda: process_cpu(jvm_pid),
        )
        failures += bad
        walls.append(wall)
        cpu_times.append(sum(cpu.values()))
        if traced:
            tracer.spans[first_span]["counters"].update(cpu)
            layers.append(layer_metrics(tracer.spans[first_span:], spec["cpus"]))
    for f in failures:
        print("FAILED", f, file=sys.stderr)
    out = {
        "attempted": len(walls) * len(keys), "failed": len(failures),
        "walls": walls, "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpu_times),
    }
    if traced:
        out["layers"] = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        out["layers"]["jvm.peak_rss_mb"] = peak_rss_mb(jvm_pid)
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    try:
        result = main(spec, float(sys.argv[2]))
    except Exception:
        result = {"error": traceback.format_exc()}
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)
