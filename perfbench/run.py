"""Performance benchmark entry point: one run of one workload, timed
from outside.

    python3 perfbench/run.py --workload relational_tpch --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout.  A run starts one fresh driver
process (``perfbench/worker.py``) that sets up (imports the engine,
starts the session, scans lineitem once), runs passes over the
workload's keys for ``--seconds`` (at least one), stops its session and
waits for its JVM to exit.  A traced run (``--trace 1``) starts two such
processes one after the other, the first untraced and the second
traced, so that the difference of their wall times is the tracing
overhead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see ``BENCHMARK.json`` and ``perfbench/README.md``).  The line
before it states the same figures and the error rate for a reader.  The
exit code is non-zero, and no result is printed, when the checkout lacks
the engine or a worker process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END_UNITS, LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# A run must end within 180 s; the worker processes share this much.
RUN_LIMIT_S = 165
# Pause between the two processes of a traced run, so the freed JVM
# memory is back with the OS before the second set-up starts.
GAP_S = 1.0
# Files of the checkout the worker needs besides the benchmark itself.
REQUIRED = (
    "__spark_entry__.py",
    "oracle_check.py",
    "ORACLE_SWEEP_sf0.1.json",
    "antidote_data_framework_spark/session.py",
)


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies aside)."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(") ", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until the worker's process group (its JVM and the JVM's
    Python workers) has exited; kill what outlives ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def run_worker(spec: dict, run_dir: str, deadline: float) -> dict:
    """Start one driver process, wait for it and for its JVM, and return
    the result it wrote.  ``run_dir`` is the process's own directory; the
    process is killed at ``deadline`` (``time.monotonic``)."""
    spec_path = os.path.join(run_dir, "spec.json")
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)  # and run_dir with it
    with open(spec_path, "w") as fh:
        json.dump(dict(spec, out=out_path), fh)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(spec["cpus"]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # Keep the JVM's temp files (and no hsperfdata) inside the run dir.
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("SPARK_GRAFT_UI", None)
    spawned = time.monotonic()
    with open(log_path, "w") as log:
        # Its own process group, so that a timeout stops the worker, its
        # JVM and the JVM's Python workers together.
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, repr(spawned)],
            stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 0))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    _reap_group(proc.pid)
    result = None
    if os.path.exists(out_path):
        with open(out_path) as fh:
            result = json.load(fh)
    if code != 0 or result is None or "error" in result:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        detail = (result or {}).get("error", "")
        raise RuntimeError(f"worker failed (exit {code}) {detail}\n{tail}")
    return result


def checkout_problems(root: str) -> list[str]:
    return [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = checkout_problems(root)
    if missing:
        print(f"not a checkout of the engine, missing: {missing}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    base = {
        "root": root, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "cpus": cpus,
    }
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        final = run_worker(dict(base, trace=False), os.path.join(run_dir, "untraced"), deadline)
        if args.trace:
            untraced = final
            time.sleep(GAP_S)
            final = run_worker(dict(base, trace=True), os.path.join(run_dir, "traced"), deadline)
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        metrics = dict(
            final["layers"], **final["setup_layers"],
            **{"trace.wall_s": final["wall_s"],
               "trace.overhead_s": final["wall_s"] - untraced["wall_s"]},
        )
        trace_path = os.path.join(
            HERE, "out", "traces", f"{args.workload}-seed{args.seed}.json"
        )
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump({k: final[k] for k in ("spans", "self_s")}, fh)
        print(f"spans written to {os.path.relpath(trace_path, root)}", file=sys.stderr)
        units = LAYER_UNITS
    else:
        metrics = {k: final[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    attempted, failed = final["attempted"], final["failed"]
    print(
        f"{args.workload} seed={args.seed}: timed passes "
        f"{', '.join(f'{w:.2f}' for w in final['walls'])} s, "
        f"error_rate={failed / attempted:.4f} ratio ({failed}/{attempted})"
        + "".join(f", {k}={v:.4f} {units[k]}" for k, v in metrics.items() if k in units),
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
