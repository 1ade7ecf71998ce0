"""Spans and counters for the traced run.

A span is one call the harness makes into a layer: a name, start and
end (``time.monotonic``), the span that encloses it, and a trace id
``<workload>/<pass>/<key>``.  While tracing is on, a span that runs
engine code also carries the counters measured across it:

- the Spark jobs, stages and tasks that finished during it, with their
  executor run/CPU/GC time, shuffle and spill bytes and failed tasks,
  read from the in-process status store (the Spark UI stays off);
- the driver's own CPU time (``getrusage``);
- the micro-batches the streaming listener saw.

Spans stay in memory; the run writes them out at exit.
"""

from __future__ import annotations

import contextlib
import os
import resource
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")


class _BatchCounter(StreamingQueryListener):
    """Counts streaming micro-batches, and those that read any rows."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches = 0
        self.nonempty = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.batches += 1
            self.nonempty += event.progress.numInputRows > 0

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def read(self) -> tuple[int, int]:
        with self.lock:
            return self.batches, self.nonempty


def _proc_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and of the children it has reaped."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(f) for f in fields[11:15]) / CLK_TCK


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid``: the JVM forks the Python
    worker daemon from an executor thread, not its main thread."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(p) for p in fh.read().split()]
    except FileNotFoundError:  # the process or thread has exited
        pass
    return kids


def process_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by this driver process, the JVM, and the
    JVM's Python worker descendants.

    Each descendant counts its own time plus that of the children it
    reaped, so a worker that exits between two samples is not lost."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    workers = 0.0
    todo = _children(jvm_pid)
    while todo:
        pid = todo.pop()
        try:
            workers += _proc_cpu_s(pid)
        except FileNotFoundError:
            continue
        todo.extend(_children(pid))
    me = resource.getrusage(resource.RUSAGE_SELF)
    return {
        "driver": me.ru_utime + me.ru_stime,
        "jvm": (int(fields[11]) + int(fields[12])) / CLK_TCK,
        "pyworker": workers,
    }


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class SparkCounters:
    """Reads what finished in Spark since the previous read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.batches = _BatchCounter()
        spark.streams.addListener(self.batches)
        self.last_job = -1
        self.last_batches = (0, 0)
        self.harvest()

    def harvest(self) -> dict[str, float]:
        """Counters of the jobs and micro-batches finished since the last
        call.  The status store keeps only the newest 1000 jobs and
        stages, so this runs after every traced call."""
        self.bus.waitUntilEmpty()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"), 0)
        it = self.store.jobsList(None).iterator()  # newest job first
        newest = self.last_job
        while it.hasNext():
            job = it.next()
            if job.jobId() <= self.last_job:
                break
            newest = max(newest, job.jobId())
            c["jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.length()):
                attempts = self.store.stageData(sids.apply(i), False, None, False, None)
                for a in range(attempts.length()):
                    s = attempts.apply(a)
                    if s.numTasks() == 0 or str(s.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    c["failed_tasks"] += s.numFailedTasks()
                    c["executor_run_s"] += s.executorRunTime() / 1e3
                    c["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    c["gc_s"] += s.jvmGcTime() / 1e3
                    c["shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.last_job = newest
        batches, nonempty = self.batches.read()
        c["batches"] = batches - self.last_batches[0]
        c["nonempty_batches"] = nonempty - self.last_batches[1]
        self.last_batches = (batches, nonempty)
        return c


class Tracer:
    """Records spans.  ``active`` switches span recording, and the
    counter reads that come with it, on and off between passes."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.counters: SparkCounters | None = None
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, spark_work: bool = False):
        """Time the enclosed call as span ``name``.  With ``spark_work``
        the Spark jobs it starts get ``trace_id`` as their job group, and
        the span gets the counters of the work finished inside it."""
        if not self.active:
            yield {}
            return
        sp = {
            "id": len(self.spans), "name": name, "trace": trace_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.monotonic(), "end": None, "counters": {},
        }
        self.spans.append(sp)
        self._open.append(sp["id"])
        if spark_work:
            self.counters.sc.setJobGroup(trace_id, name)
        cpu0 = resource.getrusage(resource.RUSAGE_SELF)
        try:
            yield sp["counters"]
        finally:
            sp["end"] = time.monotonic()
            self._open.pop()
            if spark_work:
                cpu1 = resource.getrusage(resource.RUSAGE_SELF)
                sp["counters"]["driver_cpu_s"] = (
                    cpu1.ru_utime + cpu1.ru_stime - cpu0.ru_utime - cpu0.ru_stime
                )
                sp["counters"].update(self.counters.harvest())


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    it that its child spans cover, summed by name."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
