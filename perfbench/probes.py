"""Read-only probes around a running Spark job.

- ``job_stats``: per-stage numbers from Spark's in-JVM status stores
  (live even with ``spark.ui.enabled=false``) for every job of a job
  group: task counts and durations, scheduler delay, shuffle bytes,
  spill, GC and the SQL metrics of the Python (mapInPandas) node.
- ``RssSampler``: polls ``/proc`` for the peak resident set of any Spark
  Python worker process below this process.
- ``reference_seconds``: wall time of a fixed pure-Python job on every
  core, the host-speed yardstick that throughput is reported against.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
import zlib

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# SQL metric names (PythonSQLMetrics) summed over the job group's executions
_PY_METRICS = {
    "data sent to Python workers": "python_in_bytes",
    "data returned from Python workers": "python_out_bytes",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}
_TOTAL_RE = re.compile(r"(?:^|\n)([\d.,]+) ?([A-Za-z]+)")


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _parse_total(text: str, kind: str) -> float:
    """Total of a formatted SQL metric: '7.1 MiB', or the first line after
    'total (min, med, max ...)' for per-task metrics."""
    m = _TOTAL_RE.search(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return value * _SIZE_UNITS.get(unit, 1)
    return value * _TIME_UNITS.get(unit, 1.0)


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Status stores are filled by the asynchronous listener bus: wait for
    it so the numbers of a finished job are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_stats(spark, group: str) -> dict:
    """Aggregate the stages (and SQL executions) of one job group."""
    drain_listener_bus(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = set(tracker.getJobIdsForGroup(group))
    stages = []
    for job_id in sorted(job_ids):
        info = tracker.getJobInfo(job_id)
        for sid in (list(info.stageIds) if info else []):
            sd = store.lastStageAttempt(sid)
            start, end = _opt(sd.submissionTime()), _opt(sd.completionTime())
            if start is None or end is None:  # skipped: reused by AQE
                continue
            tasks = _seq(store.taskList(sid, sd.attemptId(), 100_000))
            durations = [_opt(t.duration()) or 0 for t in tasks]
            stages.append({
                "stage": sid,
                "tasks": sd.numTasks(),
                "wall_s": (end.getTime() - start.getTime()) / 1e3,
                "run_s": sd.executorRunTime() / 1e3,
                "task_max_s": max(durations, default=0) / 1e3,
                "task_median_s": (statistics.median(durations) / 1e3
                                  if durations else 0.0),
                "scheduler_delay_s": sum(t.schedulerDelay() for t in tasks) / 1e3,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "gc_s": sd.jvmGcTime() / 1e3,
                "output_bytes": sd.outputBytes(),
            })
    sql = {v: 0.0 for v in _PY_METRICS.values()}
    sql_store = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql_store.executionsList()):
        jobs = ex.jobs()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        values = sql_store.executionMetrics(ex.executionId())
        for m in _seq(ex.metrics()):
            key = _PY_METRICS.get(m.name())
            text = _opt(values.get(m.accumulatorId())) if key else None
            if text:
                sql[key] += _parse_total(text, m.metricType())
    return {"stages": stages, "sql": sql}


def summarize(stats: dict) -> dict:
    """Pipeline per-layer numbers of one pass.  Skew is read on the stage
    that ran longest (the kernel stage); counts and bytes are summed over
    every stage; ``write_s`` is the wall time of stages that wrote files."""
    stages = stats["stages"]
    main = max(stages, key=lambda s: s["run_s"], default=None)
    ratio = 0.0
    if main and main["task_median_s"] > 0:
        ratio = main["task_max_s"] / main["task_median_s"]
    return {
        "tasks": sum(s["tasks"] for s in stages),
        "task_max_over_median": ratio,
        "scheduler_delay_s": sum(s["scheduler_delay_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
        "gc_s": sum(s["gc_s"] for s in stages),
        "write_s": sum(s["wall_s"] for s in stages if s["output_bytes"] > 0),
        "python_in_mb": stats["sql"]["python_in_bytes"] / 1e6,
        "python_out_mb": stats["sql"]["python_out_bytes"] / 1e6,
        "python_init_s": stats["sql"]["python_init_s"],
        "python_run_s": stats["sql"]["python_run_s"],
    }


# a content-stream-like payload: inflate, tokenize, count, build text
_REF_BLOB = zlib.compress(b"".join(
    b"BT /F1 12 Tf %d %d Td (word%d) Tj ET\n" % (i, 3 * i, i) for i in range(3000)))
_REF_ROUNDS = 12


def _reference_job() -> None:
    for _ in range(_REF_ROUNDS):
        data = zlib.decompress(_REF_BLOB)
        counts: dict = {}
        for tok in data.split():
            counts[tok] = counts.get(tok, 0) + 1
        "".join(chr(c) for c in data[:20000])


def reference_seconds(procs: int) -> float:
    """Wall time of ``procs`` forked copies of a fixed pure-Python job
    (~0.1 s each), run at once while Spark is idle.  It uses no program
    code, so it moves only with the host: how fast the cores are and how
    much the machine's other tenants take of them.

    fork, not spawn, although this process has threads: a spawned
    interpreter's start-up would be timed with the job, and the child only
    runs already-imported builtins (zlib, bytes, dict, str) before
    ``os._exit``, so it never takes a lock another thread may hold."""
    t0 = time.perf_counter()
    pids = []
    try:
        for _ in range(procs):
            pid = os.fork()
            if pid == 0:
                try:
                    _reference_job()
                finally:
                    os._exit(0)
            pids.append(pid)
    finally:
        for pid in pids:
            os.waitpid(pid, 0)
    return time.perf_counter() - t0


def _descendants(root: int) -> list:
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, ()):
            out.append(child)
            todo.append(child)
    return out


def _python_worker_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
        argv0 = os.path.basename(cmd.split(b"\0", 1)[0])
        if not argv0.startswith(b"python") or b"pyspark" not in cmd:
            return 0
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of any Spark Python worker below this process, polled
    every ``interval`` seconds between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _poll(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            for pid in _descendants(me):
                self.peak_kb = max(self.peak_kb, _python_worker_rss_kb(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
