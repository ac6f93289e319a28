"""Measurement from outside the engine: spans, Spark's status store and
``/proc``.

Nothing here changes what the engine does. Spans time calls into a
layer; job, stage and task counts come from Spark's own status API for
the job group an operation ran under; CPU and memory of the driver, the
JVM and the Python workers come from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
_MB = float(1 << 20)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return float(ordered[int(rank) - 1])


class Spans:
    """In-memory span log: name, start, end, parent and run id per span.
    Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, run_id: str = ""):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid, self._next = self._next, self._next + 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.records.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run_id": run_id}
                )

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

SCHEMA_JOB_PREFIX = "parquet at "


def job_ids(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def drain_listener(sc) -> None:
    """Wait until the status store has seen every event posted so far, so
    the stage totals read next are final."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def job_stats(sc, ids) -> dict[str, float]:
    """Totals over the jobs ``ids`` and the stages they ran (skipped
    stages excluded): jobs, stages, tasks, task run and CPU seconds,
    shuffle and spill MB, peak execution memory, failed tasks, and the
    jobs and seconds spent in ``parquet at ...`` schema/listing jobs."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
         "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb", "failed_tasks",
         "schema_jobs", "schema_s"),
        0.0,
    )
    seen: set[int] = set()
    for jid in ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        jd = store.job(jid)
        if str(jd.name()).startswith(SCHEMA_JOB_PREFIX):
            out["schema_jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["schema_s"] += (
                    jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
                ) / 1000.0
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage was evicted from the store
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1000.0
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], sd.peakExecutionMemory() / _MB)
    return out


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution. Forces optimization and physical planning of ``df`` (the
    action plans its own copy again), so it is called in traced runs
    only."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def cached_blocks(sc) -> tuple[int, float]:
    """Persisted RDDs and the MB their cached blocks hold."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum((i.memSize() + i.diskSize()) for i in infos) / _MB
    return sc._jsc.getPersistentRDDs().size(), mb


# --------------------------------------------------------------------------
# /proc: process tree RSS and Python worker CPU
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def python_worker_cpu_s() -> float:
    """CPU seconds of the PySpark worker processes under this process:
    their own time plus that of workers they already reaped."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants (the JVM and the Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = _rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / _MB
