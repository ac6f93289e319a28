"""State shared by the three workloads: run settings, failure counts,
per-layer accumulators, session set-up and tear-down."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import checks, probe

# Fixture scale, catalog tree and point ops per pass, per configuration.
# The full sizes keep one run of each workload under a minute on a 4-core
# machine; the smoke sizes are for the benchmark's own tests.
SIZES = {
    "full": {"sf": 0.01, "days": 2, "regions": 4, "point_ops": 50},
    "smoke": {"sf": 0.001, "days": 5, "regions": 4, "point_ops": 30},
}
SETUP_REPEATS = 3
# Threads running the output checks, which are outside the timed region.
CHECK_THREADS = 4


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    size: dict
    data_dir: str
    run_dir: str
    spans: probe.Spans
    attempted: int = 0
    failed: int = 0
    last_place: int = 0
    layer: dict = field(default_factory=dict)
    pass_times: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def fixtures_dir(self) -> str:
        return os.path.join(self.data_dir, "fixtures")

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Count one failed or wrong operation and say why on stderr."""
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def check(self, key: str, pdf, want: dict) -> None:
        """Compare one result with the oracle's (``checks.compare``). A
        result off by one unit in the last rounded place of a float is
        counted and named on stderr, not failed."""
        verdict = checks.compare(pdf, want)
        if verdict == checks.DIFFERS:
            self.fail(f"{key}: result differs from the oracle's")
        elif verdict == checks.LAST_PLACE:
            self.last_place += 1
            print(f"perfbench: {key} matches the oracle to one unit in the last rounded "
                  "place of a float, not exactly", file=sys.stderr)

    @property
    def passes(self) -> int:
        return len(self.pass_times)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one phase of the run (set-up, checks, measuring) for the
        summary line."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.layer[name] = self.layer.get(name, 0.0) + value

    def planned_passes(self, nominal_pass_s: float) -> int:
        """Passes that fill ``seconds`` at the workload's nominal pass time
        on a 4-core machine, at least one. The work is fixed by
        ``--seconds`` alone, so a faster commit runs the same passes."""
        return max(1, round(self.seconds / nominal_pass_s))

    def build_and_count(self, spark, build, group: str, set_group: bool = True) -> int:
        """Build a DataFrame and count it. Traced, the build and the action
        are spans, Catalyst's phase times are read off the built plan, and
        the jobs of ``group`` are split into those the build launched and
        those the action launched. ``set_group=False`` leaves a job group
        set by the caller (the job runner's) in place."""
        if not self.trace:
            return build().count()
        sc = spark.sparkContext
        if set_group:
            sc.setJobGroup(group, "perfbench")
        with self.spans.span("operators.build", group):
            df = build()
        probe.drain_listener(sc)
        build_ids = probe.job_ids(sc, group)
        with self.spans.span("catalyst", group):
            phases = probe.catalyst_ms(df)
        with self.spans.span("exec.action", group):
            n = df.count()
        probe.drain_listener(sc)
        action_ids = probe.job_ids(sc, group) - build_ids
        built = probe.job_stats(sc, build_ids)
        self.add("operators.build_jobs", built["jobs"])
        self.add("operators.build_tasks", built["tasks"])
        self.add("tables.schema_jobs", built["schema_jobs"])
        self.add("tables.schema_s", built["schema_s"])
        for phase, ms in phases.items():
            self.add(f"catalyst.{phase}_ms", ms)
        acted = probe.job_stats(sc, action_ids)
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "failed_tasks"):
            self.add(f"exec.{k}", acted[k])
        with self._lock:
            peak = self.layer.get("exec.peak_exec_mem_mb", 0.0)
            self.layer["exec.peak_exec_mem_mb"] = max(peak, acted["peak_exec_mem_mb"])
        return n


def setup_sessions(ctx: Context, warm_up) -> tuple[object, dict]:
    """Start the engine's session ``SETUP_REPEATS`` times, each followed by
    the workload's warm-up, and return the last session with the set-up
    timings. The first start launches the JVM; later ones stop the
    session and build a fresh one in the same JVM."""
    from gluettalax_spark.session import get_spark

    starts, warms, totals = [], [], []
    spark = None
    with ctx.phase("setup"):
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", str(_cpus()))
            t1 = time.perf_counter()
            warm_up(spark)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            totals.append(t2 - t0)
    ctx.layer["session.cold_start_s"] = starts[0]
    ctx.layer["session.start_s"] = probe.median(starts)
    ctx.layer["session.warmup_s"] = probe.median(warms)
    return spark, {"setup_s": probe.median(totals)}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it and every other
    process this run started."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.close()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while probe.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in probe.descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
