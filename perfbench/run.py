#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 20 --trace 0

Workloads: ``interactive_sql``, ``etl_pipeline`` and ``catalog_churn``
(see perfbench/README.md). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with spans and Spark status reads
and prints the per-layer metrics instead. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. The
exit code is 0 only when every output check passed.

Everything a run writes stays under ``--data-dir`` (default
``perfbench/.data``): fixtures, the partition tree, warehouse, Spark
local and temp dirs, spans and saved results.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_sql", "etl_pipeline", "catalog_churn")
KEEP_FIXTURES = 32

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "pass_s": "s",
}
PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "tables.schema_jobs": "count",
    "tables.schema_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_ratio": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "exec.failed_tasks": "count",
    "python_workers.cpu_s": "s",
    "memory.peak_rss_mb": "MB",
    "memory.persisted_rdds_left": "count",
    "memory.cached_mb_left": "MB",
    "jobs.overhead_ms": "ms",
    "jobs.slot_wait_s": "s",
    "jobs.failed": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.rows_per_s": "1/s",
    "catalog.create_table_ms": "ms",
    "catalog.discover_s": "s",
    "catalog.list_partitions_s": "s",
    "catalog.crawl_s": "s",
    "catalog.add_partition_ms": "ms",
    "catalog.delete_partition_ms": "ms",
    "catalog.pruned_scan_ms": "ms",
    "catalog.sql_per_partition": "count",
    "catalog.sql_per_list": "count",
    "cli.overhead_ms": "ms",
    "trace.op_p50_ms": "ms",
    "trace.pass_s": "s",
}
# Per-layer totals accumulated over the measured window, reported per pass.
PER_PASS = (
    "operators.build_s", "operators.build_jobs", "operators.build_tasks",
    "tables.schema_jobs", "tables.schema_s", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.action_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.failed_tasks",
    "python_workers.cpu_s", "jobs.slot_wait_s", "jobs.failed",
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001, 20 partitions) for the benchmark's own tests")
    p.add_argument("--data-dir", default=os.path.join(HERE, ".data"))
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every place Spark, the JVM and Python write scratch files at
    the run's directory, before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def _prune_fixtures(fixtures_dir: str) -> None:
    if not os.path.isdir(fixtures_dir):
        return
    dirs = sorted(
        (os.path.join(fixtures_dir, d) for d in os.listdir(fixtures_dir)),
        key=os.path.getmtime,
    )
    for d in dirs[:-KEEP_FIXTURES]:
        shutil.rmtree(d, ignore_errors=True)


def _per_layer(ctx, metrics: dict) -> dict:
    passes = max(1, ctx.passes)
    layer = dict(ctx.layer)
    layer["operators.build_s"] = ctx.spans.total("operators.build")
    layer["exec.action_s"] = ctx.spans.total("exec.action")
    for name in PER_PASS:
        layer[name] = layer.get(name, 0.0) / passes
    run_s = layer.get("exec.task_run_s", 0.0)
    layer["exec.cpu_ratio"] = layer.get("exec.task_cpu_s", 0.0) / run_s if run_s else 0.0
    layer["trace.op_p50_ms"] = metrics["op_p50_ms"]
    layer["trace.pass_s"] = metrics["pass_s"]
    return {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def _report_overhead(results_path: str, metrics: dict) -> None:
    """Traced runs: print the gap to the saved untraced run of the same
    workload and seed, the tracing overhead."""
    try:
        with open(results_path) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        print("tracing overhead: no untraced run of this workload and seed saved yet")
        return
    for name in ("op_p50_ms", "pass_s"):
        gap = metrics[name] - untraced[name]
        print(f"tracing overhead {name}: {gap:+.4f} ({gap / untraced[name]:+.1%})")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gluettalax_spark", "__init__.py")):
        print(f"perfbench: no gluettalax_spark package next to {HERE}", file=sys.stderr)
        return 2
    # Import perfbench and the engine as packages of the checkout, not the
    # benchmark's own modules as top-level names.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    import gluettalax_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(gluettalax_spark.__file__))) != ROOT:
        print("perfbench: gluettalax_spark was imported from outside the checkout",
              file=sys.stderr)
        return 2

    from perfbench import catalog, common, etl, interactive, probe

    data_dir = os.path.abspath(args.data_dir)
    run_dir = os.path.join(data_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    ctx = common.Context(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        size=common.SIZES["smoke" if args.smoke else "full"], data_dir=data_dir,
        run_dir=run_dir, spans=probe.Spans(bool(args.trace)),
    )
    workload = {"interactive_sql": interactive, "etl_pipeline": etl,
                "catalog_churn": catalog}[args.workload]
    spark = None
    try:
        rss = probe.RssSampler() if ctx.trace else contextlib.nullcontext()
        with rss, ctx.phase("total"):
            spark, metrics = workload.run(ctx)
            if "memory.persisted_rdds_left" not in ctx.layer:
                ctx.layer.update(zip(("memory.persisted_rdds_left", "memory.cached_mb_left"),
                                     probe.cached_blocks(spark.sparkContext)))
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        common.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if ctx.trace:
        ctx.layer["memory.peak_rss_mb"] = rss.peak_mb
    _prune_fixtures(ctx.fixtures_dir)

    tag = f"{args.workload}-seed{args.seed}{'-smoke' if args.smoke else ''}"
    results_path = os.path.join(data_dir, "results", f"{tag}-trace0.json")
    print(f"{args.workload} seed {args.seed}: passes "
          + " ".join(f"{t:.2f}s" for t in ctx.pass_times)
          + f", {metrics['samples']} timed ops, {ctx.failed} failed of {ctx.attempted}"
          + f" ({ctx.last_place} matched to the last rounded place); "
          + ", ".join(f"{k} {v:.1f}s" for k, v in ctx.phases.items()))
    if ctx.trace:
        ctx.spans.write(os.path.join(data_dir, "spans", f"{tag}-{os.getpid()}.jsonl"))
        _report_overhead(results_path, metrics)
        out_metrics = _per_layer(ctx, metrics)
    else:
        out_metrics = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
        os.makedirs(os.path.dirname(results_path), exist_ok=True)
        with open(results_path, "w") as f:
            json.dump({k: metrics[k] for k in END_TO_END}, f)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": out_metrics,
    }), flush=True)
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
