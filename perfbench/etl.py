"""``etl_pipeline``: the nightly LLM-data pipeline through the job runner.

Seven heavy registry keys and one streaming drain are registered as jobs
and submitted with ``JobRegistry.run(op_async=True)``, two in flight, in
a fixed order on a fixture generated from the seed. The run's process is fresh, so memos and cached blocks
start empty, as for a scheduled Glue job; a run therefore measures one
pass. Outputs are checked after the pass.
"""

from __future__ import annotations

import functools
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, common, fixture, probe

JOB_KEYS = (
    "similarity_knn_label_accuracy",
    "quality_signal_agreement",
    "text_bigram_logppl",
    "graph_pagerank",
    "graph_hits_bipartite",
    "dedup_minhash_lsh",
    "embedding_covariance",
)
STREAM_KEY = "streaming_user_ewma"
# Submission order: longest job first, as a scheduler would, and fixed,
# like a pipeline definition. Which two jobs share the machine sets each
# job's latency, so the seed varies the data, not this order.
ORDER = (*JOB_KEYS[:2], STREAM_KEY, *JOB_KEYS[2:])
BATCH_TWIN = "events_user_ewma"
IN_FLIGHT = 2
_POLL_S = 0.005


def _drain_stream(spark, sf_dir: str, table: str) -> dict:
    from gluettalax_spark.streaming.stateful import streaming_user_ewma

    query = (
        streaming_user_ewma(spark, sf_dir)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(table)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    state = progress[-1]["stateOperators"] if progress else []
    return {
        "batches": len(progress),
        "rows": sum(p["numInputRows"] for p in progress),
        "state_rows": state[0]["numRowsTotal"] if state else 0,
    }


def _job(ctx, key: str, sf_dir: str, specs: dict, done: dict, spark) -> None:
    """The job function the runner calls: build and count one key, or
    drain the stream, recording its own wall time."""
    run_id = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    t0 = time.perf_counter()
    if key == STREAM_KEY:
        with ctx.spans.span("streaming.drain", run_id):
            out = _drain_stream(spark, sf_dir, f"ewma_{run_id}")
        out["table"] = f"ewma_{run_id}"
    else:
        out = {"rows": ctx.build_and_count(
            spark, lambda: specs[key].builder(spark, sf_dir), run_id, set_group=False
        )}
    out["fn_s"] = time.perf_counter() - t0
    done[key] = out


def run(ctx: common.Context) -> tuple:
    from gluettalax_spark import registry
    from gluettalax_spark.jobs import RUNNING, SUCCEEDED, JobRegistry

    with ctx.phase("inputs"):
        sf_dir = fixture.build_tables(ctx.fixtures_dir, ctx.size["sf"], ctx.seed)
        every = registry.all_queries()
        specs = {k: every[k] for k in (*JOB_KEYS, BATCH_TWIN)}
        expected = checks.oracle_results(sf_dir, specs)

    spark, metrics = common.setup_sessions(ctx, lambda s: s.range(1).count())
    jobs = JobRegistry()
    done: dict[str, dict] = {}
    for key in (*JOB_KEYS, STREAM_KEY):
        jobs.register(key, functools.partial(_job, ctx, key, sf_dir, specs, done))

    queue = list(ORDER)
    running: dict[str, tuple[str, float]] = {}
    latency: dict[str, float] = {}
    cpu0 = probe.python_worker_cpu_s()
    t_pass = time.perf_counter()
    while queue or running:
        while queue and len(running) < IN_FLIGHT:
            key = queue.pop(0)
            ctx.attempted += 1
            now = time.perf_counter()
            ctx.add("jobs.slot_wait_s", now - t_pass)
            running[jobs.run(spark, key, op_async=True)] = (key, now)
        time.sleep(_POLL_S)
        for run_id in list(running):
            state = jobs.get_run_state(run_id)
            if state == RUNNING:
                continue
            key, t0 = running.pop(run_id)
            latency[key] = time.perf_counter() - t0
            if state != SUCCEEDED:
                ctx.add("jobs.failed", 1)
                ctx.fail(f"job {key} ended {state}")
    ctx.pass_times.append(time.perf_counter() - t_pass)
    ctx.add("python_workers.cpu_s", probe.python_worker_cpu_s() - cpu0)
    overheads = [latency[k] - done[k]["fn_s"] for k in latency if k in done]
    ctx.layer["jobs.overhead_ms"] = probe.median(overheads) * 1000
    stream = done.get(STREAM_KEY)
    if stream is not None:
        ctx.layer.update({
            "streaming.drain_s": stream["fn_s"],
            "streaming.batches": stream["batches"],
            "streaming.state_rows": stream["state_rows"],
            "streaming.rows_per_s": stream["rows"] / stream["fn_s"],
        })
    metrics.update(
        op_p50_ms=probe.median(list(latency.values())) * 1000,
        op_p90_ms=probe.percentile(list(latency.values()), 90) * 1000,
        pass_s=ctx.pass_times[0],
        samples=len(latency),
    )
    ctx.layer.update(zip(("memory.persisted_rdds_left", "memory.cached_mb_left"),
                         probe.cached_blocks(spark.sparkContext)))
    with ctx.phase("check"):
        _check(ctx, spark, sf_dir, specs, expected, done)
    return spark, metrics


def _check(ctx, spark, sf_dir, specs, expected, done) -> None:
    """Compare every job key's output with the oracle's, and compare the
    stream's final per-user emissions with the batch twin."""
    from gluettalax_spark.operators.windows import EWMA_TOPK

    def result(key):
        return specs[key].builder(spark, sf_dir).toPandas()

    batch = None
    with ThreadPoolExecutor(common.CHECK_THREADS) as pool:
        futures = {key: pool.submit(result, key) for key in (*JOB_KEYS, BATCH_TWIN)}
    for key, future in futures.items():
        ctx.attempted += 1
        try:
            pdf = future.result()
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
            ctx.fail(f"{key} check", exc)
            continue
        ctx.check(key, pdf, expected[key])
        rows = len(pdf)
        if key == BATCH_TWIN:
            batch = sorted(map(tuple, pdf[["user_id", "n_used", "ewma_micro"]].values.tolist()))
        elif done.get(key, {}).get("rows") not in (None, rows):
            ctx.fail(f"{key}: job counted {done[key]['rows']} rows, check has {rows}")
    stream = done.get(STREAM_KEY)
    if stream is None or batch is None:
        return
    ctx.attempted += 1
    latest = {}
    for r in spark.table(stream["table"]).collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r
    top = sorted(latest.values(), key=lambda r: (-r.ewma_micro, r.user_id))[:EWMA_TOPK]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    if sorted((r.user_id, r.n_used, r.ewma_micro) for r in top) != batch:
        ctx.fail(f"{STREAM_KEY}: final emissions differ from {BATCH_TWIN}")
    elif sum(r.n_seen for r in latest.values()) != n_events:
        ctx.fail(f"{STREAM_KEY}: not every event reached the fold")
