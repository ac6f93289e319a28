"""``interactive_sql``: an analyst's short queries.

One client runs the 22 TPC-H keys back to back, each a builder call plus
``count()``, in a seeded order per pass. Before them, the check pass
compares every key's ``toPandas`` result against the oracle; it also
warms the session's memos, so the timed passes run warm.
"""

from __future__ import annotations

import random
import re
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, common, fixture, probe

KEY_RE = re.compile(r"q\d+_")
WARM_UP_KEY = "q6_forecast_revenue"
NOMINAL_PASS_S = 10.0


def run(ctx: common.Context) -> tuple:
    from gluettalax_spark import registry

    with ctx.phase("inputs"):
        sf_dir = fixture.build_tables(ctx.fixtures_dir, ctx.size["sf"], ctx.seed)
        specs = {k: s for k, s in registry.all_queries().items() if KEY_RE.match(k)}
        expected = checks.oracle_results(sf_dir, specs)
    keys = sorted(specs)
    rng = random.Random(ctx.seed)

    spark, metrics = common.setup_sessions(
        ctx, lambda s: specs[WARM_UP_KEY].builder(s, sf_dir).count()
    )

    def result(key):
        return specs[key].builder(spark, sf_dir).toPandas()

    with ctx.phase("check"), ThreadPoolExecutor(common.CHECK_THREADS) as pool:
        futures = {key: pool.submit(result, key) for key in rng.sample(keys, len(keys))}
    for key, future in futures.items():
        ctx.attempted += 1
        try:
            pdf = future.result()
        except Exception as exc:  # noqa: BLE001 - a failing key is counted, not fatal
            ctx.fail(f"{key} check pass", exc)
            continue
        ctx.check(key, pdf, expected[key])

    latencies = []
    cpu0 = probe.python_worker_cpu_s()
    for _ in range(ctx.planned_passes(NOMINAL_PASS_S)):
        t_pass = time.perf_counter()
        for key in rng.sample(keys, len(keys)):
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                n = ctx.build_and_count(
                    spark, lambda: specs[key].builder(spark, sf_dir), f"q{ctx.attempted}"
                )
            except Exception as exc:  # noqa: BLE001
                ctx.fail(key, exc)
                continue
            latencies.append(time.perf_counter() - t0)
            if n != expected[key]["rows"]:
                ctx.fail(f"{key}: {n} rows, oracle has {expected[key]['rows']}")
        ctx.pass_times.append(time.perf_counter() - t_pass)
    ctx.add("python_workers.cpu_s", probe.python_worker_cpu_s() - cpu0)
    metrics.update(
        op_p50_ms=probe.median(latencies) * 1000,
        op_p90_ms=probe.percentile(latencies, 90) * 1000,
        pass_s=probe.median(ctx.pass_times),
        samples=len(latencies),
    )
    return spark, metrics
