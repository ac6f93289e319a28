#!/usr/bin/env python
"""Per-query profiling for the optimization rounds (guide §1).

For each requested query: time builder() construction (driver-side plan
building), then the noop-sink execution (computes every column, §1.4)
AND the bench's count() action (the contract methodology) — best-of-N
each — and dump the executed plan to /tmp/profile_<phase>/<name>.txt
with its node counts (tools/dump_plans.plan_summary) in the table.

Usage:
  python tools/profile_bench.py <phase> [name ...]     # default: all HEADLINE
  env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PROFILE_RUNS (3)

Writes /tmp/profile_<phase>.json with the timing table.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    phase = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))

    from gluettalax_spark import memory, registry
    from gluettalax_spark.session import get_spark, tune_for_fixture

    import bench
    from tools.dump_plans import executed_plan, plan_summary

    spark = get_spark("gluettalax-profile")
    tune_for_fixture(spark, SF_DIR)
    specs = registry.all_queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in specs]

    plans_dir = f"/tmp/profile_{phase}"
    os.makedirs(plans_dir, exist_ok=True)

    # Warm-up (bench methodology)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    with memory.scope():
        specs[names[0]].builder(spark, SF_DIR).count()

    out: dict[str, dict] = {}
    for name in names:
        builder = specs[name].builder
        spark.sparkContext.setJobDescription(f"profile:{name}")
        with memory.scope():
            try:
                build_s, noop_s, count_s = [], [], []
                for i in range(runs):
                    t0 = time.perf_counter()
                    df = builder(spark, SF_DIR)
                    build_s.append(time.perf_counter() - t0)
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    noop_s.append(time.perf_counter() - t0)
                    t0 = time.perf_counter()
                    df2 = builder(spark, SF_DIR)
                    df2.count()
                    count_s.append(time.perf_counter() - t0)
                plan = executed_plan(builder(spark, SF_DIR))
            except Exception as ex:  # keep sweeping; report the failure
                out[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
                print(f"  {name}: ERROR {out[name]['error']}", file=sys.stderr, flush=True)
                continue
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        summ = plan_summary(plan)
        out[name] = {
            "build_sec": round(min(build_s), 4),
            "noop_sec": round(min(noop_s), 4),
            "count_sec": round(min(count_s), 4),
            **summ,
        }
        print(
            f"  {name}: build {out[name]['build_sec']}s noop {out[name]['noop_sec']}s "
            f"count {out[name]['count_sec']}s exch={summ['exchanges']} "
            f"smj={summ['smj']} bhj={summ['bhj']} "
            f"py={summ['batch_eval_python'] + summ['arrow_eval_python']}",
            file=sys.stderr,
            flush=True,
        )
    spark.sparkContext.setJobDescription(None)

    with open(f"/tmp/profile_{phase}.json", "w") as fh:
        json.dump({"sf_dir": SF_DIR, "runs": runs, "queries": out}, fh, indent=1)
    total_noop = sum(v.get("noop_sec", 0) for v in out.values())
    total_cnt = sum(v.get("count_sec", 0) for v in out.values())
    total_build = sum(v.get("build_sec", 0) for v in out.values())
    print(json.dumps({"metric": f"profile_{phase}", "n": len(out),
                      "total_build": round(total_build, 2),
                      "total_noop": round(total_noop, 2),
                      "total_count": round(total_cnt, 2)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
