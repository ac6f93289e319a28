#!/usr/bin/env python
"""Per-query profiling for the optimization rounds (guide §1).

For each requested query: time builder() construction (driver-side plan
building), then the noop-sink execution (computes every column, §1.4)
AND the bench's count() action (the contract methodology) — best-of-N
each — and dump .explain("formatted") to plans/<tag>/<name>_<phase>.txt
with an Exchange/join-strategy summary line.

Usage:
  python tools/profile_bench.py <phase> [name ...]     # default: all HEADLINE
  env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PROFILE_RUNS (3)

Writes /tmp/profile_<phase>.json with the timing table.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_summary(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "python_eval": len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan)),
        "map_in_py": len(re.findall(r"MapInPandas|PythonMapInArrow|MapInArrow", plan)),
        "sorts": len(re.findall(r"^\s*[+:*-]*\s*\(?\d*\)?\s*Sort\b", plan, re.M)),
        "scans": len(re.findall(r"Scan parquet|FileScan", plan)),
    }


def main() -> None:
    phase = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
    plans_only = os.environ.get("SPARK_GRAFT_PLANS_ONLY", "").lower() == "true"

    from gluettalax_spark import memory, registry
    from gluettalax_spark.session import get_spark, tune_for_fixture

    import bench

    spark = get_spark("gluettalax-profile")
    tune_for_fixture(spark, SF_DIR)
    specs = registry.all_queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in specs]

    plans_dir = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"))
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
                build_s, noop_s, count_s = ([0.0], [0.0], [0.0]) if plans_only else ([], [], [])
                for i in range(0 if plans_only else runs):
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
                df3 = builder(spark, SF_DIR)
                jqe = df3._jdf.queryExecution()
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                plan = jqe.explainString(mode)
            except Exception as ex:  # keep sweeping; report the failure
                out[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
                print(f"  {name}: ERROR {out[name]['error']}", file=sys.stderr, flush=True)
                continue
        with open(os.path.join(plans_dir, f"{name}_{phase}.txt"), "w") as fh:
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
            f"smj={summ['smj']} bhj={summ['bhj']} py={summ['python_eval']}",
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
