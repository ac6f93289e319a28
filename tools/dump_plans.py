#!/usr/bin/env python
"""Regenerate plans/budget.json: per-key physical-plan node counts.

Every registry key is built (not run) at sf0.001, each in its own
``memory.scope()``, in a session of ``SPARK_GRAFT_CPUS`` cores (default
8, as in ``tests/conftest.py``, since some builders branch on the
default parallelism), and the string of its ``executedPlan()`` is counted by
:func:`plan_summary`. ``tests/test_plans.py`` fails when a key's counts
exceed its budget, so a budget only goes down: regenerate after a change
that removes plan work, and review the diff.

Usage: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BUDGET_PATH = os.path.join(REPO, "plans", "budget.json")

# Counter -> pattern matched at the start of a plan node (after the tree
# prefix and any whole-stage-codegen marker).
COUNTERS = {
    "arrow_eval_python": re.compile(r"ArrowEvalPython\b"),
    "batch_eval_python": re.compile(r"BatchEvalPython\b"),
    "bhj": re.compile(r"BroadcastHashJoin\b"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin\b"),
    "cartesian": re.compile(r"CartesianProduct\b"),
    "exchanges": re.compile(r"Exchange\b"),
    "existing_rdd_scan": re.compile(r"Scan ExistingRDD\b"),
    "in_memory_scan": re.compile(r"InMemoryTableScan\b"),
    "map_in_py": re.compile(r"(?:Python)?MapIn(?:Pandas|Arrow)\b"),
    "scans": re.compile(r"FileScan\b"),
    "shj": re.compile(r"ShuffledHashJoin\b"),
    "smj": re.compile(r"SortMergeJoin\b"),
    "sorts": re.compile(r"Sort\b"),
}

_PREFIX = re.compile(r"[\s:+|-]*(?:\*\(\d+\) )?")


def plan_summary(plan: str) -> dict[str, int]:
    """Count plan nodes per :data:`COUNTERS` entry in a physical plan tree
    string (``executedPlan().toString()``). An adaptive plan that has run,
    fully or in part (a materialized cache), prints a ``== Final Plan ==``
    or ``== Current Plan ==`` section before its ``== Initial Plan ==``;
    only the initial plan is counted, so the result does not depend on
    what has executed."""
    counts = dict.fromkeys(COUNTERS, 0)
    skip_to = None  # prefix width of the Initial Plan header that ends a skip
    for line in plan.splitlines():
        width = _PREFIX.match(line).end()
        node = line[width:]
        if skip_to is not None:
            if width == skip_to and node.startswith("== Initial Plan =="):
                skip_to = None
            continue
        if node.startswith(("== Final Plan ==", "== Current Plan ==")):
            skip_to = width
            continue
        for name, pattern in COUNTERS.items():
            if pattern.match(node):
                counts[name] += 1
    return counts


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def over_budget(name: str, counts: dict[str, int], budget: dict[str, int]) -> list[str]:
    """One message per counter of ``name`` above its budget."""
    return [
        f"{name}: {counter} {n} > budget {budget[counter]}"
        for counter, n in sorted(counts.items())
        if n > budget[counter]
    ]


def load_budget() -> dict[str, dict[str, int]]:
    with open(BUDGET_PATH) as fh:
        return json.load(fh)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from gluettalax_spark import memory
    from gluettalax_spark.registry import all_queries
    from gluettalax_spark.session import get_spark, tune_for_fixture

    spark = get_spark("plan-budget", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    tune_for_fixture(spark, sf_dir)
    specs = all_queries()
    lines = []
    for name in sorted(specs):
        with memory.scope():
            counts = plan_summary(executed_plan(specs[name].builder(spark, sf_dir)))
        lines.append(f"  {json.dumps(name)}: {json.dumps(counts)}")
    with open(BUDGET_PATH, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {BUDGET_PATH} ({len(lines)} keys)")
    spark.stop()


if __name__ == "__main__":
    main()
