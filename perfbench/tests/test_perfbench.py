"""The benchmark's own tests: every metric is printed with its unit, a
wrong result makes the command fail, floats may differ from the oracle's
only in their last rounded place, and the command refuses to run
without the engine next to it.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(about five minutes on 4 cores; each case starts a Spark JVM).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, fixture, run

ROOT = run.ROOT
SCRIPT = os.path.join(run.HERE, "run.py")


def _bench(data_dir, workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, SCRIPT, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke", "--data-dir", str(data_dir)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench-data")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(data_dir, workload, trace):
    proc, result = _bench(data_dir, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_oracle_result_fails_the_run(data_dir):
    proc, result = _bench(data_dir, "interactive_sql", 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    fixtures = data_dir / "fixtures"
    (sf_dir,) = [d for d in fixtures.iterdir() if d.name.startswith("sf0.001-seed7")]
    cache_path = sf_dir / checks.CACHE_FILE
    cache = json.loads(cache_path.read_text())
    oracle = cache["q1_pricing_summary"]
    oracle["hash"] = "0" * 64
    row = oracle["values"][0]
    col = next(i for i, cell in enumerate(row) if isinstance(cell, float))
    row[col] += 1.0
    cache_path.write_text(json.dumps(cache))

    proc, result = _bench(data_dir, "interactive_sql", 0)
    assert proc.returncode != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert "q1_pricing_summary" in proc.stderr


def test_floats_may_differ_by_one_unit_in_their_last_place():
    want = [[1, "a", 12345.25], [2, "b", 0.5], [3, "c", [0.1234, 2.0]]]
    assert checks.rows_agree([[3, "c", [0.1235, 2.0]], [2, "b", 0.5], [1, "a", 12345.26]], want)
    assert checks.rows_agree([[1, "a", 12345.3]], [[1, "a", 12345.29]])
    assert not checks.rows_agree([[1, "a", 12345.27], [2, "b", 0.5], [3, "c", [0.1234, 2.0]]], want)
    assert not checks.rows_agree([[1, "a", 12345.25], [2, "b", 0.5]], want)
    assert not checks.rows_agree([[1, "x", 12345.25], [2, "b", 0.5], [3, "c", [0.1234, 2.0]]], want)
    assert not checks.rows_agree([[1.0, "a", 12345.25], [2, "b", 0.5], [3, "c", [0.1234, 2.0]]], want)
    assert not checks.rows_agree([[1, "a", 12345.25], [2, "b", 0.5], [3, "c", [0.1234]]], want)


def test_compare_tells_exact_from_last_place_from_different():
    import pandas as pd

    oracle = pd.DataFrame({"k": [1, 2], "v": [10.25, 3.5]})
    want = {"hash": checks.frame_hash(oracle)[0], "values": checks.frame_rows(oracle)}
    assert checks.compare(oracle[["v", "k"]].iloc[::-1], want) == checks.EXACT
    assert checks.compare(pd.DataFrame({"k": [1, 2], "v": [10.26, 3.5]}), want) == checks.LAST_PLACE
    assert checks.compare(pd.DataFrame({"k": [1, 2], "v": [10.35, 3.5]}), want) == checks.DIFFERS
    assert checks.compare(pd.DataFrame({"k": [1, 3], "v": [10.25, 3.5]}), want) == checks.DIFFERS


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".data"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_churn", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_fixture_is_a_function_of_the_seed(tmp_path):
    a = fixture.make_tables(0.001, 3)
    b = fixture.make_tables(0.001, 3)
    c = fixture.make_tables(0.001, 4)
    assert all(a[t].equals(b[t]) for t in fixture.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    leaves = fixture.build_partition_tree(str(tmp_path / "t"), 3, days=2, regions=3)
    assert leaves == fixture.build_partition_tree(str(tmp_path / "u"), 3, days=2, regions=3)
    assert len(leaves) == 6
