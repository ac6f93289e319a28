"""Lineage-cut lifecycle (gluettalax_spark/memory.py): ``cut`` registers
with the innermost ``scope``, leaving the scope releases exactly those
blocks, and ``memo`` keeps one entry per name across scopes. Needs only a
Spark session: every input is built from ``spark.range`` or written to a
temporary directory."""

from __future__ import annotations

import contextvars
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from gluettalax_spark import memory


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _ckpt_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


# --------------------------------------------------------------------------
# cut / scope
# --------------------------------------------------------------------------


class TestCutAndScope:
    @pytest.mark.parametrize("style", ["persist", "lazy_ckpt", "eager_ckpt"])
    def test_scope_exit_releases_each_style(self, spark, style):
        before = _persisted(spark)
        with memory.scope():
            df = memory.cut(spark.range(1000).withColumn("y", F.col("id") * 7), style)
            assert df.count() == 1000
            assert _persisted(spark) - before, "the cut holds no blocks"
        assert not (_persisted(spark) - before)

    def test_cut_stores_serialized_blocks(self, spark):
        with memory.scope():
            df = memory.cut(spark.range(10), "persist")
            assert df.storageLevel == memory.CKPT_LEVEL
            assert not memory.CKPT_LEVEL.deserialized

    def test_unknown_style_is_rejected(self, spark):
        with pytest.raises(ValueError, match="cut style"):
            memory.cut(spark.range(1), "none")

    def test_cut_outside_a_scope_is_left_alone(self, spark):
        """A fresh context has no open scope, as on a streaming micro-batch
        thread: its cut is registered with no scope, so leaving the scope
        open on this thread keeps its blocks."""
        with memory.scope():
            free = contextvars.Context().run(memory.cut, spark.range(100), "eager_ckpt")
            memory.cut(spark.range(50), "eager_ckpt").count()
        assert _ckpt_id(free) in _persisted(spark)
        assert free.count() == 100
        memory.release([free])
        assert _ckpt_id(free) not in _persisted(spark)

    def test_nested_scope_releases_only_its_own_cuts(self, spark):
        with memory.scope():
            outer = memory.cut(spark.range(30), "eager_ckpt")
            with memory.scope():
                inner = memory.cut(spark.range(20), "eager_ckpt")
                assert inner.count() == 20
            assert _ckpt_id(inner) not in _persisted(spark)
            assert outer.count() == 30  # would fail on released checkpoint blocks
        assert _ckpt_id(outer) not in _persisted(spark)

    def test_scope_releases_when_the_query_fails(self, spark):
        before = _persisted(spark)
        with pytest.raises(RuntimeError):
            with memory.scope():
                memory.cut(spark.range(10), "eager_ckpt")
                raise RuntimeError("query failed")
        assert not (_persisted(spark) - before)

    def test_generation_rotator_registers_with_the_scope(self, spark):
        from gluettalax_spark.operators.graph import _GenerationRotator

        before = _persisted(spark)
        with memory.scope():
            rot = _GenerationRotator()
            g = rot.checkpoint(spark.range(10))
            rot.retire()
            assert g.count() == 10
        assert not (_persisted(spark) - before)


class TestJobRunnerScopes:
    def test_job_runs_release_their_cuts(self, spark):
        from gluettalax_spark.jobs import JobRegistry

        before = _persisted(spark)
        jobs = JobRegistry()
        jobs.register("cuts", lambda spark: memory.cut(spark.range(100), "eager_ckpt"))
        assert jobs.run(spark, "cuts", timeout=120.0) is True
        assert not (_persisted(spark) - before)

    def test_two_jobs_in_flight_keep_their_own_cuts(self, spark):
        """Job A cuts while job B's scope is open, holds the eager
        checkpoint until B has finished, then counts it: B's scope exit
        must not release A's blocks (each job-runner thread has its own
        scope)."""
        from gluettalax_spark.jobs import SUCCEEDED, JobRegistry

        b_open, a_cut, b_done = threading.Event(), threading.Event(), threading.Event()
        seen = {}

        def job_a(spark):
            assert b_open.wait(120)
            df = memory.cut(spark.range(500).withColumn("y", F.col("id") + 1), "eager_ckpt")
            seen["a_rdd"] = _ckpt_id(df)
            a_cut.set()
            assert b_done.wait(120)
            seen["a_count"] = df.count()

        def job_b(spark):
            b_open.set()
            assert a_cut.wait(120)
            df = memory.cut(spark.range(300), "eager_ckpt")
            seen["b_rdd"] = _ckpt_id(df)
            seen["b_count"] = df.count()

        jobs = JobRegistry()
        jobs.register("a", job_a, timeout=180.0)
        jobs.register("b", job_b, timeout=180.0)
        run_a = jobs.run(spark, "a", op_async=True)
        assert jobs.run(spark, "b") is True
        assert seen["b_rdd"] not in _persisted(spark)
        assert seen["a_rdd"] in _persisted(spark), "B's scope released A's blocks"
        b_done.set()
        for _ in range(1200):
            if jobs.get_run_state(run_a) != "RUNNING":
                break
            threading.Event().wait(0.1)
        assert jobs.get_run_state(run_a) == SUCCEEDED, jobs.list_runs(spark)
        assert (seen["a_count"], seen["b_count"]) == (500, 300)
        assert seen["a_rdd"] not in _persisted(spark)


# --------------------------------------------------------------------------
# memo
# --------------------------------------------------------------------------


class TestMemo:
    def test_entry_outlives_the_scope_that_built_it(self, spark):
        builds = []

        def build():
            builds.append(1)
            return memory.cut(spark.range(40), "eager_ckpt")

        with memory.scope():
            first = memory.memo("test-outlives", "k", build)
            assert first.count() == 40
        assert _ckpt_id(first) in _persisted(spark)
        with memory.scope():
            again = memory.memo("test-outlives", "k", build)
            assert again is first and again.count() == 40
        assert builds == [1]
        memory.memo("test-outlives", "other", lambda: None)  # frees the entry

    def test_replacing_an_entry_frees_its_blocks(self, spark):
        old = memory.memo("test-replace", 1, lambda: memory.cut(spark.range(10), "eager_ckpt"))
        old_rdd = _ckpt_id(old)
        assert old_rdd in _persisted(spark)
        new = memory.memo("test-replace", 2, lambda: memory.cut(spark.range(20), "eager_ckpt"))
        assert old_rdd not in _persisted(spark)
        assert new.count() == 20
        memory.memo("test-replace", 3, lambda: None)
        assert _ckpt_id(new) not in _persisted(spark)

    def test_failed_build_releases_its_partial_cuts_and_keeps_no_entry(self, spark):
        before = _persisted(spark)

        def build():
            memory.cut(spark.range(10), "eager_ckpt")
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError):
            memory.memo("test-failed", "k", build)
        assert not (_persisted(spark) - before)
        assert memory.memo("test-failed", "k", lambda: "built") == "built"

    def test_concurrent_callers_share_one_build(self):
        """More threads than cores ask for the same entry at once, with a
        short switch interval: exactly one build runs and every caller
        gets its value."""
        import sys
        import time

        builds, results = [], []

        def build():
            builds.append(1)
            time.sleep(0.01)
            return object()

        def call():
            results.append(memory.memo("test-concurrent", "k", build))

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=call) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(30)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert len(builds) == 1 and len(results) == 16
        assert all(r is results[0] for r in results)

    def test_logits_memo_is_reused_in_the_next_scope(self, spark, tmp_path):
        """A logits memo built inside one query's scope is read by the next
        query's, without CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND or a rebuild."""
        from gluettalax_spark.operators.pipeline import classifier_doc_logits

        corpus = str(tmp_path)
        spark.createDataFrame(
            [(i, f"doc {i} says hello world again", "web" if i % 2 else "wiki") for i in range(12)],
            "doc_id long, text string, source string",
        ).write.parquet(f"{corpus}/documents.parquet")
        with memory.scope():
            first = classifier_doc_logits(spark, corpus)
            n1 = first.count()
        with memory.scope():
            again = classifier_doc_logits(spark, corpus)
            n2 = again.count()
        assert again is first and n1 == n2 == 12

    def test_ivf_assignments_memo_replaced_per_corpus_numpy_models_survive(
        self, spark, tmp_path
    ):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gluettalax_spark.operators import ann

        rng = np.random.default_rng(7)
        dirs = []
        for name in ("a", "b"):
            d = tmp_path / name
            d.mkdir()
            n = 48
            pq.write_table(
                pa.table({
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        rng.normal(size=(n, 8)).astype(np.float32).tolist(),
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array([i % 3 for i in range(n)], pa.int32()),
                }),
                str(d / "embeddings.parquet"),
            )
            dirs.append(str(d))
        assigned_a, _ = ann._assignments(spark, dirs[0])
        rdd_a = _ckpt_id(assigned_a)
        assert rdd_a in _persisted(spark)
        assigned_b, _ = ann._assignments(spark, dirs[1])
        assert rdd_a not in _persisted(spark), "replaced IVF assignments still cached"
        assert assigned_b.count() == 48
        assert not any(k[0] == "ivf-assign" for k in ann._MODEL_CACHE)
        centers = [k for k in ann._MODEL_CACHE if k[0] == "ivf-centers" and k[1][0] in dirs]
        assert len(centers) == 2, "the numpy centroid models must stay cached"
