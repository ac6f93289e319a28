"""Round 12, wave 5: scheduler-floor tuner (`tune_for_fixture`) and the
100× sweep's key list (VERDICT r11 tasks #5/#6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


class TestTuneForFixture:
    def test_scales_to_fixture_bytes(self, spark, sf_dir):
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            n = tune_for_fixture(spark, sf_dir)
            total_mb = sum(
                os.path.getsize(os.path.join(sf_dir, f)) >> 20
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
            )
            cores = spark.sparkContext.defaultParallelism
            assert n == max(4, min(cores, total_mb))
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)

    def test_missing_dir_is_a_noop(self, spark):
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        n = tune_for_fixture(spark, "/nonexistent/dir")
        assert n == int(before)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_floor_keeps_explode_heavy_ops_parallel(self, spark, tmp_path):
        """A tiny fixture must still get >= 4 partitions (the explode
        fan-out floor), never 0/1."""
        from gluettalax_spark.session import tune_for_fixture

        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.range(10).write.mode("overwrite").parquet(f"{tmp_path}/t.parquet")
            assert tune_for_fixture(spark, str(tmp_path)) == 4
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)


class TestSweepMemoryRelease:
    def test_broadened_sweep_covers_r4_subset(self):
        """scaling_100x must enumerate >= 39 batch keys (task #5)."""
        import bench
        from gluettalax_spark import registry

        specs = registry.all_queries()
        extra = [
            n
            for n in bench.R4_SUBSET
            if n in specs
            and n not in bench.SCALING_100X_SUBSET
            and not specs[n].fixture_scale_only
        ]
        names = [n for n in bench.SCALING_100X_SUBSET if n in specs] + extra
        assert len(names) >= 39
