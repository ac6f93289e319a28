"""Capstone integration: the full GLUEttalax workflow on one engine —
a registered job runs a data-plane query, lands partitioned parquet, the
catalog registers + discovers the partitions (crawler-style), and the
result is queryable through SQL with partition pruning. Control plane,
orchestration, and data plane in one pass."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from gluettalax_spark.tables import load


@pytest.fixture()
def db(spark, tmp_path):
    name = f"etl_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE `{name}` LOCATION '{tmp_path / name}'")
    yield name
    spark.sql(f"DROP DATABASE `{name}` CASCADE")


def test_full_etl_roundtrip(spark, sf_dir, db, tmp_path):
    from gluettalax_spark.jobs import JobRegistry
    from gluettalax_spark.plans.catalog import (
        add_partitions_by_location,
        create_external_table,
        list_partitions,
    )

    out = str(tmp_path / "daily_revenue")

    # 1. Orchestration: a registered job computes daily revenue per
    #    priority and writes Hive-partitioned parquet (the Glue-job role).
    def daily_revenue_etl(spark, **args):
        li = load(spark, args["SF_DIR"], "lineitem")
        orders = load(spark, args["SF_DIR"], "orders")
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .withColumn("year", F.year("o_orderdate").cast("string"))
            .groupBy("year", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        )
        df.write.mode("overwrite").partitionBy("year").parquet(args["OUT"])
        return df

    registry = JobRegistry()
    registry.register("daily_revenue_etl", daily_revenue_etl, timeout=600.0)
    assert registry.run(spark, "daily_revenue_etl", SF_DIR=sf_dir, OUT=out) is True

    # 2. Control plane: register the external table, then bulk-discover
    #    its partitions from the filesystem (crawler/B3 semantics).
    create_external_table(
        spark, db, "daily_revenue", out,
        schema="o_orderpriority STRING, revenue DOUBLE",
        partition_keys=["year"],
    )
    result = add_partitions_by_location(spark, db, "daily_revenue", out)
    assert result["added"], result
    parts = list_partitions(spark, db, "daily_revenue")
    years = sorted(v[0] for v in parts.data)
    assert len(years) >= 3  # orderdates span 1995..2001

    # 3. Data plane: query back through SQL; the partition filter prunes.
    one_year = years[1]
    df = spark.sql(
        f"SELECT o_orderpriority, revenue FROM `{db}`.daily_revenue "
        f"WHERE year = '{one_year}' ORDER BY o_orderpriority"
    )
    rows = df.collect()
    assert len(rows) == 5  # five priorities
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan
    # Values agree with recomputing directly from the fixtures.
    li, orders = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    truth = {
        r.o_orderpriority: r.revenue
        for r in (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.year("o_orderdate") == int(one_year))
            .groupBy("o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .collect()
        )
    }
    assert {r.o_orderpriority: r.revenue for r in rows} == truth
    # 4. History: the run is visible through the runs DataFrame (A3/C5).
    hist = registry.runs_df(spark).filter(F.col("job_name") == "daily_revenue_etl").collect()
    assert len(hist) == 1 and hist[0].state == "SUCCEEDED"


# Twenty keys that cut lineage (persist, lazy and eager checkpoints, the
# CC generation rotator and both DataFrame memos), from the graph,
# tseries, text, curation and dedup modules.
RELEASE_KEYS = (
    "graph_kcore",
    "graph_degree_distribution",
    "graph_communities_lpa",
    "graph_pagerank",
    "dedup_clusters",
    "events_dow_hour_profile",
    "stats_ljung_box",
    "stats_runs_test",
    "orders_interpurchase_gaps",
    "text_mattr_diversity",
    "text_char_entropy",
    "text_bpe_train",
    "text_bpe_apply",
    "stats_cohens_kappa",
    "stats_grubbs_daily",
    "quality_brier_score",
    "quality_drift_psi",
    "dedup_fuzzy_clusters",
    "dedup_storage_savings",
    "dedup_minhash_lsh",
)


def test_registry_keys_release_their_cuts(spark, sf_dir):
    """Run the keys one after another in one session, each in a scope:
    after each, the only persisted RDDs the run added are those held by
    live memo entries (the logits and BPE-dictionary memos)."""
    from gluettalax_spark import memory
    from gluettalax_spark.registry import all_queries

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    specs = all_queries()
    for name in RELEASE_KEYS:
        with memory.scope():
            assert specs[name].builder(spark, sf_dir).count() >= 0
        memo_frames = [f for _, _, frames in memory._MEMOS.values() for f in frames]
        memo_ckpts = {
            f._jdf.queryExecution().analyzed().rdd().id() for f in memo_frames if not f.is_cached
        }
        n_memo_cached = sum(1 for f in memo_frames if f.is_cached)
        left = set(jsc.getPersistentRDDs().keySet()) - before - memo_ckpts
        assert len(left) <= n_memo_cached, (name, sorted(left))
