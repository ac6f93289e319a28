"""``catalog_churn``: the control-plane surface, with no data plane.

A seeded Hive-style tree of ``dt=/region=`` leaf dirs is written under
the run's directory. Each pass times, in order: ``create_external_table``,
bulk discovery (``add_partitions_by_location``), ``list_partitions``,
``cli.main(["lsp", ...])``, ``Crawler.run``, and a seeded mix of point
operations: ``add_partition`` and ``delete_partition`` (including
duplicate and missing cases, which must raise the documented warnings)
beside partition-pruned ``spark.table(...).where(dt=...).count()`` reads.
The catalog state after every step is checked against the tree. An
untimed warm-up pass runs first.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import random
import time

from perfbench import common, fixture, probe

TABLE = "events"
CRAWLED = "events_crawled"
SCHEMA = "event_id BIGINT, user_id BIGINT, value DOUBLE"
KEYS = ["dt", "region"]
NOMINAL_PASS_S = 6.0
# Point-operation mix: reads, writes, and the two warning cases. Every
# pass runs these shares exactly; only their order and targets vary.
MIX = (("read", 0.4), ("add", 0.2), ("delete", 0.2), ("add_dup", 0.1), ("delete_missing", 0.1))


@contextlib.contextmanager
def _wrapped(ctx, owner, attr: str, span: str):
    """Traced runs: count the calls to ``owner.attr`` made inside the
    block and record each as a span; yields the call counter."""
    calls = [0]
    if not ctx.trace:
        yield calls
        return
    original = getattr(owner, attr)

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        calls[0] += 1
        with ctx.spans.span(span):
            return original(*args, **kwargs)

    setattr(owner, attr, wrapper)
    try:
        yield calls
    finally:
        setattr(owner, attr, original)


def _step(ctx, name: str, times: dict, fn):
    t0 = time.perf_counter()
    with ctx.spans.span(f"catalog.{name}"):
        out = fn()
    times.setdefault(name, []).append(time.perf_counter() - t0)
    return out


def run(ctx: common.Context) -> tuple:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gluettalax_spark import cli
    from gluettalax_spark.exceptions import PartitionAlreadyExists, PartitionNotFound
    from gluettalax_spark.plans import catalog

    size = ctx.size
    root = os.path.join(ctx.run_dir, "lake", TABLE)
    with ctx.phase("inputs"):
        leaves = fixture.build_partition_tree(root, ctx.seed, size["days"], size["regions"])
    days = sorted({d for d, _ in leaves})
    regions = sorted({r for _, r in leaves})
    missing_day = "1999-12-31"  # outside every tree: its partitions never exist
    rng = random.Random(ctx.seed)

    spark, metrics = common.setup_sessions(ctx, lambda s: s.sql("SHOW DATABASES").collect())

    times: dict[str, list[float]] = {}
    point_ms: dict[str, list[float]] = {kind: [] for kind, _ in MIX}

    def one_pass(db: str) -> float:
        """Run one pass on a fresh database and return its wall time."""
        catalog.create_database(spark, db)
        t_pass = time.perf_counter()

        def check(ok: bool, what: str) -> None:
            ctx.attempted += 1
            if not ok:
                ctx.fail(f"{db}: {what}")

        _step(ctx, "create_table", times, lambda: catalog.create_external_table(
            spark, db, TABLE, root, SCHEMA, partition_keys=KEYS))
        with _wrapped(ctx, SparkSession, "sql", "sql") as calls:
            found = _step(ctx, "discover", times,
                          lambda: catalog.add_partitions_by_location(spark, db, TABLE))
        ctx.add("catalog.sql_per_partition", calls[0] / len(leaves))
        want_dirs = {os.path.join(root, f"dt={d}", f"region={r}") for d, r in leaves}
        check(set(found["added"]) == want_dirs and not found["skipped"] and not found["existed"],
              "discovery did not add exactly the tree's leaves")
        with _wrapped(ctx, SparkSession, "sql", "sql") as calls:
            parts = _step(ctx, "list_partitions", times,
                          lambda: catalog.list_partitions(spark, db, TABLE))
        ctx.add("catalog.sql_per_list", calls[0])
        check({row[:2] for row in parts.data} == set(leaves),
              "list_partitions differs from the tree")
        out = io.StringIO()
        with contextlib.redirect_stdout(out), _wrapped(
            ctx, catalog, "list_partitions", "catalog.lsp_list_partitions"
        ):
            rc = _step(ctx, "lsp", times, lambda: cli.main(["gluettalax", "lsp", db, TABLE]))
        check(rc == 0 and len(out.getvalue().splitlines()) == len(leaves) + 1,
              f"lsp exited {rc} or printed the wrong number of lines")
        crawler = catalog.Crawler(spark, f"crawler_{db}", db, CRAWLED, root)
        _step(ctx, "crawl", times, crawler.run)
        registered = set(leaves)
        kinds = _mix(rng, size["point_ops"])
        for i, kind in enumerate(kinds):
            if kind == "add" and len(registered) == len(leaves):
                # Nothing to add back yet: run the next other op first.
                j = next(j for j in range(i, len(kinds)) if kinds[j] != "add")
                kinds[i], kinds[j] = kinds[j], kinds[i]
                kind = kinds[i]
            t0 = time.perf_counter()
            if kind == "read":
                day = rng.choice(days)
                want = sum(n for p, n in leaves.items() if p[0] == day and p in registered)
                try:
                    got = ctx.build_and_count(
                        spark, lambda: spark.table(f"{db}.{TABLE}").where(F.col("dt") == day),
                        f"{db}-{ctx.attempted}")
                except Exception as exc:  # noqa: BLE001 - a failing op is counted, not fatal
                    ctx.fail(f"pruned read of dt={day}", exc)
                    continue
                ok = got == want
            else:
                if kind == "delete_missing":
                    part = (missing_day, rng.choice(regions))
                else:
                    part = rng.choice(sorted(
                        set(leaves) - registered if kind == "add" else registered))
                spec = dict(zip(KEYS, part))
                try:
                    ok = _write(catalog, spark, db, kind, spec,
                                PartitionAlreadyExists, PartitionNotFound)
                except Exception as exc:  # noqa: BLE001
                    ctx.fail(f"{kind} {spec}", exc)
                    continue
                if ok and kind == "add":
                    registered.add(part)
                elif ok and kind == "delete":
                    registered.discard(part)
            point_ms[kind].append((time.perf_counter() - t0) * 1000)
            check(ok, f"{kind} did not behave as documented")
        elapsed = time.perf_counter() - t_pass
        crawled = spark.sql(f"SHOW PARTITIONS {db}.{CRAWLED}").count()
        check(crawled == len(leaves), f"crawler registered {crawled} partitions")
        spark.sql(f"DROP DATABASE {db} CASCADE")
        return elapsed

    # One untimed pass first, so that the timed passes measure a warm
    # control plane (compiled catalog paths, a warm metastore) rather than
    # mixing a cold first pass into every median. Its checks still count.
    with ctx.phase("warm-up"):
        layer, n_spans = dict(ctx.layer), len(ctx.spans.records)
        one_pass("warmup")
        ctx.layer.clear()
        ctx.layer.update(layer)
        del ctx.spans.records[n_spans:]
        times.clear()
        for ms in point_ms.values():
            ms.clear()
    for i in range(ctx.planned_passes(NOMINAL_PASS_S)):
        ctx.pass_times.append(one_pass(f"lake{i}"))

    ctx.layer.update({
        "catalog.create_table_ms": probe.median(times["create_table"]) * 1000,
        "catalog.discover_s": probe.median(times["discover"]),
        "catalog.list_partitions_s": probe.median(times["list_partitions"]),
        "catalog.crawl_s": probe.median(times["crawl"]),
        "catalog.add_partition_ms": probe.median(point_ms["add"] + point_ms["add_dup"]),
        "catalog.delete_partition_ms": probe.median(
            point_ms["delete"] + point_ms["delete_missing"]),
        "catalog.pruned_scan_ms": probe.median(point_ms["read"]),
        "catalog.sql_per_partition": ctx.layer.get("catalog.sql_per_partition", 0.0) / ctx.passes,
        "catalog.sql_per_list": ctx.layer.get("catalog.sql_per_list", 0.0) / ctx.passes,
    })
    if ctx.trace:
        inner = ctx.spans.durations("catalog.lsp_list_partitions")
        ctx.layer["cli.overhead_ms"] = (probe.median(times["lsp"]) - probe.median(inner)) * 1000
    latencies = [ms for kind in point_ms.values() for ms in kind]
    metrics.update(
        op_p50_ms=probe.median(latencies),
        op_p90_ms=probe.percentile(latencies, 90),
        pass_s=probe.median(ctx.pass_times),
        samples=len(latencies),
    )
    return spark, metrics


def _mix(rng: random.Random, n: int) -> list[str]:
    """``n`` op kinds in ``MIX``'s shares, in a seeded order."""
    kinds = [k for k, share in MIX for _ in range(round(n * share))]
    rng.shuffle(kinds)
    return kinds


def _write(catalog, spark, db, kind, spec, already_exists, not_found) -> bool:
    """Run one partition write; True when it behaved as documented."""
    try:
        if kind in ("add", "add_dup"):
            catalog.add_partition(spark, db, TABLE, spec)
        else:
            catalog.delete_partition(spark, db, TABLE, spec)
    except already_exists:
        return kind == "add_dup"
    except not_found:
        return kind == "delete_missing"
    return kind in ("add", "delete")
