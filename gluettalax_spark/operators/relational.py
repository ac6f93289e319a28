"""Core relational operators: scan/project/filter, sort/limit, distinct, set ops.

These realize the reference's client-side relational fragments
(SURVEY.md §2.D; gluettalax.py:654,678,742,799 glob filters;
:320-323 limit; :394,405 sort/distinct) as Catalyst-optimized DataFrame
plans — filters and projections push down to the parquet scan instead of
the reference's fetch-all-then-filter loops.
"""

from __future__ import annotations

from gluettalax_spark import memory

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gluettalax_spark.functions.scalars import glob_to_rlike
from gluettalax_spark.registry import register
from gluettalax_spark.tables import load


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (SURVEY.md §7 Phase 0)
# --------------------------------------------------------------------------

Q1_CUTOFF = "1998-09-02"

# Money sums are rounded identically on both engines: parallel double
# summation is order-dependent in the last ulp, so raw sums would
# hash-mismatch a serial oracle even when semantically identical.
_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                       AS sum_qty,
  round(sum(l_extendedprice), 2)                                  AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4)                                       AS avg_qty,
  round(avg(l_extendedprice), 4)                                  AS avg_price,
  round(avg(l_discount), 4)                                       AS avg_disc,
  count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE, doc="TPC-H Q1 pricing summary (flagship)")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → hash-aggregate → sort. Catalyst pushes the shipdate filter
    into the parquet scan and plans a partial (map-side) aggregation before
    the shuffle; with only a handful of (returnflag, linestatus) groups the
    shuffle payload is tiny at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(f"{Q1_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Projection / filter / predicates (D1–D5, D11)
# --------------------------------------------------------------------------

_GLOB = "Brand#1*"
# DuckDB string literals are not backslash-escaped, so the regex embeds as-is.
_GLOB_RE_SQL = glob_to_rlike(_GLOB)

_PROJECT_FILTER_ORACLE = f"""
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part
WHERE regexp_matches(p_brand, '{_GLOB_RE_SQL}') AND p_size >= 10
ORDER BY p_partkey
"""


@register("project_filter_glob", _PROJECT_FILTER_ORACLE, doc="projection + glob predicate (D1-D4)")
def project_filter_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference: fetch-all then ``fnmatch`` per row (gluettalax.py:654,742).

    Here the projection prunes the parquet scan to 5 columns and the
    ``p_size`` comparison pushes down; the glob runs JVM-side as ``rlike``.
    """
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_brand").rlike(glob_to_rlike(_GLOB)) & (F.col("p_size") >= 10))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    )


_ANYCOL_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey
FROM nation
WHERE regexp_matches(n_name, '^.*IA$') OR regexp_matches(CAST(n_regionkey AS VARCHAR), '^.*IA$')
ORDER BY n_nationkey
"""


@register("filter_glob_any_column", _ANYCOL_ORACLE, doc="glob across all columns (D4)")
def filter_glob_any_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference D4: ``any(fnmatch(x, p) for x in row)`` (gluettalax.py:742).

    Expressed as an OR of per-column rlike over string-cast columns —
    still a single scan with no shuffle.
    """
    nation = load(spark, sf_dir, "nation")
    pat = glob_to_rlike("*IA")
    cond = F.col("n_name").rlike(pat) | F.col("n_regionkey").cast("string").rlike(pat)
    return nation.filter(cond).select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


# --------------------------------------------------------------------------
# Sort / limit / top-k (D6, D8)
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("sort_limit_topk", _TOPK_ORACLE, doc="global top-k via sort+limit (D6/D8)")
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 orders by price. Spark plans this as TakeOrderedAndProject —
    each partition keeps only its local top-25, so no global sort and no
    full shuffle even at 100 TB. Tie-broken on key for determinism.
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# Distinct (D9)
# --------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


@register("distinct_sorted", _DISTINCT_ORACLE, doc="project → distinct → sort (D9)")
def distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference D9: ``sorted(set(...))`` after full materialization
    (gluettalax.py:405). Spark: partial-distinct before the shuffle, so
    only unique values travel.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct().orderBy("l_returnflag", "l_linestatus")


# --------------------------------------------------------------------------
# Set operations (§2.F)
# --------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 50000),
     urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'union' AS op, count(*) AS n FROM (SELECT DISTINCT o_custkey FROM (SELECT * FROM big UNION ALL SELECT * FROM urgent))
UNION ALL
SELECT 'intersect' AS op, count(*) AS n FROM (SELECT o_custkey FROM big INTERSECT SELECT o_custkey FROM urgent)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM urgent)
ORDER BY op
"""


@register("set_operations", _SETOPS_ORACLE, doc="union / intersect / except")
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over two order cohorts, summarized to
    counts so the result is stable. Spark plans intersect/except as
    semi/anti hash joins over the distinct sets.
    """
    orders = load(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 50000).select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")

    def count1(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(label).alias("op"), "n")

    return (
        count1(big.union(urgent).distinct(), "union")
        .unionByName(count1(big.intersect(urgent), "intersect"))
        .unionByName(count1(big.subtract(urgent), "except"))
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# Skyline (Pareto frontier): max size, min price over parts
# --------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
)
SELECT p.p_partkey, p.p_size, p.price_cents,
       round(p.price_cents / 100.0, 2) AS price
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.p_size >= p.p_size AND q.price_cents <= p.price_cents
    AND (q.p_size > p.p_size OR q.price_cents < p.price_cents)
)
ORDER BY p.p_size DESC, p.price_cents, p.p_partkey
"""


@register(
    "part_skyline_pareto",
    _SKYLINE_ORACLE,
    doc="skyline query (Pareto frontier: max size, min price) via the size-dictionary sweep",
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (Borzsony et al., ICDE'01): the
    parts not dominated on (size UP, price DOWN) — the classic
    multi-criteria shortlist operator ("biggest part at every price
    point"). Tie spec: equal (size, price) rows are mutually
    non-dominating and ALL survive.

    The scalable form needs no pairwise comparison: a row survives iff
    (a) its price equals the min price WITHIN its size (strictly cheaper
    same-size rows dominate it) and (b) its price is strictly below the
    min price over all LARGER sizes. Both conditions live on the SIZE
    DICTIONARY (p_size is a small-domain attribute), so after one
    data-scale groupBy(size) the sweep is a dictionary-sized running
    min — the oracle instead runs the O(n^2) NOT EXISTS definition,
    so the compare also proves the sweep math.

    Exactness: prices quantize to integer cents; the frontier is a set
    of exact comparisons — no floats anywhere in the decision."""
    part = load(spark, sf_dir, "part")
    pts = memory.cut(part.select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    ), "persist")
    size_min = memory.cut(
        pts.groupBy("p_size")
        .agg(F.min("price_cents").alias("min_price")),
        "persist",
    )
    # strict-prefix min over larger sizes, on the bounded size dictionary
    b = size_min.select(F.col("p_size").alias("bs"), F.col("min_price").alias("bp"))
    prefix = (
        size_min.join(F.broadcast(b), F.col("bs") > F.col("p_size"), "left")
        .groupBy("p_size", "min_price")
        .agg(F.min("bp").alias("min_price_larger"))
    )
    return (
        pts.join(F.broadcast(prefix), "p_size")
        .filter(
            (F.col("price_cents") == F.col("min_price"))
            & (
                F.col("min_price_larger").isNull()
                | (F.col("price_cents") < F.col("min_price_larger"))
            )
        )
        .select(
            "p_partkey",
            "p_size",
            "price_cents",
            F.round(F.col("price_cents") / 100.0, 2).alias("price"),
        )
        .orderBy(F.desc("p_size"), "price_cents", "p_partkey")
    )
