"""Set operations and multi-dimensional aggregations (SURVEY §2.6 / §2.4
"[absent]" rows — categories the reference has no instance of; covered
here with Spark builtins so the engine's surface is complete).

- UNION / INTERSECT / EXCEPT over order-key sets (``union``+``distinct``,
  ``intersect``, ``subtract`` = EXCEPT DISTINCT — NOT exceptAll-then-
  distinct, whose bag difference would keep keys the left side merely has
  more copies of). All three plan as hash
  aggregations / left-semi / left-anti joins under AQE — no sort.
- CUBE and GROUPING SETS over lineitem dimensions. Group-key NULLs that
  cube/rollup inject are COALESCEd to the literal 'ALL' so results are
  total-order comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import query
from ..sources import load_table, register_views


@query(
    "orderkeys_open_or_returned",
    """
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def orderkeys_open_or_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets from different tables."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    b = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return a.union(b).distinct()


@query(
    "custkeys_active_both_years",
    """
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def custkeys_active_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both 1995 and 1996."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@query(
    "custkeys_churned_after_1995",
    """
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def custkeys_churned_after_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: 1995 customers who placed no 1996 order."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract = EXCEPT DISTINCT (set semantics); exceptAll would be the
    # bag difference and leave keys that appear more often in 1995.
    return y95.subtract(y96)


@query(
    "cube_lineitem_flags",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_rows,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations
    in one pass (Spark expands to a single Expand + hash aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@query(
    "grouping_sets_orders",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           count(*) AS n_orders,
           sum(o_totalprice) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-status totals, per-priority totals, and
    the grand total in one aggregation pass."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               count(*) AS n_orders,
               sum(o_totalprice) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
