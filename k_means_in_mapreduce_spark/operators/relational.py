"""Relational operator surface (SURVEY §2.12 extension wave 1).

The reference has no SQL layer — these queries exercise the full
relational operator set (scans, filters, equi/semi/anti joins,
aggregations, windows, sorts/limits, set ops, grouping sets, pivot,
scalar functions) over the TPC-H-ish testdata tables, every one backed by
a DuckDB oracle.

Scale notes baked into each query:
- Dimension tables (region 5 rows, nation 25, supplier 100·sf-ish) are
  broadcast explicitly: at 100 TB the fact side never shuffles for these
  joins.
- Fact-fact joins (orders ⋈ lineitem, customer ⋈ orders) are equi-joins on
  their natural keys — Catalyst picks sort-merge with AQE skew handling;
  at scale both sides would be bucketed on the join key at write time.
- Aggregations are declarative groupBy/agg → partial+final HashAggregate,
  map-side combine for free.
- Filters are plain column predicates on scan columns → pushed to the
  parquet reader (verified by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import query
from ..sources import load_table
from .setops import with_empty_total


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 pricing summary (groupBy + 8 aggregates + filter)
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                        AS sum_qty,
           sum(l_extendedprice)                                   AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount))                AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))  AS sum_charge,
           avg(l_quantity)                                        AS avg_qty,
           avg(l_extendedprice)                                   AS avg_price,
           avg(l_discount)                                        AS avg_disc,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Join pipeline: TPC-H Q3-style shipping priority (3-way join + agg + top-k)
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS orderkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            li.l_orderkey.alias("orderkey"), o.o_orderdate.alias("orderdate")
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


# ---------------------------------------------------------------------------
# Star join with broadcast dims: revenue per nation in a region (Q5-style)
# ---------------------------------------------------------------------------
@query(
    "q5_nation_revenue",
    """
    SELECT n.n_name AS nation,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           count(*) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    cust = c.join(dims, c.c_nationkey == dims.n_nationkey).select(
        "c_custkey", "n_name"
    )
    # cust is customer-sized (~1/5 of all customers) — a FACT side, not a
    # dim: no broadcast hint (at 100 TB it would blow the broadcast limit;
    # the module contract is dims-broadcast, fact-fact shuffle). AQE may
    # still choose broadcast at small SFs from runtime stats — fine.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions: ranking (top-k per group) + running frame
# ---------------------------------------------------------------------------
@query(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@query(
    "customer_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_spend,
           lag(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS prev_price
    FROM orders
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


# ---------------------------------------------------------------------------
# Semi / anti joins + set operations
# ---------------------------------------------------------------------------
@query(
    "customers_no_recent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def customers_no_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "big_spender_segments",
    """
    SELECT DISTINCT c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_mktsegment")
        .distinct()
    )


@query(
    "big_spenders_gone_quiet",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    """,
)
def big_spenders_gone_quiet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers with a >300k order but nothing since 2000."""
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return big.subtract(recent)  # EXCEPT (distinct) semantics, matching the SQL


@query(
    "nations_both_sides",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_both_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


# ---------------------------------------------------------------------------
# Grouping sets / rollup + pivot
# ---------------------------------------------------------------------------
@query(
    "rollup_lineitem_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           sum(l_quantity) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = {"sum_qty": F.sum("l_quantity"), "n": F.count(F.lit(1))}
    grouped = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        *(c.alias(k) for k, c in aggs.items()),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n"
    )
    key = F.lit(None).cast("string")
    return with_empty_total(grouped, li, l_returnflag=key, l_linestatus=key,
                            g_flag=F.lit(1), g_status=F.lit(1), **aggs)


@query(
    "pivot_qty_by_status",
    """
    SELECT l_returnflag,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_open,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# ---------------------------------------------------------------------------
# Scalar function showcase + stats aggregates
# ---------------------------------------------------------------------------
@query(
    "part_catalog_features",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           length(p_name) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           concat_ws(':', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
           round(p_retailprice * 1.1, 2) AS taxed_price,
           CASE WHEN p_size >= 25 THEN 'large'
                WHEN p_size >= 10 THEN 'medium'
                ELSE 'small' END AS size_class
    FROM part
    WHERE p_name LIKE '%blue%' OR contains(p_type, 'BRASS')
    """,
)
def part_catalog_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%blue%") | F.col("p_type").contains("BRASS")
    ).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        # concat_ws in BOTH engines (oracle included): plain concat
        # diverges on NULL inputs — DuckDB concat keeps the separator
        # around a skipped NULL, concat_ws drops separator and element
        F.concat_ws(":", "p_brand", F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("taxed_price"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


@query(
    "orders_monthly_stats",
    """
    SELECT date_trunc('month', o_orderdate) AS month,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           sum(o_totalprice) AS total,
           avg(o_totalprice) AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           stddev_samp(o_totalprice) AS sd_price
    FROM orders
    GROUP BY month
    """,
)
def orders_monthly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month order stats. The median comes from the one-window CDF
    operator (statistics.exact_quantiles), NOT Spark's ``percentile``
    aggregate: percentile's partial state is a counts-map of every
    distinct value a group has seen, and o_totalprice is near-continuous
    — at 100 TB each month's map is ~that month's row count and the
    final merge task OOMs. The CDF's window sorts each month's distinct
    values and spills when they outgrow memory; the month-level join it
    costs is a broadcast of one row per month."""
    from .statistics import exact_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_custkey",
        "o_totalprice",
    )
    stats = o.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum("o_totalprice").alias("total"),
        F.avg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.stddev_samp("o_totalprice").alias("sd_price"),
    )
    med = exact_quantiles(
        o, "month", "o_totalprice", {"median_price": 0.5}
    ).select("month", "median_price")
    # left join: exact_quantiles drops NULL values, so a month whose
    # prices are all NULL has no median row — it must still appear (with
    # a NULL median), matching quantile_cont/percentile semantics
    return stats.join(F.broadcast(med), "month", "left")


# ---------------------------------------------------------------------------
# Event analytics (batch; the streaming module reuses the same semantics)
# ---------------------------------------------------------------------------
@query(
    "events_hourly_by_type",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           sum(value) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY window_start, event_type
    """,
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window — batch form of the streaming tumbling agg."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


@query(
    "events_sessionized",
    """
    WITH gaps AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, sum(value) AS total_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute inactivity gap via lag + cumulative
    sum — the classic expression-only form (no state store needed in
    batch; the streaming module uses session_window for the same
    semantics)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full-precision gap (cast to double keeps fractional seconds, matching
    # the oracle's INTERVAL comparison semantics)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30.0 * 60.0), F.lit(1)
    ).otherwise(F.lit(0))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(wcum)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame: trailing 1-hour per-user totals
# ---------------------------------------------------------------------------
@query(
    "events_trailing_hour_value",
    """
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_1h,
           sum(value) OVER w AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): for each event,
    totals over the same user's events in the trailing hour INCLUDING
    time peers — semantics rowsBetween cannot express when timestamps
    collide. Spark needs a numeric ordering for rangeBetween, so the
    frame runs over epoch microseconds with a [-3.6e9, 0] bound; one
    shuffle on user_id, sorted frames evaluated in a single pass."""
    e = load_table(spark, sf_dir, "events")
    micros = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("value").over(w).alias("value_1h"),
    )


# ---------------------------------------------------------------------------
# SQL API surface: TPC-H Q6 forecast-revenue via spark.sql over a temp view
# ---------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    """
    SELECT count(*) AS n_items,
           sum(l_extendedprice * l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 through the SQL entry point (spark.sql over a temp view) —
    the engine's textual-SQL surface; identical Catalyst plan to the
    DataFrame form: all four predicates pushed to the parquet scan, one
    scalar aggregate, no shuffle beyond the final single-row reduce."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_sqlview"
    )
    return spark.sql(
        """
        SELECT count(*) AS n_items,
               sum(l_extendedprice * l_discount) AS revenue
        FROM lineitem_sqlview
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (Catalyst decorrelation)
# ---------------------------------------------------------------------------
@query(
    "orders_above_twice_cust_avg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (
        SELECT 2 * avg(o2.o_totalprice)
        FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def orders_above_twice_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders costing more than twice their
    customer's average. Catalyst DECORRELATES this into one aggregate over
    orders + an equi-join back on o_custkey — O(n) + one shuffle, never a
    per-row subquery execution. Expressed through the SQL surface to
    exercise that rewrite; the DataFrame equivalent is the explicit
    groupBy + join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_sqlview"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_sqlview o
        WHERE o_totalprice > (
            SELECT 2 * avg(o2.o_totalprice)
            FROM orders_sqlview o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """
    )
