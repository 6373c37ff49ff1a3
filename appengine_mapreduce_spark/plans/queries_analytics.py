"""Relational analytics queries — capability upgrades over the reference
(which has no joins, windows, rollups, or SQL; SURVEY.md §2.3-2.6) expressed
on the TPC-H-ish synthetic tables. These are the bench headliners.

Money arithmetic is accumulated in DECIMAL (exact, engine-portable) and
converted to DOUBLE only at the end — double summation order differs
between engines and would break the oracle value-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_D = "decimal(18,2)"


def _dec(col: str) -> F.Column:
    return F.col(col).cast(_D)


@register(
    "q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: scan + 2-key groupBy + 7 aggregates. "
    "The reference expresses this shape only as user map/reduce code; here it is "
    "one partial+final hash aggregation.",
    bench=True,
    tags=("analytics", "aggregation"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(
                F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    oracle="""
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    description="TPC-H Q3 shipping priority: 3-way join + group + top-k. "
    "Join strategy is left to AQE's size guard: customer and orders scale "
    "with SF, so a hard broadcast hint would OOM executors at 100 TB; at "
    "small SF Spark still picks broadcast from measured sizes. "
    "Customer exists only to FILTER orders "
    "(c_custkey is unique; no customer column reaches the output), so it "
    "joins orders as LEFT SEMI *before* lineitem attaches — Spark does "
    "not reorder inner joins, and the old li⨝orders⨝cust order made the "
    "first (fact-scale) exchange carry 100% of filtered lineitem. With "
    "qualifying orders reduced first (mktsegment keeps ~20%), the "
    "orders side shrinks enough that the fact join needs no lineitem "
    "exchange at all under the size guard (measured sf1: 86.3 MB -> 6.3 "
    "MB shuffle, SortMergeJoin of li+orders -> BroadcastHashJoin); at "
    "100 TB, where nothing broadcasts, the custkey-keyed exchange "
    "carries orders rows instead of the old plan's full li⨝orders "
    "result, and the final aggregation reuses the fact join's orderkey "
    "partitioning — never worse, strictly fewer fact-scale exchanges.",
    bench=True,
    tags=("analytics", "join", "topk"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    # Semi-join the (filter-only) customer into orders FIRST: exact
    # because c_custkey is unique and no customer column survives, and
    # it shrinks the orders side before the fact-scale join.
    qual = orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
    return (
        li.join(qual, li.l_orderkey == qual.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    description="TPC-H Q5 local-supplier revenue: 6-way join. Only the "
    "constant-size dims (region=5, nation=25 rows) carry broadcast hints; "
    "customer/supplier are SF-scaled, so their join strategy is left to "
    "AQE's size guard (broadcast at small SF, shuffle at 100 TB).",
    bench=True,
    tags=("analytics", "join"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "q6_revenue_delta",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    description="TPC-H Q6 forecasting revenue: pure filter + single-row "
    "aggregate; every predicate pushes to the parquet scan.",
    bench=True,
    tags=("analytics", "aggregation", "pushdown"),
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "top_customers_per_nation",
    oracle="""
        SELECT n_name, c_custkey, c_name, c_acctbal
        FROM (
            SELECT n_name, c_custkey, c_name, c_acctbal,
                   row_number() OVER (PARTITION BY n_name
                                      ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ) WHERE rn <= 3
    """,
    description="Top-k per group via ranking window — no window functions "
    "exist in the reference (SURVEY.md §2.5); Catalyst's WindowExec + "
    "partial top-k does this in one shuffle on n_name.",
    tags=("analytics", "window", "topk"),
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_custkey", "c_name", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "rollup_order_stats",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    description="ROLLUP grouping sets — free Catalyst upgrade over the "
    "reference (no cube/rollup operators exist there, SURVEY.md §2.4).",
    tags=("analytics", "aggregation"),
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "hourly_event_stats",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
    description="Tumbling-window (hourly) event aggregation — the batch twin "
    "of the Structured Streaming job in streaming/jobs.py; the reference has "
    "no event-time windowing at all (SURVEY.md §2.10).",
    bench=True,
    tags=("analytics", "window", "streaming-twin"),
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_D)).cast("double").alias("total_value"),
        )
    )


@register(
    "sessionize_users",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                             OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > 1800000000
                        OR lag(epoch_us(ts))
                             OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        )
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM gaps GROUP BY user_id
    """,
    description="Sessionization (30-min inactivity gap) via lag + flag-sum — "
    "a stateful op the reference cannot express without a custom two-pass "
    "job; one window + one aggregate here.",
    bench=True,
    tags=("analytics", "window", "sessionization"),
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev_us.isNull() | ((F.unix_micros("ts") - prev_us) > 1_800_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "event_type_pivot",
    oracle="""
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        FROM events GROUP BY user_id
    """,
    description="Pivot event counts per user — map-side combinable "
    "conditional aggregation (one shuffle).",
    tags=("analytics", "pivot"),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy("user_id").agg(*aggs)


@register(
    "orders_with_heavy_items",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        GROUP BY o_orderpriority
    """,
    description="Semi-join (EXISTS) — TPC-H Q4 shape. The reference can only "
    "express this as a manual co-group; here it is a left-semi hash join.",
    tags=("analytics", "join", "semi"),
)
def orders_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    heavy = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "customer_order_totals",
    oracle="""
        SELECT c_custkey, c_name, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    description="Fact-to-dimension join + per-customer aggregate; customer "
    "is SF-scaled so the join strategy is left to AQE's size guard; orders "
    "aggregated in one shuffle.",
    tags=("analytics", "join", "aggregation"),
)
def customer_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"),
        )
    )
