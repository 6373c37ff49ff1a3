"""Fourth TPC-H batch: the EXISTS (Q4) and double-correlated semi+anti
(Q21) patterns — the last classic join/subquery shapes the registry lacked.

The fixture's lineitem has no commit/receipt dates, so "late" uses a
documented ship-date proxy (l_shipdate > o_orderdate + N days); the
pattern — correlated EXISTS / NOT EXISTS compiled to semi/anti joins — is
the point, and the oracle applies the identical proxy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load


@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 80 DAY)
        GROUP BY o_orderpriority
    """,
    description="TPC-H Q4 order-priority checking: correlated EXISTS with a "
    "cross-table predicate (late-ship proxy: shipped >80 days after order) "
    "— compiles to a left-semi join with a non-equi condition; the priority "
    "rollup counts orders, not lineitems.",
    tags=("analytics", "semi-join", "exists"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_exists = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 80 DAYS")),
        "left_semi",
    )
    return late_exists.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name
    """,
    description="TPC-H Q21 suppliers-who-kept-orders-waiting: the classic "
    "semi-join (another supplier shares the order) + anti-join (but no OTHER "
    "supplier was late) on the same fact table, late-ship proxy as in Q4. "
    "Both correlations reduce to per-order distinct-supplier COUNTS "
    "(EXISTS other supplier ⇔ n_suppliers ≥ 2; NOT EXISTS other late "
    "supplier ⇔ n_late_suppliers = 1, since the row's own supplier is "
    "late). SINGLE-PASS form — one lineitem ⨝ "
    "F-orders join, one (orderkey, suppkey) aggregation carrying the "
    "per-pair late-row count, and per-order counts as WINDOWS over the "
    "pair rows. Restricting the distinct-supplier count to F orders is "
    "exact (the status filter drops whole orders, never lineitems of a "
    "surviving order, and only F orders reach the result). The join's "
    "orderkey partitioning satisfies both the pair-agg and the window "
    "clustering, so under shuffle join the plan has ONE lineitem-scale "
    "exchange and ONE lineitem scan, where a three-pass form "
    "(full-lineitem distinct pairs, late pairs, and the late join) needs "
    "three of each. Measured sf0.1: shuffle bytes 11.9 MB -> 5.1 MB "
    "against that form (tests/test_shuffle_invariants.py pins the bytes).",
    bench=True,
    tags=("analytics", "semi-join", "anti-join"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    supp = load(spark, sf_dir, "supplier")

    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("_n_late_rows"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = pair.select(
        "l_orderkey",
        "l_suppkey",
        "_n_late_rows",
        F.count(F.lit(1)).over(w).alias("_n_supp"),
        F.sum(F.when(F.col("_n_late_rows") > 0, 1).otherwise(0))
        .over(w)
        .alias("_n_late"),
    )
    l1 = flagged.filter(
        (F.col("_n_late_rows") > 0)
        & (F.col("_n_supp") >= 2)
        & (F.col("_n_late") == 1)
    )
    return (
        l1.join(supp, l1.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("_n_late_rows").cast("long").alias("numwait"))
    )
