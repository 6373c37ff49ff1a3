"""MERGE / SCD2 gate queries.

The reference's mutation story is ``op.db.Put`` yielded from user maps
(operation/db.py:29-72); these queries express the same intent as set
operations over immutable storage — the warehouse MERGE idiom — and are
fully SQL-expressible, so both get complete value-hash oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load


@register(
    "merge_upsert_customers",
    oracle="""
        WITH src AS (
            SELECT c_custkey, 'PREMIUM' AS c_mktsegment, c_nationkey
            FROM customer WHERE c_custkey % 7 = 0
            UNION ALL
            -- negated keys: disjoint from real custkeys at ANY scale
            -- (an additive offset collides once SF tiling reaches it)
            SELECT -c_custkey, 'NEWSEG', CAST(99 AS INT)
            FROM customer WHERE c_custkey % 100 = 0
        )
        SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_nationkey FROM src
    """,
    description="MERGE with whole-row replacement (anti-join + union): "
    "matched customers take the source row, unmatched survive, new keys "
    "insert — ≡ MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED "
    "INSERT *. One key-shuffle; ≙ the reference's op.db.Put mutation "
    "semantics re-expressed over immutable storage.",
    tags=("merge", "mutation"),
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.merge import merge_upsert

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    src = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("PREMIUM").alias("c_mktsegment"), "c_nationkey"
    ).unionByName(
        cust.filter(F.col("c_custkey") % 100 == 0).select(
            (-F.col("c_custkey")).alias("c_custkey"),
            F.lit("NEWSEG").alias("c_mktsegment"),
            F.lit(99).cast("int").alias("c_nationkey"),
        )
    )
    return merge_upsert(cust, src, ["c_custkey"])


@register(
    "scd2_upsert",
    oracle="""
        WITH dim AS (
            SELECT c_custkey AS key, c_mktsegment AS segment,
                   DATE '1992-01-01' AS vf, CAST(NULL AS DATE) AS vt
            FROM customer
        ),
        upd AS (
            SELECT c_custkey AS key,
                   CASE WHEN n >= 12 THEN 'VIP' ELSE c_mktsegment END AS segment,
                   ud AS eff
            FROM (SELECT o_custkey, count(*) AS n, max(o_orderdate) AS ud
                  FROM orders GROUP BY o_custkey) o
            JOIN customer ON o_custkey = c_custkey
            UNION ALL
            -- negated keys: disjoint from real custkeys at ANY scale
            -- (+100000 collided with sf1's tiled key range)
            SELECT -c_custkey, 'NEW', DATE '1998-01-01'
            FROM customer WHERE c_custkey % 50 = 0
        ),
        changed AS (
            SELECT d.key, d.segment AS old_seg, u.segment AS new_seg, u.eff
            FROM dim d JOIN upd u ON d.key = u.key
            WHERE d.segment <> u.segment
        )
        SELECT key, segment,
               strftime(vf, '%Y-%m-%d') AS valid_from,
               strftime(vt, '%Y-%m-%d') AS valid_to,
               true AS is_current
        FROM dim WHERE key NOT IN (SELECT key FROM changed)
        UNION ALL
        SELECT key, old_seg, '1992-01-01', strftime(eff, '%Y-%m-%d'), false
        FROM changed
        UNION ALL
        SELECT key, new_seg, strftime(eff, '%Y-%m-%d'), NULL, true
        FROM changed
        UNION ALL
        SELECT u.key, u.segment, strftime(u.eff, '%Y-%m-%d'), NULL, true
        FROM upd u WHERE u.key NOT IN (SELECT key FROM dim)
    """,
    description="SCD Type 2 upsert on a customer dimension: heavy orderers "
    "(≥12 orders) change segment to VIP → their current row closes at the "
    "effective date and a new current row opens; no-op updates (segment "
    "unchanged) leave the dimension untouched; unseen keys insert as "
    "current. One full-outer key-shuffle; history passes through.",
    bench=True,
    tags=("merge", "mutation", "scd2"),
)
def scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.merge import scd2_upsert as scd2

    cust = load(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    ords = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), F.max("o_orderdate").alias("ud"))
    )
    updates = ords.join(cust, ords.o_custkey == cust.c_custkey).select(
        F.col("c_custkey").alias("key"),
        F.when(F.col("n") >= 12, "VIP").otherwise(F.col("c_mktsegment")).alias("segment"),
        F.col("ud").alias("effective_date"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 50 == 0).select(
            (-F.col("c_custkey")).alias("key"),
            F.lit("NEW").alias("segment"),
            F.lit("1998-01-01").cast("date").alias("effective_date"),
        )
    )
    out = scd2(dim, updates, ["key"], ["segment"])
    return out.select(
        "key",
        "segment",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )
