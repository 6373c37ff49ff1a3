"""Second batch of analytics queries: as-of join, more TPC-H shapes,
set operations, approximate aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_D = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(_D)


@register(
    "asof_join_latest_order",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id,
               o.o_orderkey AS last_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS last_orderdate
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    description="As-of join: latest order at-or-before each event, per user. "
    "Implemented single-pass (tag → union → window last ignorenulls), one "
    "shuffle on the key — not a quadratic range join. There is no "
    "(o_custkey, o_orderdate) de-tie pre-aggregation: "
    "its max(o_orderkey) folds into the window ORDER BY as a tiebreak "
    "(tied rows sort ascending, last() picks the max), so no "
    "orders-side exchange + aggregation runs only to de-tie; the "
    "window's key exchange would re-shuffle those rows anyway. Oracle: "
    "DuckDB's "
    "native ASOF JOIN over the pre-aggregated form — the equivalence "
    "(dedup-by-max == tiebreak-ordered last) is oracle-checked.",
    bench=True,
    tags=("analytics", "join", "asof"),
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.joins import as_of_join

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    joined = as_of_join(
        events,
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_key="o_custkey",
        payload_cols=["o_orderkey", "o_orderdate"],  # carry matched ts too
        right_tiebreak="o_orderkey",  # de-tie (key, ts) inside the window
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
    )


@register(
    "q10_returned_customers",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    description="TPC-H Q10 returned-item reporting: 3-way join filtered on "
    "return flag, top-20 customers by lost revenue.",
    tags=("analytics", "join", "topk"),
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
        SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
                             ELSE 0 END) AS DOUBLE) AS promo_revenue,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    description="TPC-H Q14 promotion effect: part join (strategy left to "
    "AQE's size guard — part is SF-scaled) + conditional decimal aggregate.",
    tags=("analytics", "join", "aggregation"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type").like("PROMO%"), revenue).otherwise(
                    F.lit(0).cast("decimal(38,4)")
                )
            )
            .cast("double")
            .alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_custkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180
    """,
    description="TPC-H Q18 large-volume orders, pre-aggregation form: sum "
    "lineitem by l_orderkey and apply the HAVING *before* the join (legal "
    "because o_orderkey is unique in orders, so grouping by the join key "
    "then joining ≡ joining then grouping). The join input shrinks from "
    "|lineitem| to |large orders| — a tiny set AQE then broadcasts — "
    "instead of shuffling the full fact table through the join.",
    bench=True,
    tags=("analytics", "join", "having"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_tq"))
        .filter(F.col("_tq") > 180)
    )
    return qty.join(orders, qty.l_orderkey == orders.o_orderkey).select(
        "o_orderkey", "o_custkey", F.col("_tq").cast("double").alias("total_qty")
    )


@register(
    "q19_disjunctive_filter",
    oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
           OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
           OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
    """,
    description="TPC-H Q19 disjunctive predicates across both join sides — "
    "Catalyst pushes the residual OR below the join where possible.",
    tags=("analytics", "join", "pushdown"),
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30) & (F.col("p_size") <= 15))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return j.filter(cond).agg(F.sum(revenue).cast("double").alias("revenue"))


@register(
    "set_ops_users",
    oracle="""
        SELECT user_id FROM (
            (SELECT user_id FROM events WHERE event_type = 'click'
             INTERSECT
             SELECT user_id FROM events WHERE event_type = 'purchase')
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'error'
        )
    """,
    description="Set operations (INTERSECT/EXCEPT) — absent from the "
    "reference (SURVEY.md §2.6), free Catalyst builtins here.",
    tags=("analytics", "setops"),
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    erroring = ev.filter(F.col("event_type") == "error").select("user_id")
    return clickers.intersect(buyers).exceptAll(erroring.distinct())


@register(
    "approx_distinct_parts",
    oracle=None,  # HLL sketches are engine-specific — rows-only check;
    # the SELF-VALIDATING twin approx_distinct_within_tolerance (next)
    # carries the hash-matched driver witness, and accuracy vs exact is
    # asserted in tests/test_operators.py
    description="approx_count_distinct (HyperLogLog++) per return flag — "
    "the constant-memory distinct path for 100 TB (exact distinct shuffles "
    "every key; the sketch is mergeable map-side). Oracle twin: "
    "approx_distinct_within_tolerance.",
    tags=("analytics", "approx"),
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_distinct_within_tolerance",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               1 AS within_5pct
        FROM lineitem GROUP BY l_returnflag
    """,
    description="SELF-VALIDATING oracle twin of approx_distinct_parts "
    "(the HLL++ estimate itself is engine-specific, so that query is "
    "rows-only by design): compute the sketch estimate AND the exact "
    "distinct in one plan, and emit a per-group within-5%-of-exact flag "
    "plus the exact count. DuckDB replays the exact side and the "
    "expected flag, so a broken or drifting sketch turns the driver row "
    "red. rsd=0.01 makes the 5% gate a ~5-sigma bound (measured max "
    "relative error 0.7% across sf0.001-0.1).",
    tags=("analytics", "approx", "oracle-twin"),
)
def approx_distinct_within_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).cast("int").alias("within_5pct"),
    )


@register(
    "median_quantity_by_flag",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS median_qty,
               CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    description="Exact percentiles (median/p90) per group — continuous "
    "interpolation, identical semantics in Spark percentile() and DuckDB "
    "quantile_cont().",
    tags=("analytics", "percentile"),
)
def median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
    )


@register(
    "session_window_stats",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             >= 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, sid
    """,
    description="Gap-based sessions via Spark's NATIVE session_window "
    "operator (the declarative idiom; sessionize_users is the lag+cumsum "
    "twin): one groupBy(user, session_window(ts, 30 min)) — Catalyst's "
    "UpdatingSessionsExec merges windows in one shuffle, and the same "
    "expression runs unchanged on a stream. Boundary semantics: an event "
    "exactly gap after its predecessor starts a NEW session (merge is "
    "strict ts < previous end), mirrored by >= in the oracle's lag test.",
    tags=("analytics", "window", "sessionization"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@register(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS st_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS st_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                    AS BIGINT) AS st_p
        FROM orders GROUP BY o_orderpriority
    """,
    description="PIVOT (long -> wide cross-tab): order counts by priority "
    "x status with an explicit pivot-value list, so the plan is one "
    "partial+final aggregation with NO extra pass to discover values — "
    "the form that scales (value-discovering pivot adds a distinct scan). "
    "A free Catalyst upgrade over the reference (SURVEY.md §2.4: users "
    "hand-wrote cross-tabs in reducers).",
    tags=("analytics", "aggregation", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("st_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("st_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("st_p"),
    )


@register(
    "grouping_sets_order_stats",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    description="Explicit GROUPING SETS — the general form behind "
    "rollup/cube: per-status totals, per-priority totals and the grand "
    "total in ONE aggregation pass (Catalyst expands the sets before the "
    "shuffle, so the fact table is still read once). Completes the "
    "grouping-analytics surface next to rollup_order_stats and "
    "cube_order_stats.",
    tags=("analytics", "aggregation"),
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "incident_click_attribution",
    oracle="""
        WITH err AS (
            SELECT user_id, event_id AS error_id, ts AS t0,
                   ts + INTERVAL 2 HOUR AS t1
            FROM events WHERE event_type = 'error'
        ),
        clk AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT c.user_id, c.click_id, e.error_id
        FROM clk c JOIN err e
          ON c.user_id = e.user_id
         AND c.click_ts >= e.t0 AND c.click_ts < e.t1
    """,
    description="Point-in-interval (RANGE) join via the bucketized "
    "strategy (operators/joins.interval_join): every click inside the "
    "2-hour incident window opened by an error event of the same user — "
    "incident impact attribution. Points hash to their one time bucket, "
    "intervals explode to <=3 buckets (2h window / 1h buckets), and the "
    "range join becomes an equi-join on (user, bucket) + containment "
    "filter: never BroadcastNestedLoopJoin, never per-key all-pairs. "
    "The oracle runs the plain non-equi join (exact at gate SF).",
    tags=("analytics", "join", "range"),
)
def incident_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.joins import interval_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t1"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join(
        clicks, errors, key="user_id",
        point_ts="click_ts", start_ts="t0", end_ts="t1",
        bucket_seconds=3600,
    )
    return joined.select("user_id", "click_id", "error_id")


@register(
    "incident_click_attribution_adaptive",
    oracle="""
        WITH err AS (
            SELECT user_id, event_id AS error_id, ts AS t0,
                   ts + INTERVAL 2 HOUR AS t1
            FROM events WHERE event_type = 'error'
        ),
        clk AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT c.user_id, c.click_id, e.error_id
        FROM clk c JOIN err e
          ON c.user_id = e.user_id
         AND c.click_ts >= e.t0 AND c.click_ts < e.t1
    """,
    description="incident_click_attribution with the ADAPTIVE "
    "bucket default: interval_join derives bucket_seconds from the "
    "median observed interval length (one scalar agg over the intervals "
    "side) instead of a caller constant, and clamps interval fan-out to "
    "the points side's observed bucket range — the foot-gun removal for "
    "heterogeneous interval lengths and far-future sentinel ends. Same "
    "oracle as the explicit-bucket query because the join result is "
    "bucket-invariant; a hash match certifies the adaptive path end to "
    "end.",
    tags=("analytics", "join", "range"),
)
def incident_click_attribution_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.operators.joins import interval_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("t1"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join(
        clicks, errors, key="user_id",
        point_ts="click_ts", start_ts="t0", end_ts="t1",
    )
    return joined.select("user_id", "click_id", "error_id")
