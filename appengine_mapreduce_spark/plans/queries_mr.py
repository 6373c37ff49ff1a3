"""MapReduce-parity queries — the reference's own demo jobs and built-in
reducers, re-expressed as DataFrame plans.

Each query cites the reference behavior it reproduces; the oracle SQL is
the DuckDB-checkable ground truth the driver runs side-by-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.functions.text import nonempty_tokens
from appengine_mapreduce_spark.operators import shuffle
from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_TOKENS_SQL = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@register(
    "wordcount",
    oracle=f"""
        SELECT tok AS word, count(*) AS n
        FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
        GROUP BY tok
    """,
    description="Canonical wordcount MR (reference: python/demo/main.py:195-208 "
    "word_count_map/reduce) — read → flatMap(split) → groupBy → count.",
    bench=True,
    tags=("mr-parity", "demo"),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(nonempty_tokens(F.col("text"))).alias("word"))
    return shuffle.group_count(words, "word", alias="n")


@register(
    "inverted_index",
    oracle=f"""
        SELECT tok AS word, string_agg(DISTINCT source, ',' ORDER BY source) AS sources
        FROM (SELECT source, unnest({_TOKENS_SQL}) AS tok FROM documents)
        GROUP BY tok
    """,
    description="Inverted index word → sorted distinct sources (reference: "
    "python/demo/main.py:211-224 index_map/reduce, word → file list).",
    tags=("mr-parity", "demo"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = docs.select(
        "source", F.explode(nonempty_tokens(F.col("text"))).alias("word")
    )
    return pairs.groupBy("word").agg(
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources")
    )


@register(
    "distinct_event_types",
    oracle="SELECT DISTINCT event_type FROM events",
    description="KeyProjectionReducer ≙ DISTINCT over keys (reference: "
    "java reducers/KeyProjectionReducer.java).",
    tags=("mr-parity", "reducer"),
)
def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shuffle.distinct_keys(load(spark, sf_dir, "events"), "event_type")


@register(
    "group_values_by_user",
    oracle="""
        SELECT user_id,
               array_to_string(list_sort(list(event_type))[1:8], ',') AS events_sample,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """,
    description="IdentityReducer(maxGroupedValues=8): collate ≤8 sorted values "
    "per key (reference: java reducers/IdentityReducer.java).",
    tags=("mr-parity", "reducer"),
)
def group_values_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    grouped = shuffle.group_values(
        ev, "user_id", "event_type", sort=True, max_grouped_values=8, alias="vals"
    )
    counts = shuffle.group_count(ev, "user_id", alias="n_events")
    return grouped.join(counts, "user_id").select(
        "user_id", F.array_join("vals", ",").alias("events_sample"), "n_events"
    )


@register(
    "job_counters",
    oracle="""
        SELECT count(*) AS n_records,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events
    """,
    description="Job-global counters (reference: operation/counters.py:30-49, "
    "CountersMap model.py:228-334) as a single-row observe-style aggregate.",
    tags=("mr-parity", "counters"),
)
def job_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )


@register(
    "mod37_groupcount",
    oracle="SELECT event_id % 37 AS bucket, count(*) AS n FROM events GROUP BY bucket",
    description="Mod-37 group-count parity scenario (reference: java "
    "test EndToEndTest.java:994 Mod37Mapper).",
    tags=("mr-parity", "test-scenario"),
)
def mod37_groupcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return shuffle.group_count(
        ev.select((F.col("event_id") % 37).alias("bucket")), "bucket", alias="n"
    )


@register(
    "collision_finding",
    oracle="""
        SELECT derived AS value, count(*) AS n_seeds, min(event_id) AS min_seed
        FROM (SELECT event_id, (event_id * 2654435761) % 1000 AS derived FROM events)
        GROUP BY derived HAVING count(*) > 1
    """,
    description="Collision-finding job: values produced by >1 seed "
    "(reference: java example randomcollisions/CollisionFindingReducer.java; "
    "deterministic Knuth-multiplicative derivation instead of seeded RNG).",
    tags=("mr-parity", "example"),
)
def collision_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    derived = ev.select(
        "event_id", ((F.col("event_id") * F.lit(2654435761)) % 1000).alias("derived")
    )
    return (
        derived.groupBy(F.col("derived").alias("value"))
        .agg(F.count(F.lit(1)).alias("n_seeds"), F.min("event_id").alias("min_seed"))
        .filter(F.col("n_seeds") > 1)
    )


@register(
    "entity_scan_filtered",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 50000
    """,
    description="Datastore entity scan with pushed-down filters: one equality "
    "+ one inequality, ops limited to < <= > >= = (reference: "
    "input_readers.py:607-785, filter validation :646-713). Catalyst pushes "
    "both predicates into the parquet scan.",
    tags=("mr-parity", "source", "pushdown"),
)
def entity_scan_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.entity import entity_scan

    return entity_scan(
        load(spark, sf_dir, "orders"),
        filters=[("o_orderpriority", "=", "1-URGENT"), ("o_totalprice", ">=", 50000)],
        projection=["o_orderkey", "o_custkey", "o_totalprice"],
    )


@register(
    "keys_only_scan",
    oracle="SELECT o_orderkey FROM orders",
    description="Keys-only projection scan (reference: "
    "DatastoreKeyInputReader, input_readers.py:788-791) — column pruning "
    "reaches the parquet ReadSchema.",
    tags=("mr-parity", "source", "pruning"),
)
def keys_only_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.entity import entity_scan

    return entity_scan(load(spark, sf_dir, "orders"), keys_only="o_orderkey")


@register(
    "namespace_enum",
    oracle="SELECT DISTINCT source AS namespace FROM documents",
    description="Namespace enumeration ≙ SHOW SCHEMAS scan (reference: "
    "NamespaceInputReader, input_readers.py:1929-2019).",
    tags=("mr-parity", "source"),
)
def namespace_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(F.col("source").alias("namespace")).distinct()


@register(
    "log_time_range",
    oracle="""
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <  TIMESTAMP '2024-01-12 00:00:00'
          AND event_type = 'error'
    """,
    description="Time-range log scan with level filter (reference: "
    "LogInputReader input_readers.py:2022-2244; time-slice sharding "
    ":2151-2178 ≙ partition pruning).",
    tags=("mr-parity", "source"),
)
def log_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("event_type") == "error")
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


@register(
    "consecutive_longs",
    oracle="""
        SELECT count(*) AS n, CAST(sum(range) AS BIGINT) AS total,
               min(range) AS lo, max(range) AS hi
        FROM range(0, 100000)
    """,
    description="ConsecutiveLongInput generator (reference: java "
    "inputs/ConsecutiveLongInput.java:19) ≙ spark.range, verified by "
    "aggregate roll-up.",
    tags=("mr-parity", "generator"),
)
def consecutive_longs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.generators import consecutive_longs as gen

    return gen(spark, 0, 100000, num_partitions=8).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "union_concat",
    oracle="""
        SELECT event_type, count(*) AS n FROM (
            SELECT event_type FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_type FROM events WHERE event_type = 'view'
        ) GROUP BY event_type
    """,
    description="ConcatenatingInputReader ≙ UNION ALL of sources (reference: "
    "java inputs/ConcatenatingInputReader.java:16).",
    tags=("mr-parity", "source"),
)
def union_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.inmemory import concatenate

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_type")
    views = ev.filter(F.col("event_type") == "view").select("event_type")
    return shuffle.group_count(concatenate([clicks, views]), "event_type", alias="n")


@register(
    "random_strings_count",
    oracle="""
        WITH ids AS (SELECT unnest(generate_series(0, 9999)) AS id),
        h AS (SELECT id, md5('42:' || id) AS hx FROM ids),
        s AS (
          SELECT id, array_to_string(list_transform(generate_series(0, 7),
              i -> chr(CAST(97 +
                  ((strpos('0123456789abcdef', substr(hx, i*2+1, 1))-1)*16
                 + (strpos('0123456789abcdef', substr(hx, i*2+2, 1))-1))
                  % 26 AS INT))),
              '') AS value
          FROM h
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
               CAST(min(length(value)) AS INT) AS min_len,
               CAST(max(length(value)) AS INT) AS max_len,
               min(value) AS first_string,
               max(value) AS last_string
        FROM s
    """,
    description="RandomStringInputReader generator (reference: "
    "input_readers.py:1834-1926): count × fixed-length seeded random "
    "strings. The generator is counter-based (char j of string i derives "
    "from md5(seed:i) — sources/generators.py:42), NOT engine RNG, so it "
    "replays exactly in DuckDB: a FULL value-hash oracle that "
    "regenerates the identical 10k strings from the same md5 recurrence and "
    "pins content (lexicographic "
    "min/max) as well as counts.",
    tags=("mr-parity", "generator"),
)
def random_strings_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.generators import random_strings

    df = random_strings(spark, count=10000, length=8, seed=42, num_partitions=8)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("value").alias("n_distinct"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
        F.min("value").alias("first_string"),
        F.max("value").alias("last_string"),
    )


@register(
    "phrases_demo",
    oracle="""
        WITH t AS (
            SELECT source,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents
        ),
        p AS (
            SELECT source,
                   unnest(CASE WHEN len(w) < 4 THEN [array_to_string(w, ' ')]
                          ELSE list_transform(generate_series(1, len(w) - 3),
                               i -> array_to_string(list_slice(w, i, i + 3), ' '))
                          END) AS phrase
            FROM t
        ),
        c AS (SELECT phrase, source, count(*) AS n FROM p GROUP BY 1, 2),
        j AS (SELECT phrase, source, n,
                     CAST(sum(n) OVER (PARTITION BY phrase) AS BIGINT) AS total
              FROM c)
        SELECT phrase, source, CAST(n AS BIGINT) AS n, total
        FROM j WHERE total >= 3 AND n * 2 > total
    """,
    description="Phrases demo parity (reference: python/demo/main.py:230-258 "
    "phrases_map/phrases_reduce): 4-word phrases characteristic of one file "
    "— emitted when a phrase's corpus count passes a threshold AND more "
    "than half its occurrences come from a single source. The reference's "
    "two-pass reduce becomes one explode + (phrase, source) count + a "
    "per-phrase aggregation: a strict-majority source is necessarily the "
    "max_by source (if n*2 > total then n is the unique maximum — two "
    "sources tied at max n give total >= 2n, failing the filter), so the "
    "window-total formulation collapses to sum/max/max_by per phrase. The "
    "SQL oracle deliberately keeps the window formulation — two "
    "independent derivations must hash-match. Both aggregations sit "
    "above a single "
    "repartition(phrase) — HashPartitioning(phrase) satisfies the "
    "(phrase, source) clustering too, so the per-pair count and the "
    "per-phrase rollup share ONE exchange instead of two "
    "phrase-scale exchanges back to back. Map-side combining bought "
    "nothing here by measurement (255,704 exploded rows vs 253,530 "
    "distinct (phrase, source) pairs at sf0.1 — 4-gram phrases are "
    "near-unique, so the 'combined' first exchange carried the same rows "
    "the second then re-shipped). Measured sf0.1: 1.36 -> 0.84 s noop "
    "median (-38%), exchanges 2 -> 1, results bit-identical. "
    "Deviations from the demo, documented: threshold 3 (not 10 — sized to "
    "the fixture), source column stands in for filename, and ALL sliding "
    "windows count (the demo's range(0, n-4) skips the final window).",
    bench=True,
    tags=("mr-parity", "demo", "window"),
)
def phrases_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.text import nonempty_tokens

    docs = load(spark, sf_dir, "documents")
    toks = nonempty_tokens(F.lower(F.col("text")))
    docs = docs.select("source", toks.alias("_w"))
    windows = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 3),
        lambda i: F.concat_ws(" ", F.slice("_w", i, 4)),
    )
    phrases = F.when(F.size("_w") < 4, F.array(F.concat_ws(" ", "_w"))).otherwise(
        windows
    )
    # ONE exchange for both aggregations: hashpartitioning(phrase)
    # satisfies the (phrase, source) clustering as well as the per-phrase
    # rollup, and map-side combining is worthless on near-unique 4-grams
    # (see description) — so partition once, below both.
    exploded = docs.select("source", F.explode(phrases).alias("phrase")).repartition(
        "phrase"
    )
    counts = exploded.groupBy("phrase", "source").agg(F.count(F.lit(1)).alias("n"))
    # max_by ties are nondeterministic, but a tied max can never pass the
    # strict-majority filter, so ties never reach the output.
    agg = counts.groupBy("phrase").agg(
        F.sum("n").alias("total"),
        F.max("n").alias("n"),
        F.max_by("source", "n").alias("source"),
    )
    return agg.filter(
        (F.col("total") >= 3) & (F.col("n") * 2 > F.col("total"))
    ).select("phrase", "source", "n", "total")
