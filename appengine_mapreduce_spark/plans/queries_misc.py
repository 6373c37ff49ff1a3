"""Final coverage batch: grouping sets, running windows, scalar-function
surface, distinct aggregates, SimHash Hamming pairs, IVF-style ANN."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_D = "decimal(18,2)"


@register(
    "cube_order_stats",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="CUBE grouping sets (all 4 combinations) — free Catalyst "
    "upgrade over the reference (SURVEY.md §2.4: no cube/rollup there).",
    tags=("analytics", "aggregation"),
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "running_customer_totals",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS order_seq
        FROM orders
    """,
    description="Running totals + sequence numbers per customer — analytic "
    "windows over a deterministic order (absent from the reference, "
    "SURVEY.md §2.5).",
    tags=("analytics", "window"),
)
def running_customer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_D))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "scalar_functions_projection",
    oracle="""
        SELECT doc_id,
               upper(substr(text, 1, 10)) AS head_upper,
               length(text) AS n_chars,
               regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_head,
               concat(lang, ':', source) AS lang_source,
               CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS size_class
        FROM (SELECT doc_id, substr(text, 1, 40) AS text, lang, source, n_chars
              FROM documents)
    """,
    description="Scalar-function surface (SURVEY.md §2.7 — the reference "
    "provides none; users wrote Python): upper/substring/length/regexp/"
    "concat/case as one codegen'd projection.",
    tags=("scalar", "projection"),
)
def scalar_functions_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 40).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length("text").alias("n_chars"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled_head"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
        F.when(F.col("n_chars") > 300, "long").otherwise("short").alias("size_class"),
    )


@register(
    "distinct_agg_combo",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderpriority
    """,
    description="Mixed distinct + plain aggregates in one groupBy — "
    "Catalyst expands to a two-phase plan automatically.",
    tags=("analytics", "aggregation", "distinct"),
)
def distinct_agg_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast(_D)).cast("double").alias("total"),
        )
    )


# SimHash near-dup pairs: 32-bit fingerprints band-split into 4 bytes; a
# pair within Hamming distance ≤ small must collide on ≥1 band (pigeonhole
# for distance ≤ 3 over 4 bands). Exact Hamming check via popcount.
_SIMHASH_CTE = """
    th AS (
        SELECT doc_id, ('0x' || substr(md5('simhash:' || tok), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS tok
              FROM documents)
    ),
    votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id),
    fp AS (SELECT doc_id, {fpexpr} AS f FROM votes),
    banded AS (
        SELECT doc_id, b, (f >> (b * 8)) & 255 AS band_val
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS b)
    )
""".format(
    votes=", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(32)
    ),
    fpexpr=" + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(32)
    ),
)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
        WITH {_SIMHASH_CTE}
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(fa.f, fb.f)) AS hamming
        FROM banded a JOIN banded b
               ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
             JOIN fp fa ON fa.doc_id = a.doc_id
             JOIN fp fb ON fb.doc_id = b.doc_id
        WHERE bit_count(xor(fa.f, fb.f)) <= 6
    """,
    description="SimHash near-dup pairs: byte-band collision candidates "
    "(pigeonhole guarantee for Hamming ≤ 3; threshold 6 accepts what the "
    "bands surface), verified by exact popcount — the second near-dup "
    "channel next to MinHash.",
    tags=("dedup", "simhash", "lsh"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators import dedup

    fp = dedup.simhash(load(spark, sf_dir, "documents"), bits=32).select(
        F.col("_id").alias("doc_id"), F.col("simhash").alias("f")
    )
    banded = fp.select(
        "doc_id",
        "f",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("f"), b * 8).bitwiseAND(F.lit(255)).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "f", "bb.b", "bb.band_val")

    buckets = (
        banded.groupBy("b", "band_val")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "f"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda x, i: F.transform(
                        F.slice(F.col("members"), i + 2, F.size(F.col("members"))),
                        lambda y: F.struct(
                            x.getField("doc_id").alias("id_a"),
                            y.getField("doc_id").alias("id_b"),
                            F.bit_count(
                                x.getField("f").bitwiseXOR(y.getField("f"))
                            ).alias("hamming"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.hamming")
    return pairs.filter(F.col("hamming") <= 6).distinct()


# Shared by ivf_topk and its stored-layout twin ivf_bucketed_probe_topk
# (identical semantics — the layout changes the SCAN, not the answer).
_IVF_PROBE_ORACLE = """
        WITH reps AS (  -- deterministic representative per label: min vec_id
            SELECT label, embedding AS rep FROM embeddings e
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings
                            WHERE label = e.label)
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        best AS (  -- probe list: the label whose representative is nearest
            SELECT label FROM reps, q
            ORDER BY list_sum(list_transform(list_zip(rep, qv),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
                     label
            LIMIT 1
        )
        SELECT vec_id,
               round(list_sum(list_transform(list_zip(embedding, qv),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(list_zip(qv, qv),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
                 AS cosine
        FROM embeddings, q
        WHERE label = (SELECT label FROM best)
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """


@register(
    "ivf_topk",
    oracle=_IVF_PROBE_ORACLE,
    description="IVF-style ANN: partition the corpus by label (the inverted "
    "file), pick the nearest partition representative for the query, probe "
    "only that partition with exact cosine — reads corpus/n_lists rows. "
    "The deterministic min-id representative stands in for a k-means "
    "centroid so the oracle can replay list selection exactly.",
    bench=True,
    tags=("similarity", "ann", "ivf"),
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import ivf_probe_topk

    emb = load(spark, sf_dir, "embeddings")
    qv_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return ivf_probe_topk(
        emb, [float(x) for x in qv_row[0]], n_probes=1, k=10
    )


def bucketed_embeddings_path(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently write the embeddings corpus Hive-partitioned by its
    inverted-list id (``label``) — the stored-ANN layout
    operators/similarity.py:39-62 advertises for 100 TB corpora. One
    directory per list; at scale maxRecordsPerFile rolls oversized
    lists and the same write distributes via the repartition."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "amr_spark_layout", tag, "embeddings_by_label")
    marker = os.path.join(out, "_LAYOUT_OK")
    if not os.path.exists(marker):
        emb = load(spark, sf_dir, "embeddings")
        emb.repartition("label").write.mode("overwrite").partitionBy(
            "label"
        ).parquet(out)
        with open(marker, "w") as fh:
            fh.write("ok")
    return out


@register(
    "ivf_bucketed_probe_topk",
    oracle=_IVF_PROBE_ORACLE,
    description="Stored-ANN partition pruning witness: "
    "the embeddings corpus is WRITTEN partitioned by its inverted-list id "
    "(label), read back, and probed with ivf_probe_topk — the probe's "
    "label filter now resolves at PLANNING time (PartitionFilters on the "
    "scan, asserted in tests/test_plan_quality.py), so one probe opens "
    "1/n_lists of the directories no matter the corpus size. This turns "
    "operators/similarity.py's 100 TB probe-pruned-scan claim into a "
    "checked fact; same answer as ivf_topk (identical oracle) because the "
    "layout changes the scan, not the semantics.",
    tags=("similarity", "ann", "ivf", "layout", "pruning"),
)
def ivf_bucketed_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import ivf_probe_topk

    src = load(spark, sf_dir, "embeddings")
    qv_row = src.filter(F.col("vec_id") == 0).select("embedding").first()
    corpus = spark.read.parquet(bucketed_embeddings_path(spark, sf_dir))
    return ivf_probe_topk(
        corpus, [float(x) for x in qv_row[0]], n_probes=1, k=10
    )


@register(
    "ivf_multiprobe_topk",
    oracle="""
        WITH reps AS (
            SELECT label, embedding AS rep FROM embeddings e
            WHERE vec_id = (SELECT min(vec_id) FROM embeddings
                            WHERE label = e.label)
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        best AS (  -- probe set: the 2 labels with the nearest representatives
            SELECT label FROM reps, q
            ORDER BY list_sum(list_transform(list_zip(rep, qv),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
                     label
            LIMIT 2
        )
        SELECT vec_id,
               round(list_sum(list_transform(list_zip(embedding, qv),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
                        * sqrt(list_sum(list_transform(list_zip(qv, qv),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))), 6)
                 AS cosine
        FROM embeddings, q
        WHERE label IN (SELECT label FROM best)
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """,
    description="IVF ANN with multi-probe (p=2): rank inverted lists by "
    "representative dot product, probe the 2 nearest lists with exact "
    "cosine — the recall-vs-cost knob of a production IVF index "
    "(operators/similarity.ivf_probe_topk). Reads 2/n_lists of the corpus; "
    "recall is monotone in p (asserted against brute force at p=1,2,4 in "
    "tests/test_sampling.py's similarity suite).",
    tags=("similarity", "ann", "ivf", "multiprobe"),
)
def ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import ivf_probe_topk

    emb = load(spark, sf_dir, "embeddings")
    qv_row = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return ivf_probe_topk(
        emb, [float(x) for x in qv_row[0]], n_probes=2, k=10
    )
