"""Similarity-search queries over the ``embeddings`` table
(array<float> column, 64 dims in the synthetic fixture).

The query vector is the embedding of vec_id=0 (fetched driver-side — it is
the query *parameter*, not a distributed read). Cosine arithmetic runs as
a sequential fold over the array in both engines, so doubles agree and
round(6) is hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.functions.vectors import cosine_similarity, l2_norm
from appengine_mapreduce_spark.operators import similarity
from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_K = 10
_LSH_BITS = 8

# DuckDB twin of functions/vectors.py (sequential fold, double precision).
_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return list(row[0])


_QVEC_CTE = "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"


@register(
    "cosine_topk",
    oracle=f"""
        WITH {_QVEC_CTE}
        SELECT vec_id, round({_cos_sql("embedding", "qv")}, 6) AS cosine
        FROM embeddings, q
        ORDER BY cosine DESC, vec_id
        LIMIT {_K}
    """,
    description="Brute-force exact cosine top-k against a query vector — "
    "the ANN baseline. Embarrassingly parallel scan; Spark's "
    "TakeOrderedAndProject does per-partition partial top-k, so only k rows "
    "per partition reach the driver.",
    bench=True,
    tags=("similarity", "ann"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vec(spark, sf_dir)
    return similarity.brute_force_topk(
        load(spark, sf_dir, "embeddings"), qv, k=_K
    )


_BUCKET_SQL = "(" + " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
    for i in range(_LSH_BITS)
) + ")"


@register(
    "ann_sign_lsh_topk",
    oracle=f"""
        WITH {_QVEC_CTE},
        qb AS (SELECT {_BUCKET_SQL.replace("embedding[", "qv[")} AS qbucket FROM q)
        SELECT vec_id, round({_cos_sql("embedding", "qv")}, 6) AS cosine
        FROM embeddings, q, qb
        WHERE {_BUCKET_SQL} = qbucket
        ORDER BY cosine DESC, vec_id
        LIMIT {_K}
    """,
    description=f"ANN top-k via sign-LSH: probe only the query's "
    f"{_LSH_BITS}-bit sign bucket (~corpus/2^{_LSH_BITS} rows read), exact "
    "cosine within — the 100 TB scale path (bucket is a storage "
    "partition/bucketBy key).",
    tags=("similarity", "ann", "lsh"),
)
def ann_sign_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vec(spark, sf_dir)
    return similarity.sign_lsh_topk(
        load(spark, sf_dir, "embeddings"), qv, k=_K, num_bits=_LSH_BITS
    )


@register(
    "embedding_norms",
    oracle=f"""
        SELECT vec_id, label,
               round(sqrt({_DOT.format(a="embedding", b="embedding")}), 6) AS l2
        FROM embeddings
    """,
    description="Per-vector L2 norm — vector math stays in JVM codegen "
    "(F.aggregate fold), no Python per row.",
    tags=("similarity", "vectors"),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.round(l2_norm(F.col("embedding")), 6).alias("l2")
    )


@register(
    "label_centroids",
    oracle="""
        SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val
        FROM (
            SELECT label,
                   unnest(embedding) AS v,
                   unnest(generate_series(0, len(embedding) - 1)) AS dim
            FROM embeddings
        )
        GROUP BY label, dim
    """,
    description="Per-label centroid (element-wise mean) via posexplode + "
    "group — the k-means/IVF building block; one shuffle keyed (label, dim).",
    tags=("similarity", "vectors", "ivf"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


_SQ_RECON = """
        ex AS (
            SELECT unnest(embedding) AS v,
                   unnest(generate_series(0, len(embedding) - 1)) AS d
            FROM embeddings
        ),
        st AS (
            SELECT d, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
            FROM ex GROUP BY d
        ),
        arrs AS (
            SELECT list(mn ORDER BY d) AS mn_arr, list(mx ORDER BY d) AS mx_arr
            FROM st
        ),
        recon AS (
            SELECT vec_id,
                   list_transform(generate_series(1, len(embedding)), i ->
                       CASE WHEN mx_arr[i] - mn_arr[i] = 0 THEN mn_arr[i]
                            ELSE mn_arr[i]
                                 + LEAST(255.0,
                                         FLOOR(255.0 * (CAST(embedding[i] AS DOUBLE) - mn_arr[i])
                                               / (mx_arr[i] - mn_arr[i])))
                                   * (mx_arr[i] - mn_arr[i]) / 255.0
                       END) AS rv,
                   qv
            FROM embeddings, arrs, q
        )
"""


@register(
    "sq8_ann_topk",
    oracle=f"""
        WITH {_QVEC_CTE},
        {_SQ_RECON}
        SELECT vec_id, round({_cos_sql("rv", "qv")}, 6) AS cosine
        FROM recon
        ORDER BY cosine DESC, vec_id
        LIMIT {_K}
    """,
    description="SQ8 scalar-quantized ANN (FAISS-style): per-dimension "
    "min/max model (2×dim doubles, one bounded-cardinality aggregation), "
    "corpus encoded to 1-byte-per-dimension codes — a 4× smaller stored "
    "index and 4× fewer bytes scanned at 100 TB — then asymmetric top-k: "
    "codes reconstructed expression-side, query kept full-precision. "
    "floor-based code assignment keeps quantization an exact portable "
    "function of IEEE doubles, so the oracle replays encode+decode "
    "bit-for-bit. operators/similarity.py:sq8_stats/sq8_encode/"
    "sq8_adc_topk.",
    bench=True,
    tags=("similarity", "ann", "quantization", "scalar-cross"),
)
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    stats = similarity.sq8_stats(emb)
    encoded = similarity.sq8_encode(emb, stats)
    return similarity.sq8_adc_topk(encoded, qv, k=_K)


_BBITS = 6
_BATCH_BUCKET = "(" + " + ".join(
    f"(CASE WHEN {{v}}[{i + 1}] >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
    for i in range(_BBITS)
) + ")"

# DEPTH-ADAPTIVE two-sided bucketing: a base bucket of c corpus rows
# sub-splits to the smallest depth k with c <= _MAXB * 2^k (capped at
# _XTRA); BOTH sides apply the corpus-derived (count -> depth) map,
# mirroring operators/similarity.two_sided_adaptive_bucket. _MAXB = 10
# is below the sf0.01 max bucket occupancy (15), so the sf0.01 driver
# gate exercises the split branch, not just the cold path.
_XTRA = 4
_MAXB = 10
_BATCH_BUCKET_X = "(" + " + ".join(
    f"(CASE WHEN {{v}}[{i + 1}] >= 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
    for i in range(_BBITS + _XTRA)
) + ")"


def _adapt_depth_case_sql() -> str:
    """Depth CASE over the broadcast corpus count c (columns b0/sig/c in
    scope), outermost-deepest — byte-identical decision order to the
    Spark WHEN chain; NULL c (no corpus rows in the bucket) falls
    through every WHEN to the base id."""
    whens = []
    for k in range(_XTRA, 0, -1):
        needs_k = _MAXB * (1 << (k - 1))
        width = 1 << (_BBITS + k)
        whens.append(f"WHEN c > {needs_k} THEN (sig % {width}) + {width}")
    return "CASE " + " ".join(whens) + " ELSE b0 END"


# tagged corpus + per-base-bucket counts + depth-adaptive bucket id —
# the shared CTE prefix of both two-sided oracles
_ADAPT_TAGGED_CTES = f"""eb AS (
            SELECT vec_id, embedding, label,
                   {_BATCH_BUCKET.format(v="embedding")} AS b0,
                   {_BATCH_BUCKET_X.format(v="embedding")} AS sig
            FROM embeddings
        ),
        cnt AS (SELECT b0, count(*) AS c FROM eb GROUP BY 1),
        ebb AS (
            SELECT eb.*, {_adapt_depth_case_sql()} AS b
            FROM eb LEFT JOIN cnt USING (b0)
        )"""


@register(
    "batch_ann_topk",
    oracle=f"""
        WITH {_ADAPT_TAGGED_CTES},
        qs AS (
            SELECT vec_id AS query_id, embedding AS qv, b AS qb
            FROM ebb WHERE vec_id < 10
        ),
        scored AS (
            SELECT query_id, vec_id,
                   round({_cos_sql("embedding", "qv")}, 6) AS cosine
            FROM ebb JOIN qs ON ebb.b = qs.qb
        )
        SELECT query_id, vec_id, cosine FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    description="Batch ANN — top-3 neighbors for EVERY query vector in one "
    "plan (k-NN graph / batched retrieval shape): sign-LSH bucket equi-join "
    "replaces the corpus × queries cross product with per-bucket blocks, "
    "then one per-query ranking window "
    "(operators/similarity.sign_lsh_batch_topk). Hot buckets sub-split "
    "DEPTH-adaptively (to the smallest extra depth restoring the "
    "occupancy cap) with the corpus-driven count map applied to BOTH "
    "sides (two_sided_adaptive_bucket), so per-bucket blocks stay bounded "
    "when the query side scales with the corpus — fixed buckets would "
    "grow candidate pairs quadratically. The query side is "
    "benchmark-sized so at scale it broadcasts and the corpus never "
    "shuffles for the join.",
    tags=("similarity", "ann", "lsh", "batch"),
)
def batch_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import sign_lsh_batch_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sign_lsh_batch_topk(
        emb, queries, k=3, num_bits=_BBITS,
        extra_bits=_XTRA, max_bucket_size=_MAXB,
    )


@register(
    "hard_negatives_topk",
    oracle=f"""
        WITH {_ADAPT_TAGGED_CTES},
        qs AS (
            SELECT vec_id AS query_id, embedding AS qv, label AS qlabel,
                   b AS qb
            FROM ebb WHERE vec_id < 10
        ),
        pos AS (  -- known positives: itself + every same-label bucket-mate
            SELECT q.query_id, e.vec_id
            FROM embeddings e JOIN qs q ON e.label = q.qlabel
        ),
        scored AS (
            SELECT query_id, vec_id,
                   round({_cos_sql("embedding", "qv")}, 6) AS cosine
            FROM ebb JOIN qs ON ebb.b = qs.qb
        ),
        negs AS (
            SELECT s.* FROM scored s
            LEFT JOIN pos p
              ON s.query_id = p.query_id AND s.vec_id = p.vec_id
            WHERE p.vec_id IS NULL
        )
        SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rank
            FROM negs
        ) WHERE rank <= 3
    """,
    description="Hard-negative mining for contrastive training "
    "(operators/similarity.hard_negative_topk): per query vector, the "
    "top-3 most-similar corpus vectors that are NOT its positives "
    "(positives = every same-label vector — the labeled-dataset shape). "
    "Batch-ANN bucket equi-join (never |C|x|Q|) with DEPTH-ADAPTIVE "
    "hot-bucket sub-splitting — the corpus count map applied to both sides "
    "(two_sided_adaptive_bucket), so mining negatives for EVERY training "
    "example (queries ≈ corpus) stays linear instead of replaying the "
    "fixed-bucket quadratic (exponent 1.45 measured at sf1). Positives "
    "removed by a "
    "broadcast LEFT ANTI join BEFORE the ranking window so a positive "
    "never eats a negative slot. At 100 TB the positive-pair table is "
    "training-label-sized and broadcasts; the corpus joins per bucket.",
    tags=("similarity", "ann", "lsh", "batch", "training-data"),
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import hard_negative_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    positives = (
        emb.join(
            emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("_qlabel"),
            ),
            F.col("label") == F.col("_qlabel"),
        )
        .select("query_id", "vec_id")
    )
    return hard_negative_topk(
        emb, queries, positives, k=3, num_bits=_BBITS,
        extra_bits=_XTRA, max_bucket_size=_MAXB,
    )


def _pq_oracle_sql(
    m: int = 4, ks: int = 16, dim: int = 64, n_iter: int = 2, k: int = 10
) -> str:
    """Full oracle: replay the ENTIRE PQ pipeline in DuckDB — training,
    encode, and ADC
    scoring — with one compound-key unrolled Lloyd's chain. pq_train
    runs the in-repo kmeans once per subspace over vector slices; since
    every subspace shares the same init rule (k smallest vec_ids) and
    iteration count, all M trainings collapse into ONE chain keyed by
    (sub, cluster): ``vs`` is the long-form corpus split as
    sub = pos // sub_dim, dim = pos % sub_dim. Per-iteration round(9)
    pins the FP means (the technique proven by
    kmeans_centroids_oracled); encode = final-centroid argmin with ties
    to the lowest cluster (row_number == Spark's
    array_position(array_min)); the ADC score rounds to 6dp BEFORE the
    top-k sort, so ordering ties break identically in both engines."""
    sub = dim // m
    head = f"""
        WITH vs AS MATERIALIZED (
            SELECT vec_id,
                   unnest(generate_series(0, {dim - 1})) // {sub} AS sub,
                   unnest(generate_series(0, {dim - 1})) % {sub} AS dim,
                   unnest(list_transform(generate_series(1, {dim}),
                          i -> CAST(embedding[i] AS DOUBLE))) AS val
            FROM embeddings
        ),
        init AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings ORDER BY vec_id LIMIT {ks}
        ),
        c0 AS MATERIALIZED (
            SELECT s.sub, i.cluster, s.dim, s.val
            FROM init i JOIN vs s USING (vec_id)
        )"""
    stages = []
    for t in range(1, n_iter + 1):
        p = f"c{t - 1}"
        stages.append(f""",
        d{t} AS (
            SELECT s.vec_id, s.sub, c.cluster,
                   sum((s.val - c.val) * (s.val - c.val)) AS dist
            FROM vs s JOIN {p} c ON s.sub = c.sub AND s.dim = c.dim
            GROUP BY s.vec_id, s.sub, c.cluster
        ),
        a{t} AS (
            SELECT vec_id, sub, cluster FROM (
                SELECT vec_id, sub, cluster,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist, cluster) AS rn
                FROM d{t}
            ) WHERE rn = 1
        ),
        m{t} AS (
            SELECT a.sub, a.cluster, s.dim, round(avg(s.val), 9) AS val
            FROM a{t} a JOIN vs s ON a.vec_id = s.vec_id AND a.sub = s.sub
            GROUP BY a.sub, a.cluster, s.dim
        ),
        c{t} AS (
            SELECT p.sub, p.cluster, p.dim, coalesce(m.val, p.val) AS val
            FROM {p} p LEFT JOIN m{t} m
              ON p.sub = m.sub AND p.cluster = m.cluster AND p.dim = m.dim
        )""")
    tail = f""",
        denc AS (
            SELECT s.vec_id, s.sub, c.cluster,
                   sum((s.val - c.val) * (s.val - c.val)) AS dist
            FROM vs s JOIN c{n_iter} c ON s.sub = c.sub AND s.dim = c.dim
            GROUP BY s.vec_id, s.sub, c.cluster
        ),
        enc AS (
            SELECT vec_id, sub, cluster FROM (
                SELECT vec_id, sub, cluster,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist, cluster) AS rn
                FROM denc
            ) WHERE rn = 1
        ),
        qv AS (SELECT sub, dim, val FROM vs WHERE vec_id = 0),
        lut AS (
            SELECT c.sub, c.cluster,
                   sum((q.val - c.val) * (q.val - c.val)) AS d
            FROM c{n_iter} c JOIN qv q ON c.sub = q.sub AND c.dim = q.dim
            GROUP BY c.sub, c.cluster
        )
        SELECT vec_id, round(sum(l.d), 6) AS adc_dist
        FROM enc e JOIN lut l ON e.sub = l.sub AND e.cluster = l.cluster
        GROUP BY vec_id
        ORDER BY adc_dist, vec_id
        LIMIT {k}
    """
    return head + "".join(stages) + tail


@register(
    "pq_ann_topk",
    oracle=_pq_oracle_sql(),
    description="Product-Quantization ANN (Jégou et al.): 4 subspace "
    "codebooks of 16 centroids trained with the in-repo Lloyd's, "
    "expression-only encode to a 4-byte code per vector (16x smaller "
    "than float64 at 64 dims), and per-query ADC lookup-table scoring — "
    "the canonical billion-scale method. At 100 TB: the stored index is "
    "code-sized, the model is Ks*D doubles on the driver, the per-query "
    "table inlines as literals, and the scan is TakeOrderedAndProject "
    "(k rows per partition to the driver, no shuffle). FULL ORACLE: "
    "training + encode + ADC replayed end-to-end in "
    "DuckDB via one compound-key (sub, cluster) unrolled Lloyd's chain.",
    tags=("similarity", "embedding", "ann", "pq"),
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train(emb, m=4, ks=16, n_iterations=2)
    encoded = pq_encode(emb, books)
    query = [float(x) for x in
             emb.orderBy("vec_id").first()["embedding"]]
    return pq_adc_topk(encoded, books, query, k=10)


def _ivfadc_oracle_sql(
    n_lists: int = 8,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    coarse_iter: int = 2,
    pq_iter: int = 2,
    n_probes: int = 2,
    k: int = 10,
) -> str:
    """Full end-to-end replay of the IVFADC index: coarse
    k-means chain (k-prefixed CTEs), final list assignment, residual
    computation, the compound-key PQ chain over RESIDUALS (p-prefixed),
    encode, probe ranking, per-probed-list query-residual lookup
    tables, and ADC scoring — all the unrolled-CTE techniques proven by
    kmeans_centroids_oracled and pq_ann_topk composed into one oracle.
    Determinism: coarse and PQ means round to 9dp per iteration;
    residuals are exact double arithmetic on identical inputs in both
    engines; the ADC score rounds to 6dp BEFORE the top-k sort."""
    sub = dim // m
    head = f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id,
                   unnest(generate_series(0, {dim - 1})) AS dim,
                   unnest(list_transform(generate_series(1, {dim}),
                          i -> CAST(embedding[i] AS DOUBLE))) AS val
            FROM embeddings
        ),
        kinit AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings ORDER BY vec_id LIMIT {n_lists}
        ),
        kc0 AS MATERIALIZED (
            SELECT i.cluster, v.dim, v.val FROM kinit i JOIN v USING (vec_id)
        )"""
    parts = []
    for t in range(1, coarse_iter + 1):
        p = f"kc{t - 1}"
        parts.append(f""",
        kd{t} AS (
            SELECT v.vec_id, c.cluster,
                   sum((v.val - c.val) * (v.val - c.val)) AS dist
            FROM v JOIN {p} c USING (dim)
            GROUP BY v.vec_id, c.cluster
        ),
        ka{t} AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM kd{t}
            ) WHERE rn = 1
        ),
        km{t} AS (
            SELECT a.cluster, v.dim, round(avg(v.val), 9) AS val
            FROM ka{t} a JOIN v USING (vec_id)
            GROUP BY a.cluster, v.dim
        ),
        kc{t} AS (
            SELECT p.cluster, p.dim, coalesce(m.val, p.val) AS val
            FROM {p} p LEFT JOIN km{t} m
              ON p.cluster = m.cluster AND p.dim = m.dim
        )""")
    kc = f"kc{coarse_iter}"
    parts.append(f""",
        kafin AS (
            SELECT vec_id, cluster AS list_id FROM (
                SELECT v.vec_id, c.cluster,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY sum((v.val - c.val) * (v.val - c.val)),
                                    c.cluster) AS rn
                FROM v JOIN {kc} c USING (dim)
                GROUP BY v.vec_id, c.cluster
            ) WHERE rn = 1
        ),
        rv AS MATERIALIZED (
            SELECT v.vec_id, v.dim, v.val - c.val AS val
            FROM v JOIN kafin a ON v.vec_id = a.vec_id
                   JOIN {kc} c ON c.cluster = a.list_id AND c.dim = v.dim
        ),
        ps AS MATERIALIZED (
            SELECT vec_id, dim // {sub} AS sub, dim % {sub} AS dim2, val
            FROM rv
        ),
        pinit AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
            FROM embeddings ORDER BY vec_id LIMIT {ks}
        ),
        pc0 AS MATERIALIZED (
            SELECT s.sub, i.cluster, s.dim2, s.val
            FROM pinit i JOIN ps s USING (vec_id)
        )""")
    for t in range(1, pq_iter + 1):
        p = f"pc{t - 1}"
        parts.append(f""",
        pd{t} AS (
            SELECT s.vec_id, s.sub, c.cluster,
                   sum((s.val - c.val) * (s.val - c.val)) AS dist
            FROM ps s JOIN {p} c ON s.sub = c.sub AND s.dim2 = c.dim2
            GROUP BY s.vec_id, s.sub, c.cluster
        ),
        pa{t} AS (
            SELECT vec_id, sub, cluster FROM (
                SELECT vec_id, sub, cluster,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist, cluster) AS rn
                FROM pd{t}
            ) WHERE rn = 1
        ),
        pm{t} AS (
            SELECT a.sub, a.cluster, s.dim2, round(avg(s.val), 9) AS val
            FROM pa{t} a JOIN ps s ON a.vec_id = s.vec_id AND a.sub = s.sub
            GROUP BY a.sub, a.cluster, s.dim2
        ),
        pc{t} AS (
            SELECT p.sub, p.cluster, p.dim2, coalesce(m.val, p.val) AS val
            FROM {p} p LEFT JOIN pm{t} m
              ON p.sub = m.sub AND p.cluster = m.cluster
                 AND p.dim2 = m.dim2
        )""")
    pc = f"pc{pq_iter}"
    tail = f""",
        penc AS (
            SELECT vec_id, sub, cluster FROM (
                SELECT s.vec_id, s.sub, c.cluster,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.sub
                           ORDER BY sum((s.val - c.val) * (s.val - c.val)),
                                    c.cluster) AS rn
                FROM ps s JOIN {pc} c ON s.sub = c.sub AND s.dim2 = c.dim2
                GROUP BY s.vec_id, s.sub, c.cluster
            ) WHERE rn = 1
        ),
        qv AS (SELECT dim, val FROM v WHERE vec_id = 0),
        probe AS (
            SELECT cluster AS list_id FROM (
                SELECT c.cluster,
                       row_number() OVER (
                           ORDER BY sum((q.val - c.val) * (q.val - c.val)),
                                    c.cluster) AS rn
                FROM {kc} c JOIN qv q USING (dim)
                GROUP BY c.cluster
            ) WHERE rn <= {n_probes}
        ),
        qr AS (
            SELECT p.list_id, c.dim // {sub} AS sub, c.dim % {sub} AS dim2,
                   q.val - c.val AS val
            FROM probe p JOIN {kc} c ON c.cluster = p.list_id
                 JOIN qv q ON q.dim = c.dim
        ),
        plut AS (
            SELECT r.list_id, c.sub, c.cluster,
                   sum((r.val - c.val) * (r.val - c.val)) AS d
            FROM qr r JOIN {pc} c ON c.sub = r.sub AND c.dim2 = r.dim2
            GROUP BY r.list_id, c.sub, c.cluster
        )
        SELECT e.vec_id, CAST(a.list_id AS INT) AS list_id,
               round(sum(l.d), 6) AS adc_dist
        FROM penc e
             JOIN kafin a ON a.vec_id = e.vec_id
             JOIN plut l ON l.list_id = a.list_id
                 AND l.sub = e.sub AND l.cluster = e.cluster
        GROUP BY e.vec_id, a.list_id
        ORDER BY adc_dist, e.vec_id
        LIMIT {k}
    """
    return head + "".join(parts) + tail


@register(
    "ivfadc_topk",
    oracle=_ivfadc_oracle_sql(),
    description="IVFADC ANN (Jégou et al.'s IVF + "
    "PQ-on-RESIDUALS, the canonical billion-scale index, FAISS "
    "IVFx,PQy): a coarse 8-list k-means quantizer routes vectors to "
    "inverted lists, a product quantizer trained on residuals stores "
    "each vector as 4 bytes, and search probes the 2 closest lists "
    "with a PER-LIST asymmetric lookup table built from the query's "
    "residual (operators/similarity.ivfadc_build/ivfadc_topk). At "
    "100 TB: bucket the encoded table by list_id and each probe is a "
    "partition-pruned scan reading M bytes/vector; both models are "
    "driver-sized. FULL ORACLE: coarse chain + assignment + residuals "
    "+ residual-PQ chain + encode + probe ranking + per-list LUTs + "
    "ADC scoring all replayed in one unrolled CTE pipeline — the "
    "composition of the kmeans_centroids_oracled and pq_ann_topk "
    "techniques.",
    tags=("similarity", "embedding", "ann", "pq", "ivf"),
)
def ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.similarity import (
        ivfadc_build,
        ivfadc_topk as _ivfadc_search,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coarse, books, encoded = ivfadc_build(
        emb, n_lists=8, m=4, ks=16, coarse_iterations=2, pq_iterations=2,
    )
    query = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return _ivfadc_search(encoded, coarse, books, query, n_probes=2, k=10)
