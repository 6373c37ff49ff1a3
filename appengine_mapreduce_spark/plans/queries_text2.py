"""TF-IDF and dedup-clustering queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            GROUP BY doc_id, tok
        ),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, tok,
                   round(tf * ln((n_docs + 1) / (df + 1)), 6) AS tfidf
            FROM tf JOIN df USING (tok), n
        )
        SELECT doc_id, tok, tfidf FROM (
            SELECT doc_id, tok, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, tok) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    description="TF-IDF top-3 terms per document: term frequencies + "
    "document frequencies (two aggregations), smoothed idf, ranking "
    "window. The corpus size N is a 1-row aggregate broadcast back via "
    "cross join — one plan, no driver-side count(); df (vocabulary-scaled) "
    "and tf join on tok with the strategy left to AQE. ln() on identical "
    "doubles is bit-stable across engines; round(6) absorbs any last-ulp "
    "libm variation.",
    tags=("text", "tfidf", "window", "scalar-cross"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size as a 1-row broadcast cross join (same pattern as
    # q11_important_stock): keeps the whole query one plan with no action
    # before the final collect.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _lsh_pairs_cte() -> str:
    """The minhash_lsh_pairs oracle as a CTE chain ending in ``pairs`` —
    same parameters as the Spark side of dedup_clusters."""
    from appengine_mapreduce_spark.plans.queries_dedup import (
        _NUM_BANDS,
        _SHINGLES_CTE,
        _SIG_CTE,
    )

    banded = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"h{2 * b}::VARCHAR || '_' || h{2 * b + 1}::VARCHAR AS band_sig FROM sig"
        for b in range(_NUM_BANDS)
    )
    return f"""
        {_SHINGLES_CTE}, {_SIG_CTE},
        banded AS ({banded}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
    """


@register(
    "dedup_clusters",
    # The whole pipeline is SQL-replayable: signatures are md5-derived
    # (engine-portable), and the iterative components converge to exactly
    # the transitive closure a recursive CTE computes — so the driver
    # value-hashes the full (pairs -> components -> keepers) chain.
    oracle=f"""
        WITH RECURSIVE {_lsh_pairs_cte()},
        sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        ),
        closure AS (
            SELECT u, v FROM reach UNION SELECT DISTINCT u, u FROM sym
        ),
        comp AS (SELECT u AS node, min(v) AS component FROM closure GROUP BY u)
        SELECT component,
               array_to_string(list_sort(list(node)), ',') AS members,
               count(*) AS size,
               CAST(min(node) AS BIGINT) AS keeper
        FROM comp GROUP BY component
    """,
    description="Near-duplicate clustering: MinHash+LSH candidate pairs → "
    "connected components (iterative label propagation, one join+agg per "
    "round, lineage truncated per iteration) → (component, members, size, "
    "keeper). The final step of corpus dedup: keep one doc per component. "
    "Oracled end to end: the md5-derived signatures replay in SQL and the "
    "iterative fixpoint must equal the recursive-CTE transitive closure.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators import dedup
    from appengine_mapreduce_spark.operators.graph import dedup_groups

    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"), num_hashes=8, shingle_words=3
    )
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=8, num_bands=4)
    groups = dedup_groups(pairs)
    return groups.select(
        "component",
        F.array_join(F.transform("members", lambda m: m.cast("string")), ",").alias(
            "members"
        ),
        "size",
        "keeper",
    )


@register(
    "cc_star_components",
    oracle="""
        WITH RECURSIVE edges AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM documents a JOIN documents b
              ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
        ),
        sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        reach(u, v) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            WHERE s.v <> r.u
        )
        SELECT u AS node, CAST(least(u, min(v)) AS BIGINT) AS component
        FROM reach GROUP BY u
    """,
    description="Connected components via large-star/small-star alternation "
    "(Kiveris et al. SoCC'14): chain graph linking consecutive doc_ids that "
    "share a language — genuine multi-hop components, verified against a "
    "recursive-CTE transitive closure in the oracle. Upgrades components "
    "from rows-only to a full value-hash gate row; round count is "
    "O(log² n) independent of graph diameter (the 100 TB story the "
    "label-prop loop lacked).",
    tags=("dedup", "graph", "iterative"),
)
def cc_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.graph import connected_components_star

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    nxt = docs.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("lang").alias("lang_b"),
        F.col("doc_id").alias("u"),
    )
    edges = docs.join(nxt, ["doc_id"]).filter(F.col("lang") == F.col("lang_b")).select(
        F.col("u").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    return connected_components_star(edges)


def _kmeans_ivf_oracle_sql(k: int = 8, dim: int = 64, n_iter: int = 3) -> str:
    """Full oracle: reuse the unrolled Lloyd's CTE chain proven by
    ``kmeans_centroids_oracled`` and append the FINAL assignment pass —
    distance of every vector to the converged centroids, argmin with
    ties to the lowest cluster (row_number ORDER BY dist, cluster ==
    Spark's when-chain), then the per-cluster profile. Spark rounds each
    dist_sq to 6dp before averaging (clustering.kmeans's ``final``
    select), so the oracle averages round(dist, 6) too; round(…, 6) on
    the mean absorbs summation-order ulps."""
    from appengine_mapreduce_spark.plans.queries_misc3 import kmeans_cte_chain

    return (
        kmeans_cte_chain(k, dim, n_iter)
        + f""",
        dfin AS (
            SELECT v.vec_id, c.cluster,
                   sum((v.val - c.val) * (v.val - c.val)) AS dist
            FROM v JOIN c{n_iter} c USING (dim)
            GROUP BY v.vec_id, c.cluster
        ),
        afin AS (
            SELECT vec_id, cluster, dist FROM (
                SELECT vec_id, cluster, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM dfin
            ) WHERE rn = 1
        )
        SELECT CAST(cluster AS INT) AS cluster,
               COUNT(*) AS n_vectors,
               round(avg(round(dist, 6)), 6) AS mean_dist_sq
        FROM afin GROUP BY cluster
    """
    )


@register(
    "kmeans_ivf_clusters",
    oracle=_kmeans_ivf_oracle_sql(),
    description="Distributed k-means (Lloyd's, 3 iterations, k=8) over the "
    "embeddings table: statically-unrolled JVM distance expressions for "
    "assignment, posexplode+avg for the update, model on the driver — the "
    "real IVF list builder. Returns per-cluster sizes and mean squared "
    "distance. FULL ORACLE: the unrolled chained-CTE "
    "Lloyd's replay (shared with kmeans_centroids_oracled) plus a final "
    "assignment stage reproduces sizes and mean dist_sq exactly in "
    "DuckDB.",
    tags=("similarity", "ivf", "iterative", "clustering"),
)
def kmeans_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.clustering import kmeans

    emb = load(spark, sf_dir, "embeddings")
    _, assigned = kmeans(emb, k=8, n_iterations=3)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("dist_sq"), 6).alias("mean_dist_sq"),
    )


def _ivf_assign_incremental_oracle_sql(
    k: int = 8, dim: int = 64, n_iter: int = 3, split: int = 50
) -> str:
    """Incremental index maintenance replay: train the Lloyd's chain on
    the STORED slice only (vec_id >= split, via kmeans_cte_chain's
    ``where``), then assign both sides against the frozen final
    centroids — the stored side re-derives list sizes, the NEW batch
    (vec_id < split) gets distances without any retraining pass. Same
    argmin/rounding conventions as the kmeans_ivf_clusters oracle."""
    from appengine_mapreduce_spark.plans.queries_misc3 import kmeans_cte_chain

    return (
        kmeans_cte_chain(k, dim, n_iter, where=f" WHERE vec_id >= {split}")
        + f""",
        dstored AS (
            SELECT v.vec_id, c.cluster,
                   sum((v.val - c.val) * (v.val - c.val)) AS dist
            FROM v JOIN c{n_iter} c USING (dim)
            GROUP BY v.vec_id, c.cluster
        ),
        astored AS (
            SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM dstored
            ) WHERE rn = 1
        ),
        vb AS (
            SELECT vec_id,
                   unnest(generate_series(0, {dim - 1})) AS dim,
                   unnest(list_transform(generate_series(1, {dim}),
                          i -> CAST(embedding[i] AS DOUBLE))) AS val
            FROM embeddings WHERE vec_id < {split}
        ),
        dnew AS (
            SELECT b.vec_id, c.cluster,
                   sum((b.val - c.val) * (b.val - c.val)) AS dist
            FROM vb b JOIN c{n_iter} c USING (dim)
            GROUP BY b.vec_id, c.cluster
        ),
        anew AS (
            SELECT vec_id, cluster, dist FROM (
                SELECT vec_id, cluster, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM dnew
            ) WHERE rn = 1
        ),
        lists AS (SELECT unnest(generate_series(0, {k - 1})) AS cluster)
        SELECT CAST(l.cluster AS INT) AS cluster,
               CAST(coalesce(s.n, 0) AS BIGINT) AS n_stored,
               CAST(coalesce(n.n, 0) AS BIGINT) AS n_new,
               round(n.mean_d, 6) AS mean_new_dist_sq
        FROM lists l
        LEFT JOIN (SELECT cluster, count(*) AS n FROM astored GROUP BY 1) s
          ON l.cluster = s.cluster
        LEFT JOIN (SELECT cluster, count(*) AS n,
                          avg(round(dist, 6)) AS mean_d
                   FROM anew GROUP BY 1) n
          ON l.cluster = n.cluster
    """
    )


@register(
    "ivf_assign_incremental",
    oracle=_ivf_assign_incremental_oracle_sql(),
    description="Incremental IVF index maintenance: a NEW embedding batch "
    "(vec_id < 50) is assigned to the FROZEN centroids trained on the "
    "stored corpus (vec_id >= 50) — no retraining, no second pass over "
    "history; per-list report of stored size, new arrivals, and mean new "
    "distance (the index-side analogue of dedup_incremental's "
    "batch-vs-store contract). At 100 TB the model is k x dim floats "
    "broadcast into statically-unrolled JVM distance expressions; the "
    "stored corpus is touched only by the (amortized) training job, "
    "never by batch arrival. FULL ORACLE: the unrolled Lloyd's CTE "
    "chain now takes a corpus-slice filter, and both assignment passes "
    "replay in DuckDB with the proven argmin/round conventions.",
    tags=("similarity", "ivf", "iterative", "clustering", "training-data"),
)
def ivf_assign_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )

    emb = load(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") >= 50)
    batch = emb.filter(F.col("vec_id") < 50)
    centroids, assigned = kmeans(stored, k=8, n_iterations=3)
    new_assigned = assign_clusters(batch, centroids).select(
        "vec_id", "cluster", F.round("dist_sq", 6).alias("dist_sq")
    )
    lists = spark.range(0, 8).select(F.col("id").cast("int").alias("cluster"))
    s = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_ns"))
    n = new_assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("_nn"),
        F.avg("dist_sq").alias("_md"),
    )
    return (
        lists.join(F.broadcast(s), "cluster", "left")
        .join(F.broadcast(n), "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("_ns"), F.lit(0)).cast("bigint").alias("n_stored"),
            F.coalesce(F.col("_nn"), F.lit(0)).cast("bigint").alias("n_new"),
            F.round(F.col("_md"), 6).alias("mean_new_dist_sq"),
        )
    )


def _diversity_sample_oracle_sql(k: int = 8, dim: int = 64, n_iter: int = 3,
                                 m: int = 10) -> str:
    """Replay of cluster-balanced diversity sampling: the proven unrolled
    Lloyd's CTE chain + final assignment (same stages as
    kmeans_ivf_clusters), then keep the m most-central vectors per
    cluster ranked on round(dist, 6) with ties to the lowest vec_id —
    exactly the quantity and order operators/clustering.diversity_sample
    uses, so the kept-id lists pin the selection value-exactly."""
    from appengine_mapreduce_spark.plans.queries_misc3 import kmeans_cte_chain

    return (
        kmeans_cte_chain(k, dim, n_iter)
        + f""",
        dfin AS (
            SELECT v.vec_id, c.cluster,
                   sum((v.val - c.val) * (v.val - c.val)) AS dist
            FROM v JOIN c{n_iter} c USING (dim)
            GROUP BY v.vec_id, c.cluster
        ),
        afin AS (
            SELECT vec_id, cluster, round(dist, 6) AS dist_sq FROM (
                SELECT vec_id, cluster, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cluster) AS rn
                FROM dfin
            ) WHERE rn = 1
        ),
        kept AS (
            SELECT cluster, vec_id, dist_sq FROM (
                SELECT cluster, vec_id, dist_sq,
                       row_number() OVER (PARTITION BY cluster
                                          ORDER BY dist_sq, vec_id) AS rn
                FROM afin
            ) WHERE rn <= {m}
        )
        SELECT CAST(cluster AS INT) AS cluster,
               COUNT(*) AS n_kept,
               array_to_string(list_sort(list(vec_id)), ',') AS members,
               round(max(dist_sq), 6) AS radius_sq
        FROM kept GROUP BY cluster
    """
    )


@register(
    "diversity_sample_clusters",
    oracle=_diversity_sample_oracle_sql(),
    description="Cluster-balanced diversity sampling: k-means (k=8, 3 "
    "Lloyd's iterations) over the embeddings table, then keep the 10 most "
    "central vectors per cluster (rounded dist_sq, ties to lowest id) — "
    "the embedding-space corpus-diversification step that samples "
    "prototypes evenly across semantic clusters "
    "(operators/clustering.diversity_sample). Output pins the kept-id "
    "list per cluster, so the driver value-hash checks the SELECTION, "
    "not just counts. Oracle: the unrolled Lloyd's CTE chain + the same "
    "two ranking windows.",
    tags=("sampling", "similarity", "clustering", "training-data",
          "iterative"),
)
def diversity_sample_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.clustering import (
        diversity_sample, kmeans,
    )

    emb = load(spark, sf_dir, "embeddings")
    _, assigned = kmeans(emb, k=8, n_iterations=3)
    kept = diversity_sample(assigned, per_cluster=10)
    return kept.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.sort_array(F.collect_list("vec_id")).cast("array<string>"), ","
        ).alias("members"),
        F.round(F.max("dist_sq"), 6).alias("radius_sq"),
    )
