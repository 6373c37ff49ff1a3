"""Second dedup batch: normalized-text exact dedup and embedding-cosine
near-duplicate pairs (the last two channels from the training-data dedup
toolbox: exact → normalized-exact → MinHash/SimHash → embedding-cosine)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

# Shared sign-LSH channel parameters (embedding_near_dup_pairs and
# semantic_dedup_keepers — same coarse 6-bit base as befits dedup
# recall, 8 extra-bit depth headroom, 64-row occupancy cap; see
# similarity.adaptive_sign_bucket for the depth-adaptive contract).
_SEM_BITS = 6
_SEM_EXTRA_BITS = 8
_SEM_MAX_BUCKET = 64


def _sem_bucket_sql(bits: int) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 "
        f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(bits)
    ) + ")"


def _depth_case_sql(base: int, extra: int, cap: int,
                    b0: str = "bucket0") -> str:
    """Depth-adaptive bucket id, mirroring similarity.adaptive_sign_bucket:
    smallest k with c <= cap * 2^k (capped at extra), id = low (base+k)
    bits of the full signature + 2^(base+k). Outermost-deepest CASE so
    the first matching WHEN wins — byte-identical decision order to the
    Spark expression chain. Columns ``c``/``sig``/``b0`` in scope."""
    whens = []
    for k in range(extra, 0, -1):
        needs_k = cap * (1 << (k - 1))
        width = 1 << (base + k)
        whens.append(
            f"WHEN c > {needs_k} THEN (sig % {width}) + {width}"
        )
    return "CASE " + " ".join(whens) + f" ELSE {b0} END"


def _sem_depth_case_sql() -> str:
    return _depth_case_sql(_SEM_BITS, _SEM_EXTRA_BITS, _SEM_MAX_BUCKET)


@register(
    "dedup_normalized",
    oracle="""
        SELECT norm_hash, min(doc_id) AS doc_id, count(*) AS dup_count
        FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS norm_hash
            FROM documents
        )
        GROUP BY norm_hash
    """,
    description="Exact dedup after canonical normalization (lowercase, trim, "
    "whitespace collapse) — catches trivially-reformatted duplicates that "
    "byte-exact dedup misses; still a 16-byte-digest shuffle.",
    tags=("dedup", "normalization"),
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.withColumn("norm_hash", F.md5(norm))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
@register(
    "embedding_near_dup_pairs",
    oracle=f"""
        WITH b0 AS (
            SELECT vec_id, embedding,
                   {_sem_bucket_sql(_SEM_BITS)} AS bucket0,
                   {_sem_bucket_sql(_SEM_BITS + _SEM_EXTRA_BITS)} AS sig,
                   sqrt({_DOT.format(a="embedding", b="embedding")}) AS nrm
            FROM embeddings
        ),
        cnt AS (SELECT bucket0, count(*) AS c FROM b0 GROUP BY bucket0),
        b AS (
            SELECT vec_id, embedding, nrm,
                   {_depth_case_sql(_SEM_BITS, _SEM_EXTRA_BITS,
                                    _SEM_MAX_BUCKET)} AS bucket
            FROM b0 JOIN cnt USING (bucket0)
        )
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
               round({_DOT.format(a="x.embedding", b="y.embedding")}
                     / (x.nrm * y.nrm), 6) AS cosine
        FROM b x JOIN b y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE {_DOT.format(a="x.embedding", b="y.embedding")}
              / (x.nrm * y.nrm) >= 0.8
    """,
    description=f"Embedding-cosine near-dup pairs: {_SEM_BITS}-bit sign-LSH "
    "buckets with DEPTH-ADAPTIVE hot-bucket sub-splitting (fixed "
    "buckets generate ~n²/2^bits pairs — measured exactly 4x per "
    "corpus doubling, 51M candidate pairs at sf8; depth-adaptive "
    "splitting keeps occupancy ~the cap at any corpus size), exact "
    "cosine ≥ 0.8 within buckets — the semantic-dedup channel for "
    "embedding-bearing corpora. Oracle replays the corpus-count depth "
    "CASE bit-exactly.",
    tags=("dedup", "similarity", "embedding"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.vectors import dot, l2_norm
    from appengine_mapreduce_spark.operators.similarity import (
        adaptive_sign_bucket,
    )

    emb = adaptive_sign_bucket(
        load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("nrm"),
        ),
        base_bits=_SEM_BITS,
        extra_bits=_SEM_EXTRA_BITS,
        max_bucket_size=_SEM_MAX_BUCKET,
    )
    x, y = emb.alias("x"), emb.alias("y")
    cos = dot(F.col("x.embedding"), F.col("y.embedding")) / (
        F.col("x.nrm") * F.col("y.nrm")
    )
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.8)
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


@register(
    "dedup_incremental",
    oracle="""
        WITH seen AS (
            SELECT DISTINCT md5(text) AS text_hash
            FROM documents WHERE doc_id < 300
        ),
        nb AS (
            SELECT md5(text) AS text_hash, doc_id
            FROM documents WHERE doc_id >= 300
        ),
        grp AS (
            SELECT text_hash, count(*) AS n, min(doc_id) AS first_doc
            FROM nb GROUP BY text_hash
        ),
        unseen AS (
            SELECT * FROM grp
            WHERE text_hash NOT IN (SELECT text_hash FROM seen)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_unique_new,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS n_unseen_rows,
               min(first_doc) AS first_new_doc
        FROM unseen
    """,
    description="Incremental dedup — the production shape: a new batch "
    "(doc_id ≥ 300) lands against the historical corpus's digest store "
    "(doc_id < 300), drops already-seen content via a digest-only "
    "anti-join (history documents never read), then dedups within the "
    "batch (operators/dedup.incremental_dedup). Emits batch accounting: "
    "unique-new digests, surviving row count, earliest new doc. At 100 TB "
    "the fingerprint store is 16 bytes/doc and bucketable by digest, "
    "making the anti-join exchange-free on the history side.",
    tags=("dedup", "incremental", "training-data"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") < 300)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    new_batch = docs.filter(F.col("doc_id") >= 300)
    hashed = new_batch.withColumn("text_hash", F.md5("text"))
    per_digest = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc")
    )
    unseen = per_digest.join(seen, "text_hash", "left_anti")
    return unseen.agg(
        F.count(F.lit(1)).alias("n_unique_new"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_unseen_rows"),
        F.min("first_doc").alias("first_new_doc"),
    )


# (8 extra-bit headroom: at sf8 a single-level 4-bit split saturated —
# all 2^10 extended buckets occupied, max 334 rows vs the 64 cap,
# candidate pairs ~4x per doubling. 6+8 = 14 bits ≤ the 64-dim embedding.
# Constants + depth
# CASE helpers shared with embedding_near_dup_pairs at the top of this
# module.)
_SEM_BUCKET = _sem_bucket_sql(_SEM_BITS)
_SEM_BUCKET_FULL = _sem_bucket_sql(_SEM_BITS + _SEM_EXTRA_BITS)
_SEM_THRESH = 0.30


@register(
    "semantic_dedup_keepers",
    oracle=f"""
        WITH RECURSIVE b0 AS (
            SELECT vec_id, embedding, {_SEM_BUCKET} AS bucket0,
                   {_SEM_BUCKET_FULL} AS sig,
                   sqrt({_DOT.format(a="embedding", b="embedding")}) AS nrm
            FROM embeddings
        ),
        cnt AS (SELECT bucket0, count(*) AS c FROM b0 GROUP BY bucket0),
        b AS (
            SELECT vec_id, embedding, nrm,
                   {_sem_depth_case_sql()} AS bucket
            FROM b0 JOIN cnt USING (bucket0)
        ),
        edges AS (
            SELECT x.vec_id AS u, y.vec_id AS v
            FROM b x JOIN b y
              ON x.bucket = y.bucket AND x.vec_id < y.vec_id
            WHERE {_DOT.format(a="x.embedding", b="y.embedding")}
                  / (x.nrm * y.nrm) >= {_SEM_THRESH}
        ),
        sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        reach(u, v) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            WHERE s.v <> r.u
        )
        SELECT u AS vec_id,
               CAST(least(u, min(v)) AS BIGINT) AS keeper,
               u <> least(u, min(v)) AS is_dup
        FROM reach GROUP BY u
    """,
    description="END-TO-END semantic dedup: sign-LSH-bucketed cosine "
    f"candidate pairs (≥ {_SEM_THRESH} within {_SEM_BITS}-bit buckets, "
    f"hot buckets > {_SEM_MAX_BUCKET} rows sub-split DEPTH-ADAPTIVELY "
    f"— to the smallest k ≤ {_SEM_EXTRA_BITS} extra sign bits that "
    f"restores the occupancy cap — so pair generation stays ~LINEAR at "
    "ANY corpus size: fixed bits went superlinear at sf1 (exponent "
    "1.45), and a single-level split saturated at "
    "sf8 (pairs ~4x per doubling once every extended bucket was hot)) "
    "→ large-star/small-star connected components → per-cluster keeper "
    "(min id) with every member labeled keep/drop — the full "
    "embedding-channel dedup pipeline in one plan. Oracle replays "
    "depth-adaptive buckets + pairs + a recursive-CTE transitive "
    "closure.",
    tags=("dedup", "similarity", "embedding", "graph", "pipeline"),
)
def semantic_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.vectors import dot, l2_norm
    from appengine_mapreduce_spark.operators.graph import (
        connected_components_star,
    )
    from appengine_mapreduce_spark.operators.similarity import (
        adaptive_sign_bucket,
    )

    emb = adaptive_sign_bucket(
        load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("nrm"),
        ),
        base_bits=_SEM_BITS,
        extra_bits=_SEM_EXTRA_BITS,
        max_bucket_size=_SEM_MAX_BUCKET,
    )
    x, y = emb.alias("x"), emb.alias("y")
    cos = dot(F.col("x.embedding"), F.col("y.embedding")) / (
        F.col("x.nrm") * F.col("y.nrm")
    )
    edges = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .filter(cos >= _SEM_THRESH)
        .select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))
    )
    cc = connected_components_star(edges)
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("keeper"),
        (F.col("node") != F.col("component")).alias("is_dup"),
    )


_SUB_K = 8  # substring window length (tokens); min_docs = 2


@register(
    "substring_dedup_spans",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5('sub:' ||
                        array_to_string(tk[i:i+{_SUB_K - 1}], ' ')),
                        1, 15))::BIGINT AS dig
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {_SUB_K - 1}))
                             AS i
                  FROM toks WHERE len(tk) >= {_SUB_K})
        ),
        rep AS (
            SELECT dig FROM sh
            GROUP BY dig HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN rep r USING (dig)),
        seq AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos - lag(pos) OVER w > {_SUB_K}
                        THEN 1 ELSE 0 END AS new_span
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sp AS (
            SELECT doc_id, pos,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS span_id
            FROM seq
        )
        SELECT doc_id, CAST(span_id AS INT) AS span_id,
               CAST(MIN(pos) AS INT) AS start_token,
               CAST(MAX(pos) - MIN(pos) + {_SUB_K} AS INT) AS span_tokens
        FROM sp GROUP BY doc_id, span_id
    """,
    description="EXACT substring-level dedup: maximal token spans "
    "repeated VERBATIM across >=2 distinct documents — mid-document "
    "boilerplate/license removal, the dedup "
    "mode exact-doc/near-dup/incremental channels miss "
    "(operators/dedup.repeated_substring_spans). One digest per token "
    "position (md5-replayable k-gram digests, the Bloom-bits pattern), "
    "ONE 8-byte-digest shuffle where dense_rank+max windows count "
    "distinct docs per digest without materializing per-digest arrays "
    "(rows spill, hot boilerplate digests cannot OOM a reducer), one "
    "doc-keyed shuffle merging overlapping windows into maximal spans "
    "via lag/running-sum. Never all-pairs. The DuckDB oracle replays "
    "the identical digest arithmetic and window merge.",
    tags=("dedup", "text", "training-data", "substring"),
)
def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        repeated_substring_spans,
    )

    docs = load(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, k=_SUB_K, min_docs=2)


@register(
    "substring_dedup_incremental",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5('sub:' ||
                        array_to_string(tk[i:i+{_SUB_K - 1}], ' ')),
                        1, 15))::BIGINT AS dig
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {_SUB_K - 1}))
                             AS i
                  FROM toks WHERE len(tk) >= {_SUB_K})
        ),
        store AS (SELECT DISTINCT dig FROM sh WHERE doc_id < 300),
        hits AS (
            SELECT s.doc_id, s.pos FROM sh s JOIN store USING (dig)
            WHERE s.doc_id >= 300
        ),
        seq AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos - lag(pos) OVER w > {_SUB_K}
                        THEN 1 ELSE 0 END AS new_span
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sp AS (
            SELECT doc_id, pos,
                   SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS span_id
            FROM seq
        )
        SELECT doc_id, CAST(span_id AS INT) AS span_id,
               CAST(MIN(pos) AS INT) AS start_token,
               CAST(MAX(pos) - MIN(pos) + {_SUB_K} AS INT) AS span_tokens
        FROM sp GROUP BY doc_id, span_id
    """,
    description="INCREMENTAL substring-level dedup (completes the dedup "
    "matrix exact/near/substring × batch/incremental): maximal token "
    "spans of a NEW batch (doc_id ≥ 300) repeated VERBATIM in the HISTORY "
    "(doc_id < 300), where the "
    "history is only its persisted k-gram digest store "
    "(operators/dedup.substring_digest_store — 8 bytes per distinct "
    "k-gram; documents never re-read). The probe is a LEFT SEMI join on "
    "the 8-byte digest (membership, not counting — no window pass, "
    "cheaper than the batch variant; exchange-free history side when "
    "the store is bucketed by digest), then the shared lag/running-sum "
    "span merge. The DuckDB oracle replays the identical digest "
    "arithmetic, store membership and span merge.",
    tags=("dedup", "text", "training-data", "substring", "incremental"),
)
def substring_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        repeated_substring_spans_incremental,
        substring_digest_store,
    )

    docs = load(spark, sf_dir, "documents")
    store = substring_digest_store(
        docs.filter(F.col("doc_id") < 300), k=_SUB_K
    )
    new_batch = docs.filter(F.col("doc_id") >= 300)
    return repeated_substring_spans_incremental(new_batch, store, k=_SUB_K)


@register(
    "substring_dedup_incremental_cleaned",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5('sub:' ||
                        array_to_string(tk[i:i+{_SUB_K - 1}], ' ')),
                        1, 15))::BIGINT AS dig
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {_SUB_K - 1}))
                             AS i
                  FROM toks WHERE len(tk) >= {_SUB_K})
        ),
        store AS (SELECT DISTINCT dig FROM sh WHERE doc_id < 300),
        hits AS (
            SELECT s.doc_id, s.pos FROM sh s JOIN store USING (dig)
            WHERE s.doc_id >= 300
        ),
        cov AS (
            SELECT DISTINCT doc_id, ti FROM (
                SELECT doc_id,
                       unnest(generate_series(pos, pos + {_SUB_K - 1}))
                           AS ti
                FROM hits)
        ),
        tokpos AS (
            SELECT doc_id, j - 1 AS ti, tk[j] AS tok
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS j
                  FROM toks WHERE doc_id >= 300)
        ),
        kept AS (
            SELECT t.doc_id, t.ti, t.tok
            FROM tokpos t
                 LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti
            WHERE c.ti IS NULL
        ),
        cleaned AS (
            SELECT doc_id, count(*) AS n_after,
                   string_agg(tok, ' ' ORDER BY ti) AS ctext
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.tk) AS INT) AS n_tokens_before,
               CAST(coalesce(c.n_after, 0) AS INT) AS n_tokens_after,
               md5(coalesce(c.ctext, '')) AS cleaned_md5
        FROM toks t LEFT JOIN cleaned c USING (doc_id)
        WHERE t.doc_id >= 300
    """,
    description="Incremental verbatim-repeat REMOVAL — the production "
    "ingest scrub (operators/dedup.strip_repeated_substrings_incremental): "
    "every NEW-batch doc (doc_id ≥ 300) rebuilt with its history-repeated "
    "spans deleted, history = the k-gram digest store only. Output pins "
    "before/after token counts AND the md5 of each reconstructed cleaned "
    "text, so the value hash checks the exact stripped string per doc. "
    "The DuckDB oracle replays store membership, coverage expansion, "
    "ordered token filtering and the single-space re-join.",
    tags=("dedup", "text", "training-data", "substring", "incremental"),
)
def substring_dedup_incremental_cleaned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        strip_repeated_substrings_incremental,
        substring_digest_store,
    )

    docs = load(spark, sf_dir, "documents")
    store = substring_digest_store(
        docs.filter(F.col("doc_id") < 300), k=_SUB_K
    )
    out = strip_repeated_substrings_incremental(
        docs.filter(F.col("doc_id") >= 300), store, k=_SUB_K
    )
    return out.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    )


@register(
    "substring_dedup_cleaned",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5('sub:' ||
                        array_to_string(tk[i:i+{_SUB_K - 1}], ' ')),
                        1, 15))::BIGINT AS dig
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {_SUB_K - 1}))
                             AS i
                  FROM toks WHERE len(tk) >= {_SUB_K})
        ),
        rep AS (
            SELECT dig FROM sh
            GROUP BY dig HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN rep r USING (dig)),
        cov AS (
            SELECT DISTINCT doc_id, ti FROM (
                SELECT doc_id,
                       unnest(generate_series(pos, pos + {_SUB_K - 1}))
                           AS ti
                FROM hits)
        ),
        tokpos AS (
            SELECT doc_id, j - 1 AS ti, tk[j] AS tok
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS j
                  FROM toks)
        ),
        kept AS (
            SELECT t.doc_id, t.ti, t.tok
            FROM tokpos t
                 LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti
            WHERE c.ti IS NULL
        ),
        cleaned AS (
            SELECT doc_id, count(*) AS n_after,
                   string_agg(tok, ' ' ORDER BY ti) AS ctext
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.tk) AS INT) AS n_tokens_before,
               CAST(coalesce(c.n_after, 0) AS INT) AS n_tokens_after,
               md5(coalesce(c.ctext, '')) AS cleaned_md5
        FROM toks t LEFT JOIN cleaned c USING (doc_id)
    """,
    description="Verbatim-repeat REMOVAL, driver-visible end to end "
    "(operators/dedup.strip_repeated_substrings): every doc rebuilt with "
    "its cross-document repeated spans deleted; output pins before/after "
    "token counts AND the md5 of the cleaned text, so the value hash "
    "checks the exact reconstructed string for all docs, not just span "
    "arithmetic. Spark side: the span table groups to a per-doc array "
    "and the strip is one JVM filter-with-index expression — no corpus "
    "shuffle beyond the span computation's two. The DuckDB oracle "
    "replays spans, coverage expansion, ordered token filtering and the "
    "single-space re-join.",
    tags=("dedup", "text", "training-data", "substring"),
)
def substring_dedup_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        strip_repeated_substrings,
    )

    docs = load(spark, sf_dir, "documents")
    out = strip_repeated_substrings(docs, k=_SUB_K, min_docs=2)
    return out.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    )
