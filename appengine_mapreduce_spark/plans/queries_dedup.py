"""Deduplication queries over the ``documents`` table.

The MinHash/SimHash oracles replay the exact same md5-derived hash
arithmetic in DuckDB (functions/hashing.py), so the driver's value-hash
check verifies the whole pipeline, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.operators import dedup
from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_NUM_HASHES = 8
_NUM_BANDS = 4
_SHINGLE_WORDS = 3
_SIMHASH_BITS = 32
# Stop-shingle doc-frequency cap for the exact-Jaccard gate query: low
# enough to actively filter at sf0.01 (max observed DF there is 7) so the
# gate exercises the cut, not just the uncapped path.
_MAX_DOC_FREQ = 5

# Shared SQL fragments (DuckDB). Tokens/shingles mirror functions/text.py.
_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(tk) >= {_SHINGLE_WORDS}
                     THEN list_transform(
                            generate_series(1, len(tk) - {_SHINGLE_WORDS - 1}),
                            i -> array_to_string(tk[i:i+{_SHINGLE_WORDS - 1}], ' '))
                     ELSE [] END) AS shingle
            FROM toks))
"""


def _hash32_sql(expr: str, salt: str) -> str:
    """DuckDB twin of functions/hashing.stable_hash32."""
    return f"('0x' || substr(md5('{salt}:' || {expr}), 1, 8))::BIGINT"


# DuckDB twin of functions/hashing.hash_pair + the Carter-Wegman family.
_MINHASH_PRIME = 4294967311
_SIG_COLS = ",\n               ".join(
    f"min((a + {i} * b) % {_MINHASH_PRIME}) AS h{i}" for i in range(_NUM_HASHES)
)
_SEEDED_CTE = """
    seeded AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS a,
               ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS b
        FROM shingles)
"""
_SIG_CTE = f"{_SEEDED_CTE}, sig AS (SELECT doc_id, {_SIG_COLS} FROM seeded GROUP BY doc_id)"
_SIG_STR = " || '_' || ".join(f"h{i}::VARCHAR" for i in range(_NUM_HASHES))


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
    description="Exact dedup: one row per distinct text (min doc_id kept), "
    "16-byte digest as the shuffle key — the scale path for 100 TB exact "
    "dedup.",
    bench=True,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "dedup_exact_stats",
    oracle="""
        SELECT count(*) AS n_docs,
               count(DISTINCT text) AS n_distinct,
               count(*) - count(DISTINCT text) AS n_redundant
        FROM documents
    """,
    description="Corpus-level dedup accounting (counters-style single row).",
    tags=("dedup", "counters"),
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct("text")).alias("n_redundant"),
    )


@register(
    "minhash_signatures",
    oracle=f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE}
        SELECT doc_id, {_SIG_STR} AS sig FROM sig
    """,
    description=f"MinHash signatures ({_NUM_HASHES} salted hash functions over "
    f"{_SHINGLE_WORDS}-word shingles), engine-portable md5-derived hashing — "
    "the map stage of MinHash+LSH near-dup detection.",
    tags=("dedup", "minhash"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        shingle_words=_SHINGLE_WORDS,
    )
    return sigs.select(
        F.col("_id").alias("doc_id"),
        F.array_join(F.transform("sig", lambda h: h.cast("string")), "_").alias("sig"),
    )


@register(
    "minhash_lsh_pairs",
    oracle=f"""
        WITH {_SHINGLES_CTE}, {_SIG_CTE},
        banded AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, "
                f"h{2 * b}::VARCHAR || '_' || h{2 * b + 1}::VARCHAR AS band_sig FROM sig"
                for b in range(_NUM_BANDS)
            )}
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    description=f"MinHash+LSH candidate pairs: {_NUM_BANDS} bands × "
    f"{_NUM_HASHES // _NUM_BANDS} rows; self-join only within band buckets — "
    "never an all-pairs product (the 100 TB near-dup scale path).",
    bench=True,
    tags=("dedup", "minhash", "lsh"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        shingle_words=_SHINGLE_WORDS,
    )
    return dedup.lsh_candidate_pairs(
        sigs, num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS
    ).select(F.col("id_a"), F.col("id_b"))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
        WITH {_SHINGLES_CTE},
        kept AS (  -- stop-shingle cut: drop shingles in > {_MAX_DOC_FREQ} docs
            SELECT doc_id, shingle FROM shingles
            WHERE shingle NOT IN (
                SELECT shingle FROM shingles
                GROUP BY shingle HAVING count(*) > {_MAX_DOC_FREQ})
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
                   JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE i / (sa.sz + sb.sz - i) >= 0.2
    """,
    description="Exact n-gram Jaccard similarity for pairs sharing ≥1 "
    f"surviving shingle (threshold 0.2, stop-shingle cut at doc-freq "
    f"{_MAX_DOC_FREQ}) — the exact verifier for MinHash candidates, with "
    "the quadratic boilerplate fan-out capped before the self-join.",
    tags=("dedup", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        shingle_words=_SHINGLE_WORDS,
        threshold=0.2,
        max_doc_freq=_MAX_DOC_FREQ,
    )


_VOTE_COLS = ",\n               ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_EXPR = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
    for i in range(_SIMHASH_BITS)
)


@register(
    "simhash_fingerprints",
    oracle=f"""
        WITH th AS (
            SELECT doc_id, {_hash32_sql("tok", "simhash")} AS h
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ),
        votes AS (SELECT doc_id, {_VOTE_COLS} FROM th GROUP BY doc_id)
        SELECT doc_id, {_SIMHASH_EXPR} AS simhash FROM votes
    """,
    description=f"{_SIMHASH_BITS}-bit SimHash fingerprints: per-bit token "
    "votes statically unrolled into aggregate columns (one shuffle on "
    "doc_id; Hamming-near fingerprints ⇒ near-duplicate docs).",
    bench=True,
    tags=("dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = dedup.simhash(load(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)
    return fp.select(F.col("_id").alias("doc_id"), F.col("simhash"))


@register(
    "text_dedup_keepers",
    oracle=f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        kept AS (
            SELECT doc_id, shingle FROM shingles
            WHERE shingle NOT IN (
                SELECT shingle FROM shingles
                GROUP BY shingle HAVING count(*) > {_MAX_DOC_FREQ})
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM kept a JOIN kept b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        edges AS (
            SELECT id_a AS u, id_b AS v
            FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
                       JOIN sizes sb ON inter.id_b = sb.doc_id
            WHERE i / (sa.sz + sb.sz - i) >= 0.2
        ),
        sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
        reach(u, v) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            WHERE s.v <> r.u
        )
        SELECT u AS doc_id,
               CAST(least(u, min(v)) AS BIGINT) AS keeper,
               u <> least(u, min(v)) AS is_dup
        FROM reach GROUP BY u
    """,
    description="END-TO-END text dedup: exact n-gram-Jaccard pairs "
    "(stop-shingle-capped) → large-star/small-star connected components → "
    "per-cluster keeper labeling — the text-channel twin of "
    "semantic_dedup_keepers, one plan from raw documents to keep/drop "
    "decisions. Oracle replays pair generation + a recursive-CTE "
    "transitive closure.",
    tags=("dedup", "jaccard", "graph", "pipeline"),
)
def text_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.graph import (
        connected_components_star,
    )

    pairs = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        shingle_words=_SHINGLE_WORDS,
        threshold=0.2,
        max_doc_freq=_MAX_DOC_FREQ,
    ).select("id_a", "id_b")
    cc = connected_components_star(pairs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keeper"),
        (F.col("node") != F.col("component")).alias("is_dup"),
    )


_BLOOM_BIT = "('0x' || substr(md5(text), {off}, 8))::UBIGINT % 4096"
_BLOOM_BITS = ", ".join(_BLOOM_BIT.format(off=1 + 8 * i) for i in range(4))


@register(
    "bloom_incremental_dedup_stats",
    oracle=f"""
        WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        newb AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id >= 300 AND doc_id < 600
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM hist
            WHERE doc_id % 7 = 0
        ),
        bits AS (
            SELECT DISTINCT bloom_bit FROM (
                SELECT unnest([{_BLOOM_BITS}]) AS bloom_bit FROM hist)
        ),
        probe AS (
            SELECT doc_id,
                   CASE WHEN b0 IN (SELECT bloom_bit FROM bits)
                         AND b1 IN (SELECT bloom_bit FROM bits)
                         AND b2 IN (SELECT bloom_bit FROM bits)
                         AND b3 IN (SELECT bloom_bit FROM bits)
                        THEN 1 ELSE 0 END AS cand,
                   CASE WHEN text IN (SELECT text FROM hist)
                        THEN 1 ELSE 0 END AS dup
            FROM (
                SELECT doc_id, text,
                       {_BLOOM_BIT.format(off=1)} AS b0,
                       {_BLOOM_BIT.format(off=9)} AS b1,
                       {_BLOOM_BIT.format(off=17)} AS b2,
                       {_BLOOM_BIT.format(off=25)} AS b3
                FROM newb)
        )
        SELECT COUNT(*) AS n_new,
               CAST(SUM(cand) AS BIGINT) AS n_candidates,
               CAST(SUM(dup) AS BIGINT) AS n_true_dups,
               CAST(SUM(cand * (1 - dup)) AS BIGINT) AS n_false_positives,
               CAST(SUM(dup * (1 - cand)) AS BIGINT) AS n_false_negatives
        FROM probe
    """,
    description="Bloom-filter incremental dedup: probe a "
    "re-crawl batch (new docs + every 7th history doc re-tagged) "
    "against a BROADCAST 4096-bit/4-hash Bloom bitmap of the history's "
    "digests — the bloom-then-verify pipeline that dedups a daily crawl "
    "against a 100 TB corpus without shuffling the digest store "
    "(operators/dedup.bloom_build / bloom_incremental_dedup; probe is a "
    "BroadcastHashJoin on bit ints, verification touches only "
    "candidates). Bit positions derive from md5's four 32-bit words — "
    "no engine RNG — so DuckDB replays the EXACT bitmap, candidates, "
    "false-positive count and the structural no-false-negatives "
    "invariant (the md5-replay trick from random_strings_count): a "
    "FULL-oracle probabilistic data structure, no tolerance gates.",
    tags=("dedup", "bloom", "incremental", "counters"),
)
def bloom_incremental_dedup_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        bloom_incremental_dedup,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 300)
    newb = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 600)
    ).unionByName(
        hist.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    ann = bloom_incremental_dedup(newb, hist, m_bits=4096, k=4)
    cand = F.col("bloom_candidate")
    dup = F.col("is_dup")
    return ann.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(cand).cast("bigint").alias("n_candidates"),
        F.sum(dup).cast("bigint").alias("n_true_dups"),
        F.sum(cand * (1 - dup)).cast("bigint").alias("n_false_positives"),
        F.sum(dup * (1 - cand)).cast("bigint").alias("n_false_negatives"),
    )


def _sig_pipeline_sql(src: str, p: str) -> str:
    """Render the shingle -> seeded -> signature CTE pipeline for a
    (doc_id, text) source CTE under a name prefix, so the cross-corpus
    oracle can run it once per side (DuckDB twin of
    operators/dedup.minhash_signatures over an arbitrary corpus)."""
    return f"""
    {p}toks AS (SELECT doc_id, {_TOKS} AS tk FROM {src}),
    {p}shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(tk) >= {_SHINGLE_WORDS}
                     THEN list_transform(
                            generate_series(1, len(tk) - {_SHINGLE_WORDS - 1}),
                            i -> array_to_string(tk[i:i+{_SHINGLE_WORDS - 1}], ' '))
                     ELSE [] END) AS shingle
            FROM {p}toks)),
    {p}seeded AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS a,
               ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS b
        FROM {p}shingles),
    {p}sig AS (SELECT doc_id, {_SIG_COLS} FROM {p}seeded GROUP BY doc_id),
    {p}banded AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"h{2 * b}::VARCHAR || '_' || h{2 * b + 1}::VARCHAR AS band_sig "
            f"FROM {p}sig"
            for b in range(_NUM_BANDS)
        )}
    )"""


@register(
    "crosscorpus_neardup_candidates",
    oracle=f"""
        WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        newd AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id >= 300 AND doc_id < 600
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, text || ' zqx' AS text
            FROM hist WHERE doc_id % 11 = 0
        ),
        {_sig_pipeline_sql("hist", "h")},
        {_sig_pipeline_sql("newd", "n")},
        okb AS (
            SELECT band, band_sig FROM (
                SELECT band, band_sig, COUNT(*) AS bn
                FROM hbanded GROUP BY band, band_sig
            ) WHERE bn <= 1000
        )
        SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
        FROM nbanded n
             JOIN hbanded h
               ON n.band = h.band AND n.band_sig = h.band_sig
             JOIN okb o
               ON o.band = h.band AND o.band_sig = h.band_sig
    """,
    description="Cross-corpus NEAR-dup candidates: a re-crawl "
    "batch (new docs + every 11th history doc with one appended token — "
    "a changed-footer near-duplicate, NOT byte-identical) is banded and "
    "equi-joined against the HISTORY corpus's banded MinHash signatures "
    "on (band, band_sig) — the near-duplicate analog of "
    "incremental/bloom dedup, which only catch exact content "
    "(operators/dedup.lsh_cross_corpus_candidates). History-side bucket "
    "cap bounds boilerplate skew; at 100 TB the history's banded table "
    "is materialized between runs so only the batch's signatures are "
    "computed. All hashing is md5/Carter-Wegman, so DuckDB replays the "
    "exact candidate set.",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def crosscorpus_neardup_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        lsh_cross_corpus_candidates,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 300)
    newd = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 600)
    ).unionByName(
        hist.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
        )
    )
    new_sigs = dedup.minhash_signatures(
        newd, num_hashes=_NUM_HASHES, shingle_words=_SHINGLE_WORDS)
    hist_sigs = dedup.minhash_signatures(
        hist, num_hashes=_NUM_HASHES, shingle_words=_SHINGLE_WORDS)
    return lsh_cross_corpus_candidates(
        new_sigs, hist_sigs,
        num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS,
    )


@register(
    "crosscorpus_neardup_verified",
    oracle=f"""
        WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        newd AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id >= 300 AND doc_id < 600
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, text || ' zqx' AS text
            FROM hist WHERE doc_id % 11 = 0
        ),
        {_sig_pipeline_sql("hist", "h")},
        {_sig_pipeline_sql("newd", "n")},
        okb AS (
            SELECT band, band_sig FROM (
                SELECT band, band_sig, COUNT(*) AS bn
                FROM hbanded GROUP BY band, band_sig
            ) WHERE bn <= 1000
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
            FROM nbanded n
                 JOIN hbanded h
                   ON n.band = h.band AND n.band_sig = h.band_sig
                 JOIN okb o
                   ON o.band = h.band AND o.band_sig = h.band_sig
        ),
        inter AS (
            SELECT c.new_id, c.hist_id, COUNT(*) AS i
            FROM cand c
                 JOIN nshingles ns ON ns.doc_id = c.new_id
                 JOIN hshingles hs
                   ON hs.doc_id = c.hist_id AND hs.shingle = ns.shingle
            GROUP BY c.new_id, c.hist_id
        ),
        nsize AS (SELECT doc_id, COUNT(*) AS s FROM nshingles GROUP BY doc_id),
        hsize AS (SELECT doc_id, COUNT(*) AS s FROM hshingles GROUP BY doc_id)
        SELECT i.new_id, i.hist_id,
               round(i.i / (ns.s + hs.s - i.i), 6) AS jaccard
        FROM inter i
             JOIN nsize ns ON ns.doc_id = i.new_id
             JOIN hsize hs ON hs.doc_id = i.hist_id
        WHERE i.i / (ns.s + hs.s - i.i) >= 0.5
    """,
    description="Cross-corpus near-dup VERIFICATION — the "
    "verify half of crosscorpus_neardup_candidates' bloom-then-verify "
    "shape: exact n-gram Jaccard computed ONLY for candidate pairs "
    "(the shingle join is candidate-driven, so verification cost "
    "scales with candidates, not the corpus product), thresholded at "
    "0.5 (operators/dedup.crosscorpus_jaccard_verify). The planted "
    "changed-footer near-dups survive with jaccard near 1; chance band "
    "collisions between unrelated docs are filtered out — the full "
    "candidates->verified near-dup incremental dedup pipeline, exactly "
    "replayed by DuckDB.",
    tags=("dedup", "minhash", "lsh", "incremental", "jaccard"),
)
def crosscorpus_neardup_verified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.operators.dedup import (
        crosscorpus_jaccard_verify,
        lsh_cross_corpus_candidates,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 300)
    newd = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 600)
    ).unionByName(
        hist.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
        )
    )
    new_sigs = dedup.minhash_signatures(
        newd, num_hashes=_NUM_HASHES, shingle_words=_SHINGLE_WORDS)
    hist_sigs = dedup.minhash_signatures(
        hist, num_hashes=_NUM_HASHES, shingle_words=_SHINGLE_WORDS)
    cand = lsh_cross_corpus_candidates(
        new_sigs, hist_sigs,
        num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS,
    )
    return crosscorpus_jaccard_verify(
        cand, newd, hist,
        shingle_words=_SHINGLE_WORDS, threshold=0.5,
    )
