"""Training-corpus construction queries: stratified data mixing,
token-budget sequence chunking, and benchmark decontamination.

These are the remaining ops a 100 TB pretraining pipeline runs between
"raw corpus" and "tokenizer input": pick the source/language mix
(stratified_sample), guard against eval leakage (decontaminate), and
chunk documents into context-window bins (token_budget_packing). All
three are pure DataFrame plans — filters evaluate inside the scan,
n-gram explosion is one hash aggregation per side, packing is one window
cumsum — with DuckDB oracles replaying the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
_STRAT_HASH = (
    "('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
)

# Per-language sampling rates: downsample dominant English, upsample the
# rest — the data-mixing knob.
_LANG_RATES = {"en": 0.10, "zh": 0.80, "de": 0.50, "fr": 0.50, "es": 0.50}


@register(
    "stratified_sample_by_lang",
    oracle=f"""
        SELECT lang,
               count(*) AS n_sampled,
               min(doc_id) AS first_doc,
               CAST(sum(n_chars) AS BIGINT) AS sampled_chars
        FROM documents
        WHERE {_STRAT_HASH} % 10000 <
              CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 8000
                        WHEN 'de' THEN 5000 WHEN 'fr' THEN 5000
                        WHEN 'es' THEN 5000 ELSE 0 END
        GROUP BY lang
    """,
    description="Stratified deterministic sampling — the corpus-mixing "
    "primitive (downsample dominant English 10x, upsample rare languages): "
    "membership by key hash against a per-stratum cut, reproducible on any "
    "engine/partitioning, evaluated row-local inside the scan with no "
    "shuffle (operators/sampling.stratified_sample). Oracle replays the "
    "identical md5 arithmetic.",
    tags=("sampling", "training-data", "pipeline"),
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    picked = stratified_sample(
        docs, key="doc_id", strata_col="lang", fractions=_LANG_RATES
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
        F.sum("n_chars").alias("sampled_chars"),
    )


# Engine-portable packing shard (operators/sampling.pack_by_token_budget
# sharded mode): pmod(stable_hash32('pack:' || order_key), K) — the hash
# is non-negative 32-bit from md5 hex, so % agrees with pmod in both
# engines. Composite bin id = shard * 2^40 + local_bin (exact BIGINT;
# see sampling.PACK_SHARD_STRIDE).
_PACK_SHARDS = 8
_PACK_STRIDE = 1 << 40


def _pack_shard_sql(key_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('pack:' || {key_expr}), 1, 8))::BIGINT"
        f" % {_PACK_SHARDS})"
    )


@register(
    "token_budget_packing",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, lang, len({_TOKS}) AS n_tokens
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, lang, n_tokens,
                   {_pack_shard_sql("CAST(doc_id AS VARCHAR)")} AS shard
            FROM sized
        ),
        binned AS (
            SELECT lang, n_tokens,
                   shard * {_PACK_STRIDE} +
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY lang, shard
                                 ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
                              / 512.0) AS BIGINT) AS bin
            FROM sharded
        )
        SELECT lang, bin, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM binned GROUP BY lang, bin
    """,
    description="Token-budget sequence chunking, SHARDED: per "
    "(language, md5-shard-of-doc_id) stream, documents in "
    "deterministic doc_id order chunk into ≈512-token bins via one "
    "window cumsum; bin ids are the composite shard*2^40 + local_bin — "
    "the streaming-friendly form of context-window packing "
    "(operators/sampling.pack_by_token_budget). The shard splits a "
    "dominant language across 8 independent window partitions instead "
    "of funneling 60-90% of a pretraining corpus through one sequential "
    "sort task; the oracle replays the md5 shard hash bit-exactly. One "
    "shuffle on (lang, shard); per-bin rollup verified value-exact.",
    tags=("pipeline", "training-data", "window"),
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.text import nonempty_tokens
    from appengine_mapreduce_spark.operators.sampling import pack_by_token_budget

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(nonempty_tokens(F.col("text"))).alias("n_tokens")
    )
    binned = pack_by_token_budget(
        docs, tokens_col="n_tokens", budget=512,
        order_col="doc_id", partition_col="lang", shards=_PACK_SHARDS,
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "decontaminate_overlap",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, len({_TOKS}) - 4),
                       i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' ')))
                   AS gram
            FROM documents
        ),
        train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id >= 100),
        eval_set AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 100)
        SELECT doc_id, count(*) AS n_shared_ngrams
        FROM train JOIN eval_set USING (gram)
        GROUP BY doc_id
    """,
    description="Benchmark decontamination: training docs (doc_id ≥ 100) "
    "sharing any word 5-gram with the held-out eval slice (doc_id < 100) "
    "are flagged with their distinct shared-gram count — the standard "
    "eval-leakage guard before a training run "
    "(operators/text_analysis.ngram_contamination). Both sides reduce to "
    "distinct (doc, gram) pairs; the eval side is benchmark-sized "
    "(constant in SF), so at scale it broadcasts and the corpus never "
    "shuffles.",
    bench=True,
    tags=("pipeline", "training-data", "dedup"),
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import ngram_contamination

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") >= 100)
    eval_set = docs.filter(F.col("doc_id") < 100)
    return ngram_contamination(train, eval_set, n=5)


# Composite corpus scrub: compose the three oracle-verified per-doc signal
# queries into one keep/reject decision. The oracle REUSES the component
# oracles as CTEs (import triggers their registration), so the composite
# stays consistent with them by construction.
from appengine_mapreduce_spark.plans import queries_text as _queries_text  # noqa: E402,F401
from appengine_mapreduce_spark.plans.registry import _REGISTRY as _R  # noqa: E402

_SCRUB_ORACLE = f"""
    WITH lang AS ({_R["lang_id_pred"].oracle}),
    qual AS ({_R["quality_scores"].oracle}),
    rep AS ({_R["repetition_signals"].oracle})
    SELECT lang.doc_id, pred_lang,
           (pred_lang <> 'und' AND quality >= 0.45
            AND dup_tok_fraction <= 0.55) AS keep,
           CASE WHEN pred_lang = 'und' THEN 'unknown_lang'
                WHEN quality < 0.45 THEN 'low_quality'
                WHEN dup_tok_fraction > 0.55 THEN 'repetitive'
                ELSE 'ok' END AS reject_reason
    FROM lang JOIN qual ON lang.doc_id = qual.doc_id
              JOIN rep ON lang.doc_id = rep.doc_id
"""


@register(
    "corpus_filter_pipeline",
    oracle=_SCRUB_ORACLE,
    description="End-to-end corpus scrub decision: language-ID + quality "
    "score + Gopher-style repetition signals composed into one keep/reject "
    "verdict per document with a precedence-ordered reject_reason — the "
    "shape of a production pre-training filter pass. Three co-keyed "
    "doc_id joins over the component operators (each independently "
    "oracle-verified); the composite oracle embeds the component oracles "
    "as CTEs, so the integration cannot drift from the parts.",
    tags=("pipeline", "training-data", "text", "integration"),
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        repetition_signals, scrub_signals,
    )

    # whole corpus, no doc_id cap: a scrub pass covers every document.
    # (A leftover <500 cap was invisible at sf0.01 — the corpus IS 500
    # docs there — and surfaced as a row-count mismatch the first time
    # the oracle ran at sf0.1; found by the scale parity sweep.)
    docs = load(spark, sf_dir, "documents")
    # lang + quality come from ONE shared projection (scrub_signals — bit-
    # identical to the component operators, tested); only the repetition
    # signals need a shuffle, joined on the doc key.
    scored = scrub_signals(docs).select("doc_id", "pred_lang", "quality")
    rep = repetition_signals(docs).select("doc_id", "dup_tok_fraction")
    j = scored.join(rep, "doc_id")
    keep = (
        (F.col("pred_lang") != "und")
        & (F.col("quality") >= 0.45)
        & (F.col("dup_tok_fraction") <= 0.55)
    )
    reason = (
        F.when(F.col("pred_lang") == "und", "unknown_lang")
        .when(F.col("quality") < 0.45, "low_quality")
        .when(F.col("dup_tok_fraction") > 0.55, "repetitive")
        .otherwise("ok")
    )
    return j.select(
        "doc_id", "pred_lang", keep.alias("keep"), reason.alias("reject_reason")
    )


_MIX_HASH = (
    "('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
)
# target output mix (permyriad) and output size (30% of corpus)
_MIX_TARGETS = {"en": 4000, "zh": 3000, "de": 1000, "fr": 1000, "es": 1000}
_MIX_OUT = 3000


@register(
    "mix_corpus_to_target",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*) AS n_s FROM documents GROUP BY lang
        ),
        tot AS (SELECT count(*) AS n_total FROM documents),
        rates AS (
            SELECT lang,
                   LEAST(10000,
                         CAST(CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 3000
                                        WHEN 'de' THEN 1000 WHEN 'fr' THEN 1000
                                        WHEN 'es' THEN 1000 ELSE 0 END AS BIGINT)
                         * (n_total * {_MIX_OUT} // 10000) // n_s) AS cut
            FROM counts, tot
        )
        SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
        FROM documents JOIN rates USING (lang)
        WHERE {_MIX_HASH} % 10000 < cut
        GROUP BY lang
    """,
    description="Corpus mixing to a TARGET distribution "
    "(operators/sampling.mix_to_target): state the output mix you want "
    "(40/30/10/10/10 across languages at 30%% corpus size); per-stratum "
    "acceptance cuts derive from measured stratum counts in pure integer "
    "arithmetic (a DIV b — engine-exact), strata too small for their "
    "share cap at rate 1.0. One count aggregate + one broadcast rate "
    "join + a row-local hash filter; the corpus never shuffles.",
    tags=("sampling", "training-data", "pipeline", "scalar-cross"),
)
def mix_corpus_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.sampling import mix_to_target

    docs = load(spark, sf_dir, "documents")
    mixed = mix_to_target(
        docs, key="doc_id", strata_col="lang",
        target_permyriad=_MIX_TARGETS, out_permyriad=_MIX_OUT,
    )
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "token_rarity_scores",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        pairs AS (
            SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
        ),
        vocab AS (
            SELECT tok, CAST(sum(c) AS BIGINT) AS cnt FROM pairs GROUP BY tok
        )
        SELECT doc_id,
               CAST(sum(strlen(CAST(cnt AS VARCHAR)) * c) AS BIGINT) AS zipf_sum,
               CAST(sum(CASE WHEN cnt = 1 THEN c ELSE 0 END) AS BIGINT) AS hapax,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM pairs JOIN vocab USING (tok)
        GROUP BY doc_id
    """,
    description="Per-document token-rarity profile "
    "(operators/text_analysis.token_rarity_profile) — the integer-exact "
    "surrogate for unigram-LM perplexity filtering: corpus frequency of "
    "each token bucketed by digit count (zipf bucket), aggregated per doc "
    "with hapax density. The per-(doc, token) count step collapses "
    "token-frequency skew BEFORE the vocabulary join (the join sees "
    "distinct pairs, never every occurrence of 'the'); production swaps "
    "digit buckets for ln(cnt/total) on the same plan.",
    tags=("text", "training-data", "quality"),
)
def token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        token_rarity_profile,
    )

    docs = load(spark, sf_dir, "documents")
    return token_rarity_profile(docs)


# Grand capstone: the ENTIRE training-corpus build as one oracled query.
# Stage oracles are reused/derived from the independently-verified
# component queries, so the integration cannot drift from the parts.
from appengine_mapreduce_spark.plans.queries_dedup import (  # noqa: E402
    _MAX_DOC_FREQ as _CAP_DF,
    _SHINGLES_CTE as _CAP_SHINGLES,
    _SHINGLE_WORDS as _CAP_SW,
)

_CAP_SHINGLES_KEPT = _CAP_SHINGLES.replace("FROM documents", "FROM keptdocs")
_CAP_GRAM = (
    f"unnest(list_transform(generate_series(1, len({_TOKS}) - 4), "
    f"i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' ')))"
)

_BUILD_ORACLE = f"""
    WITH RECURSIVE
    scrub AS ({_SCRUB_ORACLE}),
    keptdocs AS (
        SELECT d.* FROM documents d
        JOIN scrub s ON d.doc_id = s.doc_id WHERE s.keep
    ),
    {_CAP_SHINGLES_KEPT},
    kept AS (
        SELECT doc_id, shingle FROM shingles
        WHERE shingle NOT IN (
            SELECT shingle FROM shingles
            GROUP BY shingle HAVING count(*) > {_CAP_DF})
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
    ),
    dupdrop AS (
        SELECT u AS doc_id FROM reach GROUP BY u
        HAVING u <> least(u, min(v))
    ),
    survivors AS (
        SELECT * FROM keptdocs
        WHERE doc_id NOT IN (SELECT doc_id FROM dupdrop)
    ),
    grams_train AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, {_CAP_GRAM} AS gram FROM survivors
            WHERE doc_id >= 100)
    ),
    grams_eval AS (
        SELECT DISTINCT gram FROM (
            SELECT {_CAP_GRAM} AS gram FROM documents WHERE doc_id < 100)
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM grams_train JOIN grams_eval USING (gram)
    ),
    final AS (
        SELECT * FROM survivors
        WHERE doc_id >= 100
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM final GROUP BY lang
"""


@register(
    "corpus_build_pipeline",
    oracle=_BUILD_ORACLE,
    description="GRAND CAPSTONE — the whole training-corpus build as ONE "
    "plan: (1) scrub every document (language-ID + quality + repetition, "
    "the corpus_filter_pipeline decision), (2) near-dup dedup of the kept "
    "set (exact n-gram Jaccard pairs, stop-shingle-capped, -> "
    "large-star/small-star connected components -> drop non-keepers), "
    "(3) benchmark decontamination (drop training docs sharing any word "
    "5-gram with the held-out doc_id<100 eval slice), (4) per-language "
    "accounting of the surviving corpus. Every stage reuses an "
    "independently-oracled operator, and the composite oracle chains the "
    "same SQL stages — so the driver value-hash checks the INTEGRATION, "
    "not just the parts. At 100 TB: scrub is a map-only scan, pair "
    "generation is bucket-bounded, components are O(log^2 n) rounds on "
    "the (small) edge list, decontamination broadcasts the benchmark-"
    "sized eval grams; the corpus itself is never joined all-pairs. "
    "The scrub verdict (kept_ids, 8 "
    "bytes/doc) is localCheckpoint-ed once per invocation — Spark does "
    "not dedupe common DataFrame subtrees, so without it the tokenize-"
    "heavy scrub+repetition pass re-ran THREE times per run (once under "
    "the pair self-join, twice in the collected plan: the training "
    "branch and the contamination branch each re-derived it). The "
    "checkpoint is a per-invocation intermediate of ids only (never a "
    "cached base table, never reused across runs); every downstream "
    "consumer becomes parquet-scan ⨝ id-set, and column pruning gives "
    "the accounting branch a text-free scan.",
    tags=("pipeline", "training-data", "dedup", "graph", "integration"),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators import dedup
    from appengine_mapreduce_spark.operators.graph import (
        connected_components_star,
    )
    from appengine_mapreduce_spark.operators.text_analysis import (
        ngram_contamination,
        repetition_signals,
        scrub_signals,
    )

    docs = load(spark, sf_dir, "documents")

    # stage 1: scrub decision (shared-projection lang+quality, one
    # shuffle for repetition), keep survivors only
    scored = scrub_signals(docs).select("doc_id", "pred_lang", "quality")
    rep = repetition_signals(docs).select("doc_id", "dup_tok_fraction")
    keep = (
        (F.col("pred_lang") != "und")
        & (F.col("quality") >= 0.45)
        & (F.col("dup_tok_fraction") <= 0.55)
    )
    # kept_ids is consumed by THREE otherwise-independent subtrees (the
    # pair self-join, the training branch, the contamination branch);
    # checkpointing the id set (8 bytes/doc) makes the tokenize-heavy
    # scrub+repetition pass run once per invocation instead of three
    # times — a per-run intermediate, recomputed from parquet every call.
    kept_ids = (
        scored.join(rep, "doc_id").filter(keep).select("doc_id").localCheckpoint()
    )
    kept_docs = docs.join(kept_ids, "doc_id")

    # stage 2: near-dup components over the kept set; drop non-keepers
    pairs = dedup.ngram_jaccard_pairs(
        kept_docs, shingle_words=_CAP_SW, threshold=0.2,
        max_doc_freq=_CAP_DF,
    ).select("id_a", "id_b")
    cc = connected_components_star(pairs)
    dup_ids = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    survivors = kept_docs.join(dup_ids, "doc_id", "left_anti")

    # stage 3: decontaminate the training slice against the eval slice
    train = survivors.filter(F.col("doc_id") >= 100)
    eval_slice = docs.filter(F.col("doc_id") < 100)
    contaminated = ngram_contamination(train, eval_slice, n=5).select(
        "doc_id"
    )
    final = train.join(contaminated, "doc_id", "left_anti")

    # stage 4: per-language accounting of the surviving corpus
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _temperature_oracle(alpha: float, out_permyriad: int, salt: str) -> str:
    """DuckDB replay of operators/sampling.temperature_sample at the
    given alpha — the exponent built ONLY from correctly-rounded
    sqrt/multiply (alpha_weight_sql, kept in lockstep with the Spark
    _alpha_weight), so the derived cut is bit-identical across engines.
    The ``HAVING w_s > 0`` mirrors the Spark side's non-positive-weight
    stratum drop (documents.n_chars is always positive, so this is
    lockstep documentation rather than a live branch here)."""
    from appengine_mapreduce_spark.operators.sampling import alpha_weight_sql

    aw = alpha_weight_sql("CAST(sum(n_chars) AS DOUBLE)", alpha)
    hash_sql = (
        f"('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT"
    )
    return f"""
        WITH per AS (
            SELECT lang, CAST(sum(n_chars) AS BIGINT) AS w_s,
                   CAST(floor({aw}) AS BIGINT) AS sq_s
            FROM documents GROUP BY lang
            HAVING sum(n_chars) > 0
        ),
        tot AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
                       CAST(sum(sq_s) AS BIGINT) AS sq_tot FROM per),
        rates AS (
            SELECT lang,
                   CAST(floor(least(10000.0,
                        {float(out_permyriad)} * ((CAST(w_tot AS DOUBLE) / sq_tot) * sq_s)
                               / w_s)) AS BIGINT) AS cut
            FROM per, tot
        )
        SELECT lang, cut AS cut_permyriad, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(doc_id) AS first_doc
        FROM documents JOIN rates USING (lang)
        WHERE {hash_sql} % 10000 < cut
        GROUP BY lang, cut
    """


def _temperature_query(alpha: float, out_permyriad: int, salt: str):
    def _fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from appengine_mapreduce_spark.operators.sampling import (
            temperature_sample,
        )

        docs = load(spark, sf_dir, "documents")
        kept = temperature_sample(
            docs, key="doc_id", strata_col="lang", weight_col="n_chars",
            out_permyriad=out_permyriad, salt=salt, alpha=alpha,
        )
        return kept.groupBy(
            "lang", F.col("mix_cut").alias("cut_permyriad")
        ).agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("first_doc"),
        )

    return _fn


register(
    "temperature_mixture_sample",
    oracle=_temperature_oracle(0.5, 2500, "temp"),
    description="Temperature-based mixture resampling (alpha = 0.5): kept "
    "weight per language proportional to sqrt(natural char weight) — the "
    "multilingual-pretraining knob interpolating natural vs uniform mix, "
    "with rates DERIVED from measured per-stratum weights entirely "
    "in-plan (operators/sampling.temperature_sample; mix_corpus_to_target "
    "is the stated-target sibling). IEEE sqrt is correctly rounded, hence "
    "bit-portable; the double rate expression has fixed parenthesization "
    "over <2^53 integers, so the oracle replays the cut exactly. One "
    "stratum aggregate + broadcast rate join + row-local md5 acceptance — "
    "the corpus never shuffles. Registered via the same factory/oracle "
    "pair as the alpha-25/75 variants so the three parameterizations "
    "cannot drift apart.",
    tags=("sampling", "training-data", "pipeline", "scalar-cross"),
)(_temperature_query(0.5, 2500, "temp"))


register(
    "temperature_mixture_alpha25",
    oracle=_temperature_oracle(0.25, 2500, "temp25"),
    description="Temperature mixture resampling at alpha = 0.25 — a "
    "flatter (closer-to-uniform) language mix than the alpha=0.5 "
    "headline: kept weight per language proportional to n_chars**0.25, "
    "computed as sqrt(sqrt(w)) so the exponent composes ONLY from IEEE "
    "correctly-rounded sqrt (operators/sampling._alpha_weight) and the "
    "derived cut replays bit-exactly in DuckDB. Same scale shape as "
    "temperature_mixture_sample: one stratum aggregate + broadcast rate "
    "join + row-local md5 acceptance; the corpus never shuffles.",
    tags=("sampling", "training-data", "pipeline", "scalar-cross"),
)(_temperature_query(0.25, 2500, "temp25"))


register(
    "temperature_mixture_alpha75",
    oracle=_temperature_oracle(0.75, 2500, "temp75"),
    description="Temperature mixture resampling at alpha = 0.75 — closer "
    "to the natural mix than the alpha=0.5 headline: kept weight per "
    "language proportional to n_chars**0.75, computed as "
    "sqrt(w)*sqrt(sqrt(w)) — sqrt and multiply are both IEEE "
    "correctly-rounded, so the composition is the same deterministic "
    "function of w in both engines and the derived cut replays "
    "bit-exactly (operators/sampling._alpha_weight / alpha_weight_sql). "
    "One stratum aggregate + broadcast rate join + row-local md5 "
    "acceptance; the corpus never shuffles.",
    tags=("sampling", "training-data", "pipeline", "scalar-cross"),
)(_temperature_query(0.75, 2500, "temp75"))


_EPOCH_HASH = (
    "('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
)


@register(
    "epoch_repeat_mixture",
    oracle=f"""
        WITH rep AS (
            SELECT doc_id, lang, n_chars,
                   (tp // 10000) + (CASE WHEN {_EPOCH_HASH} % 10000 < tp % 10000
                                    THEN 1 ELSE 0 END) AS n
            FROM (
                SELECT doc_id, lang, n_chars,
                       (CASE lang WHEN 'fr' THEN 25000 WHEN 'zh' THEN 5000
                                  WHEN 'de' THEN 0 ELSE 10000 END) AS tp
                FROM documents
            )
        ),
        exploded AS (
            SELECT lang, n_chars, doc_id,
                   CAST(unnest(range(1, n + 1)) AS INT) AS epoch
            FROM rep WHERE n >= 1
        )
        SELECT lang, epoch, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS first_doc
        FROM exploded GROUP BY lang, epoch
    """,
    description="Data-recipe EPOCH REPETITION "
    "(operators/sampling.epoch_repeat): materialize a pretraining mix "
    "where rare high-quality sources repeat — fr at 2.5 epochs (twice "
    "plus a reproducible hash-chosen half a third time), zh subsampled "
    "to 0.5, de dropped, the rest one epoch. The repeat count is a "
    "row-local CASE + one hash compare and the multiplication is an "
    "explode generator inside the scan stage — no shuffle, no corpus "
    "broadcast, deterministic on any engine/partitioning (DuckDB "
    "replays via generate_series). Output keyed (doc_id, epoch) for "
    "downstream global_shuffle / packing.",
    tags=("sampling", "training-data", "pipeline"),
)
def epoch_repeat_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.sampling import epoch_repeat

    docs = load(spark, sf_dir, "documents")
    repeated = epoch_repeat(
        docs, key="doc_id", strata_col="lang",
        epochs_permyriad={"fr": 25000, "zh": 5000, "de": 0},
        default_permyriad=10000, salt="epoch",
    )
    return repeated.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


_RECIPE_HASH = (
    "('0x' || substr(md5('recipe:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT"
)
_RECIPE_TEMP_HASH = (
    "('0x' || substr(md5('recipe_temp:' || row_key), 1, 8))::BIGINT"
)


@register(
    "data_recipe_pack_stats",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
        ),
        rep AS (
            SELECT doc_id, lang, n_tokens,
                   (tp // 10000) + (CASE WHEN {_RECIPE_HASH} % 10000
                                         < tp % 10000
                                    THEN 1 ELSE 0 END) AS n
            FROM (
                SELECT doc_id, lang, n_tokens,
                       (CASE lang WHEN 'fr' THEN 25000 WHEN 'zh' THEN 5000
                                  WHEN 'de' THEN 0 ELSE 10000 END) AS tp
                FROM sized
            )
        ),
        keyed AS (
            SELECT doc_id, lang, n_tokens, epoch,
                   lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' ||
                       CAST(epoch AS VARCHAR) AS row_key
            FROM (
                SELECT doc_id, lang, n_tokens,
                       CAST(unnest(range(1, n + 1)) AS INT) AS epoch
                FROM rep WHERE n >= 1
            )
        ),
        per AS (
            SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS w_s,
                   CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)))
                        AS BIGINT) AS sq_s
            FROM keyed GROUP BY lang
            HAVING sum(n_tokens) > 0
        ),
        tot AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
                       CAST(sum(sq_s) AS BIGINT) AS sq_tot FROM per),
        rates AS (
            SELECT lang,
                   CAST(floor(least(10000.0,
                        6000.0 * ((CAST(w_tot AS DOUBLE) / sq_tot) * sq_s)
                               / w_s)) AS BIGINT) AS cut
            FROM per, tot
        ),
        kept AS (
            SELECT k.*, r.cut FROM keyed k JOIN rates r USING (lang)
            WHERE {_RECIPE_TEMP_HASH} % 10000 < cut
        ),
        sharded AS (
            SELECT *, {_pack_shard_sql("row_key")} AS shard FROM kept
        ),
        binned AS (
            SELECT lang, epoch, n_tokens, cut,
                   shard * {_PACK_STRIDE} +
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY lang, shard
                                 ORDER BY row_key ROWS UNBOUNDED PRECEDING)
                               - n_tokens) / 2048.0) AS BIGINT) AS bin
            FROM sharded
        )
        SELECT lang, epoch, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               count(DISTINCT bin) AS n_bins,
               min(bin) AS first_bin, max(bin) AS last_bin,
               max(cut) AS cut_permyriad
        FROM binned GROUP BY lang, epoch
    """,
    description="END-TO-END DATA RECIPE capstone: "
    "the full mixture stack composed the way a pretraining pipeline runs "
    "it — epoch_repeat (fr 2.5 epochs, zh 0.5, de dropped) establishes "
    "(doc_id, epoch) as the new row identity; a zero-padded row_key "
    "string materializes that identity so the downstream stages hash and "
    "order ON IT, exactly as the epoch_repeat docstring promises; "
    "temperature_sample (alpha=0.5, weight=tokens, 60% budget) derives "
    "per-language cuts from the POST-repetition token mass; "
    "pack_by_token_budget chunks survivors into 2048-token bins per "
    "(language, md5-shard-of-row_key) stream — SHARDED: 8 independent "
    "window partitions per language with composite shard*2^40+local_bin ids, "
    "so a dominant language "
    "can no longer funnel the corpus through one sequential sort task. "
    "Reported per (lang, epoch): doc/token counts, bins spanned, and "
    "the applied cut — every stage shifts the numbers, so drift in ANY "
    "stage breaks the MATCH. Scale shape: one explode inside the scan, "
    "one model-sized rate aggregate broadcast back, one exchange on "
    "(lang, shard) for the packing window — the corpus shuffles exactly "
    "once (operators/sampling.epoch_repeat / temperature_sample / "
    "pack_by_token_budget).",
    tags=("pipeline", "training-data", "sampling", "window",
          "integration", "scalar-cross"),
)
def data_recipe_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.text import nonempty_tokens
    from appengine_mapreduce_spark.operators.sampling import (
        epoch_repeat,
        pack_by_token_budget,
        temperature_sample,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(nonempty_tokens(F.col("text"))).alias("n_tokens"),
    )
    repeated = epoch_repeat(
        docs, key="doc_id", strata_col="lang",
        epochs_permyriad={"fr": 25000, "zh": 5000, "de": 0},
        default_permyriad=10000, salt="recipe",
    )
    # (doc_id, epoch) is the row identity from here on: the zero-padded
    # key makes lexicographic order == (doc_id, epoch) order in BOTH
    # engines, and the temperature hash keys on it so epoch copies of a
    # doc are sampled independently.
    keyed = repeated.withColumn(
        "row_key",
        F.concat(
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
            F.lit(":"), F.col("epoch").cast("string"),
        ),
    )
    kept = temperature_sample(
        keyed, key="row_key", strata_col="lang", weight_col="n_tokens",
        out_permyriad=6000, salt="recipe_temp", alpha=0.5,
    )
    packed = pack_by_token_budget(
        kept, tokens_col="n_tokens", budget=2048,
        order_col="row_key", partition_col="lang", shards=_PACK_SHARDS,
    )
    return packed.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("bin").alias("n_bins"),
        F.min("bin").alias("first_bin"),
        F.max("bin").alias("last_bin"),
        F.max("mix_cut").alias("cut_permyriad"),
    )


_CURRICULUM_ORACLE = """
    WITH q AS ({quality}),
    cuts AS (
        SELECT round(quantile_cont(quality, 0.25), 9) AS c0,
               round(quantile_cont(quality, 0.50), 9) AS c1,
               round(quantile_cont(quality, 0.75), 9) AS c2
        FROM q
    )
    SELECT (1 + CAST(quality > c0 AS INT) + CAST(quality > c1 AS INT)
              + CAST(quality > c2 AS INT)) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(min(quality), 6) AS min_q,
           round(max(quality), 6) AS max_q
    FROM q, cuts GROUP BY 1
"""


@register(
    "curriculum_quality_buckets",
    oracle=_CURRICULUM_ORACLE.format(quality=_R["quality_scores"].oracle),
    description="Curriculum bucketing: every document assigned a quality "
    "QUARTILE tier without a global sort — exact cuts are ONE percentile "
    "aggregate row (F.percentile, interpolation-identical to DuckDB "
    "quantile_cont per the group_percentiles oracle), broadcast back, "
    "bucket = 1 + count(cuts below score) row-locally "
    "(operators/sampling.quantile_buckets). Cuts round to 9dp before "
    "comparison so a last-ulp interpolation difference cannot flip a "
    "boundary doc. The ntile alternative funnels the corpus through one "
    "partition; this shape is scale-free. Composite oracle embeds the "
    "quality_scores oracle as a CTE, so the integration cannot drift "
    "from the component.",
    tags=("pipeline", "training-data", "percentile", "scalar-cross"),
)
def curriculum_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.sampling import quantile_buckets
    from appengine_mapreduce_spark.operators.text_analysis import quality_score

    scored = quality_score(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality"
    )
    bucketed = quantile_buckets(scored, "quality")
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"),
    )


@register(
    "eval_contamination_report",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, len({_TOKS}) - 4),
                       i -> array_to_string(list_slice({_TOKS}, i, i + 4), ' ')))
                   AS gram
            FROM documents
        ),
        eval_g AS (SELECT DISTINCT doc_id AS eid, gram FROM grams
                   WHERE doc_id < 100),
        train_g AS (SELECT DISTINCT doc_id AS tid, gram FROM grams
                    WHERE doc_id >= 100),
        sizes AS (SELECT eid, count(*) AS n_grams FROM eval_g GROUP BY eid),
        hits AS (SELECT eid, e.gram, tid
                 FROM eval_g e JOIN train_g t USING (gram)),
        per_eval AS (
            SELECT eid, count(DISTINCT gram) AS n_leaked,
                   count(DISTINCT tid) AS n_train_docs
            FROM hits GROUP BY eid
        )
        SELECT s.eid AS doc_id, s.n_grams,
               coalesce(p.n_leaked, 0) AS n_leaked,
               coalesce(p.n_train_docs, 0) AS n_train_docs,
               coalesce(p.n_leaked, 0) / s.n_grams AS leak_fraction
        FROM sizes s LEFT JOIN per_eval p ON s.eid = p.eid
    """,
    description="Benchmark-integrity report — the reverse direction of "
    "decontaminate_overlap: for every EVAL document (doc_id < 100), how "
    "much of it leaked into the training corpus — distinct leaked "
    "5-grams, distinct contaminated train docs, and leak_fraction "
    "(integer division: bit-identical, unrounded) "
    "(operators/text_analysis.eval_contamination_report). Eval owners "
    "prune or down-weight compromised items; decontamination alone only "
    "fixes the train side. Train reduces to distinct (doc, gram) pairs; "
    "the benchmark-sized eval gram set broadcasts at scale.",
    tags=("pipeline", "training-data", "text", "scalar-cross"),
)
def eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        eval_contamination_report as _report,
    )

    docs = load(spark, sf_dir, "documents")
    return _report(
        docs.filter(F.col("doc_id") >= 100),
        docs.filter(F.col("doc_id") < 100),
        n=5,
    )


@register(
    "packing_efficiency_stats",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, lang, len({_TOKS}) AS n_tokens
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, lang, n_tokens,
                   {_pack_shard_sql("CAST(doc_id AS VARCHAR)")} AS shard
            FROM sized
        ),
        binned AS (
            SELECT lang, n_tokens,
                   shard * {_PACK_STRIDE} +
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY lang, shard
                                 ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
                              / 512.0) AS BIGINT) AS bin
            FROM sharded
        ),
        bins AS (
            SELECT lang, bin, CAST(sum(n_tokens) AS BIGINT) AS fill
            FROM binned GROUP BY lang, bin
        )
        SELECT lang, count(*) AS n_bins,
               CAST(sum(fill) AS BIGINT) AS total_tokens,
               round(avg(fill / 512.0), 6) AS mean_fill,
               CAST(sum(CASE WHEN fill > 512 THEN 1 ELSE 0 END) AS BIGINT)
                   AS overshoot_bins
        FROM bins GROUP BY lang
    """,
    description="Packing observability: per-language bin utilization of "
    "token_budget_packing's sharded 512-token bins — bin count, mean "
    "fill ratio (can exceed 1: the cumsum chunker overshoots by at most "
    "one doc, documented; sharding adds at most one under-filled "
    "remainder bin per (lang, shard), which this query makes visible), "
    "and how many bins overshot. The number a pipeline owner reads to "
    "tune the context-window budget and shard count. Same sharded "
    "cumsum plan as the packing query + one more model-sized rollup; "
    "mean_fill rounds 6dp to absorb summation-order ulps in the avg.",
    tags=("pipeline", "training-data", "window"),
)
def packing_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.text import nonempty_tokens
    from appengine_mapreduce_spark.operators.sampling import pack_by_token_budget

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(nonempty_tokens(F.col("text"))).alias("n_tokens")
    )
    binned = pack_by_token_budget(
        docs, tokens_col="n_tokens", budget=512,
        order_col="doc_id", partition_col="lang", shards=_PACK_SHARDS,
    )
    bins = binned.groupBy("lang", "bin").agg(F.sum("n_tokens").alias("fill"))
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("fill").alias("total_tokens"),
        F.round(F.avg(F.col("fill") / F.lit(512.0)), 6).alias("mean_fill"),
        F.sum(F.when(F.col("fill") > 512, 1).otherwise(0)).alias("overshoot_bins"),
    )
