"""Text analysis: BPE-style token accounting and winnowing
(rolling-hash) document fingerprints — the two remaining brief items in
the text family ("token counting (whitespace + a BPE-ish regex)",
"document fingerprinting (rolling hash)")."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load

# Keep in sync with functions/text.BPE_PRETOKEN_PATTERN (RE2-compatible so
# DuckDB replays it identically).
_BPE_PAT = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"


@register(
    "bpe_token_stats",
    oracle=f"""
        WITH t AS (
            SELECT regexp_extract_all(text, '{_BPE_PAT}') AS toks
            FROM documents
        ),
        tot AS (
            SELECT CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
                   round(avg(len(toks)), 6) AS mean_tokens_per_doc
            FROM t
        ),
        dis AS (
            SELECT count(DISTINCT tok) AS distinct_tokens
            FROM (SELECT unnest(toks) AS tok FROM t)
        )
        SELECT total_tokens, distinct_tokens, mean_tokens_per_doc
        FROM tot, dis
    """,
    description="Corpus token accounting under a BPE-style pre-tokenizer "
    "(letter/digit/punctuation runs with leading space, the GPT-2-family "
    "segmentation restricted to RE2-safe constructs) — the 'tokens the "
    "model will see' budget next to the whitespace count "
    "(functions/text.bpe_style_tokens; regexp_extract_all stays in "
    "whole-stage codegen). Same one-pass totals + distinct shape as "
    "token_stats_corpus.",
    tags=("text", "tokenizer", "counters", "scalar-cross"),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.functions.text import bpe_style_tokens
    from appengine_mapreduce_spark.operators.text_analysis import token_stats

    docs = load(spark, sf_dir, "documents")
    return token_stats(docs, tokenizer=bpe_style_tokens)


@register(
    "winnow_doc_fingerprints",
    oracle="""
        WITH h AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(text) - 7),
                       i -> ('0x' || substr(md5('win:' || substr(text, i, 8)),
                                            1, 8))::BIGINT) AS hs
            FROM documents WHERE doc_id < 500
        ),
        fp AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, len(hs) - 3),
                       j -> list_min(hs[j:j+3]))) AS fps
            FROM h
        )
        SELECT doc_id,
               CAST(len(fps) AS INT) AS n_fingerprints,
               CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_checksum
        FROM fp
    """,
    description="Winnowing fingerprints (Schleimer et al. SIGMOD'03, the "
    "MOSS scheme): rolling hash over character 8-grams, minimum per "
    "4-window, distinct minima = the fingerprint set overlapping documents "
    "share even after edits shift offsets — the rolling-hash fingerprint "
    "channel next to the position-weighted doc_fingerprints. Pure array "
    "expressions, O(len·k) per doc, hash array materialized once "
    "(operators/text_analysis.winnow_fingerprints); DuckDB replays the "
    "md5 arithmetic for exact parity.",
    tags=("text", "fingerprint", "dedup"),
)
def winnow_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return winnow_fingerprints(docs, k=8, window=4)


def _bpe_oracle_sql(
    n_merges: int = 6, min_pair_count: int = 2, doc_filter: str = "doc_id < 300"
) -> str:
    """Full oracle: replay greedy BPE training merge-by-merge in DuckDB with an
    unrolled CTE chain (the kmeans/pagerank fixed-N technique). The
    counts are integers so there is no FP pinning to do; the one
    nontrivial step is APPLYING a merge, which Spark does as a greedy
    left-to-right array fold. DuckDB lambdas cannot fold into a list,
    so the oracle serializes each symbol sequence as
    ``US || sym1 || US US || sym2 || US ... `` (US = chr(31), absent
    from the corpus — every symbol wrapped in its own delimiters) and
    uses replace(): textual replace is non-overlapping left-to-right,
    exactly greedy BPE, and the per-symbol wrapping keeps adjacent
    matches from consuming each other's boundary.

    Early stop replays STRUCTURALLY: each stage's best-pair row ``b{t}`` is
    itself
    thresholded (``n >= min_pair_count``) and LEFT JOINed, with a CASE
    fallback keeping ``w{t} = w{t-1}`` when it is absent — so a dry or
    sub-threshold stage is a no-op exactly as in the early-stopped
    Spark run, instead of a cross join with an empty row emptying
    every later stage (which silently zeroed the encode oracle on
    early-converging corpora). The final ``pair_count >=
    min_pair_count`` filter is now a redundant invariant, kept because
    the union also serves the rows of stages that never ran."""
    us = "chr(31)"
    d2 = f"{us} || {us}"
    head = f"""
        WITH wf AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS word
                FROM documents WHERE {doc_filter}
            )
            GROUP BY word
        ),
        w0 AS MATERIALIZED (
            SELECT cnt, string_split(word, '') AS sym FROM wf
        )"""
    stages = []
    for t in range(1, n_merges + 1):
        p = f"w{t - 1}"
        stages.append(f""",
        p{t} AS (
            SELECT sym[i] AS l, sym[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
            FROM (SELECT cnt, sym,
                         unnest(generate_series(1, len(sym) - 1)) AS i
                  FROM {p})
            GROUP BY l, r
        ),
        b{t} AS (SELECT l, r, n FROM p{t} WHERE n >= {min_pair_count}
                 ORDER BY n DESC, l, r LIMIT 1),
        w{t} AS MATERIALIZED (
            SELECT w.cnt,
                   CASE WHEN b.l IS NULL THEN w.sym
                        ELSE string_split(
                           trim(replace(
                               {us} || array_to_string(w.sym, {d2}) || {us},
                               {us} || b.l || {d2} || b.r || {us},
                               {us} || b.l || b.r || {us}), {us}),
                           {d2}) END AS sym
            FROM {p} w LEFT JOIN b{t} b ON TRUE
        )""")
    unions = "\n            UNION ALL ".join(
        f'SELECT {t - 1} AS "rank", l AS "left", r AS "right", '
        f"n AS pair_count FROM b{t}"
        for t in range(1, n_merges + 1)
    )
    return (
        head + "".join(stages)
        + f"""
        SELECT * FROM ({unions})
        WHERE pair_count >= {min_pair_count}
    """
    )


def _bpe_token_freq_oracle_sql(
    n_merges: int = 6, top_k: int = 50, doc_filter: str = "doc_id < 300"
) -> str:
    """Oracle for the tokenizer APPLICATION query: the same unrolled
    training chain, but the output is the post-merge symbol table —
    explode the final vocab stage's symbol lists weighted by word
    frequency, aggregate, top-k with (freq desc, token) tie-break."""
    full = _bpe_oracle_sql(n_merges=n_merges, doc_filter=doc_filter)
    chain = full[: full.rindex("SELECT * FROM")]
    return (
        chain
        + f"""
        SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
            SELECT cnt, unnest(sym) AS token FROM w{n_merges}
        )
        GROUP BY token
        ORDER BY freq DESC, token
        LIMIT {top_k}
    """
    )


@register(
    "bpe_learned_merges",
    oracle=_bpe_oracle_sql(),
    description="Distributed BPE tokenizer TRAINING "
    "(operators/tokenizer.train_bpe_merges): the corpus collapses to a "
    "vocabulary-sized word-frequency table once, then each greedy merge "
    "round is a pair-count aggregation + scalar best-pair collect (the "
    "model parameter) + a JVM array-fold rewrite — N merges never re-read "
    "the corpus. Deterministic tie-breaking makes training reproducible; "
    "the classic {hug,pug,pun,bun,hugs} example is verified merge-by-"
    "merge in pytest. FULL ORACLE: the greedy training "
    "loop replays merge-by-merge in DuckDB (unrolled CTEs; merge "
    "application via delimiter-wrapped string replace).",
    tags=("text", "tokenizer", "training-data", "iterative"),
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.tokenizer import (
        train_bpe_merges,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    merges = train_bpe_merges(docs, n_merges=6)
    return spark.createDataFrame(
        [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )


@register(
    "bpe_encode_segments",
    oracle=_bpe_token_freq_oracle_sql(),
    description="BPE tokenizer APPLICATION: train 6 merges, "
    "then ENCODE the corpus with the frozen merge list "
    "(operators/tokenizer.bpe_apply_merges — the greedy fold stacked "
    "as 6 expression layers in one plan over the vocab-sized table, no "
    "shuffle, no Python) and report the top-50 post-merge token "
    "frequencies with a total (freq desc, token) tie-break — the "
    "vocabulary statistics a training-data pipeline ships to its "
    "tokenizer. FULL ORACLE: the unrolled training replay extended "
    "with the exploded final symbol table. Early convergence is safe: "
    "each unrolled stage LEFT JOINs its best pair and "
    "coalesces to the previous stage's symbols when the pair table "
    "runs dry (regression-pinned on an early-converging fixture).",
    tags=("text", "tokenizer", "training-data", "iterative"),
)
def bpe_encode_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.tokenizer import (
        bpe_token_frequencies,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return bpe_token_frequencies(docs, n_merges=6, top_k=50)


@register(
    "document_chunks",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS t
            FROM documents WHERE doc_id < 400
        ),
        starts AS (
            SELECT doc_id, t,
                   unnest(generate_series(
                       0, CAST(len(t) - 1 AS INT), 48)) AS s
            FROM toks WHERE len(t) > 0
        )
        SELECT doc_id,
               -- filter mirrors the operator: suppress pure-overlap tails
               CAST(s // 48 AS INT) AS chunk_id,
               CAST(s AS INT) AS start_token,
               CAST(len(t[s + 1 : s + 64]) AS INT) AS n_tokens,
               array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
        FROM starts
        WHERE s = 0 OR s + 16 < len(t)
    """,
    description="Sliding-window document chunking "
    "(operators/text_analysis.chunk_documents): 64-token windows, "
    "16-token overlap, with provenance (chunk ordinal, token offset, "
    "true final-window length) — the RAG-indexing / training-prep "
    "fan-out. Narrow plan: split/sequence/explode/slice/array_join in "
    "one codegen span, zero shuffles, zero UDFs. The oracle replays the "
    "same windows with DuckDB list slicing.",
    tags=("text", "training-data", "chunking"),
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        chunk_documents,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "bigram_lm_quality_scores",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents WHERE doc_id < 400
        ),
        toks2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 2),
        bg AS (
            SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - 1)) AS i
                  FROM toks2)
        ),
        v AS (
            SELECT COUNT(DISTINCT w) AS vs FROM (
                SELECT unnest(tk) AS w FROM toks2)
        ),
        c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1)
        SELECT b.doc_id,
               COUNT(*) AS n_bigrams,
               round(avg(ln((c2.n2 + 1.0) / (c1.n1 + v.vs))), 6)
                   AS mean_logp
        FROM bg b
             JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
             JOIN c1 ON c1.w1 = b.w1, v
        GROUP BY b.doc_id
    """,
    description="Per-document bigram LANGUAGE-MODEL quality score: "
    "an add-one-smoothed bigram model trained on the corpus "
    "scores each document by mean token log-probability — the "
    "perplexity-proxy filter that catches boilerplate/gibberish/"
    "mis-extracted markup, upgrading the heuristic rarity profile to a "
    "real conditional LM (operators/text_analysis.bigram_lm_scores). "
    "Two vocabulary-sized count aggregations + two equi-joins + one "
    "per-doc mean; V is a scalar inlined once. Exact integer counts, "
    "one double division and ln make the oracle replay exact; round(6) "
    "absorbs summation-order ulps.",
    tags=("text", "quality", "lm", "training-data"),
)
def bigram_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.operators.text_analysis import (
        bigram_lm_scores,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return bigram_lm_scores(docs, alpha=1.0)
