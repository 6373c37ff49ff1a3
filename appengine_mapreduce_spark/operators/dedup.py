"""Deduplication operators for training-data pipelines.

Beyond-reference capability (the reference has only user-code dedup via
group-by-key); these are first-class here because a 100 TB corpus pipeline
lives or dies on dedup throughput.

Scale notes (100 TB):
- exact dedup is a single hash-shuffle on a 16-byte digest — AQE coalesces
  the post-agg partitions; no skew risk (md5 is uniform).
- MinHash+LSH: cost is dominated by the shingle explode and the band-bucket
  self-join. Bands are grouped-by (band_id, band_hash) so candidate pairs
  only materialize within buckets — never an all-pairs product. Hot buckets
  (boilerplate docs) are the skew risk; AQE skew-join handles moderate skew,
  and `max_bucket_size` hard-caps pathological buckets.
- n-gram Jaccard is exact but quadratic within shingle groups — use it to
  verify MinHash on samples, or on already-bucketed candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from appengine_mapreduce_spark.functions.hashing import stable_hash32
from appengine_mapreduce_spark.functions.text import word_shingles


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct text; adds the md5 fingerprint.

    One shuffle on the digest; at scale prefer this over
    ``dropDuplicates([text_col])`` because the shuffle key is 16 bytes,
    not the full document.
    """
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def incremental_dedup(
    new_batch: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    digest_col: str = "text_hash",
) -> DataFrame:
    """Dedup a NEW batch against the historical corpus: drop rows whose
    content digest already exists in ``seen_digests`` (a 16-byte-per-doc
    fingerprint store persisted between pipeline runs), then dedup within
    the batch itself.

    The production dedup shape — a daily crawl lands against a 100 TB
    history; the anti-join touches only digests (the history's documents
    are never read), and the within-batch pass shuffles only the new
    rows. Keep ``seen_digests`` bucketed by digest and the anti-join is
    exchange-free on the history side.

    Within-batch dedup keeps an arbitrary representative row per digest
    (identical ``text_col`` by construction; OTHER columns may differ
    between duplicates). Pipelines needing a deterministic keeper should
    aggregate ``min(id)`` per digest instead (see ``exact_dedup``).
    """
    hashed = new_batch.withColumn(digest_col, F.md5(F.col(text_col)))
    unseen = hashed.join(seen_digests, digest_col, "left_anti")
    return unseen.dropDuplicates([digest_col])


def bloom_bit_positions(
    col: Column, m_bits: int = 4096, k: int = 4
) -> "list[Column]":
    """k Bloom bit positions for a content value, derived from
    NON-OVERLAPPING 32-bit words of its md5 — no engine RNG, no seed
    state, so any engine with md5 computes the identical positions (the
    same replayability trick as the random-strings generator oracle).
    k <= 4 because md5 yields four independent 32-bit words."""
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 has four 32-bit words)")
    if m_bits < 64:
        raise ValueError("m_bits must be >= 64")
    h = F.md5(col)
    return [
        (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("bigint")
         % m_bits)
        for i in range(k)
    ]


def bloom_build(
    history: DataFrame,
    text_col: str = "text",
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Distinct set-bit positions of the history's Bloom bitmap — the
    broadcastable digest-store summary for incremental dedup. At most
    min(m_bits, k*n) single-int rows; the history's documents are read
    once and never shuffled (the distinct runs on bit ints).

    Scale: this sparse (set-bits) form broadcasts directly and keeps
    the probe a BroadcastHashJoin; for bitmaps past broadcast size,
    pack words (bit // 64 -> bit_or of shifted bits) and shard the
    probe on word index — same plan shape, denser model. The
    false-positive rate is the standard (1 - e^{-kn/m})^k; size m_bits
    to the history's digest count, not its byte size."""
    bits = history.select(
        F.explode(
            F.array(*bloom_bit_positions(F.col(text_col), m_bits, k))
        ).alias("bloom_bit")
    )
    return bits.distinct()


def bloom_incremental_dedup(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Incremental dedup WITHOUT shuffling the history: probe each new
    row's k Bloom bits against the broadcast bit set, then exact-verify
    only the candidates against the history digests — the classic
    bloom-then-verify pipeline a daily crawl runs against a 100 TB
    corpus (incremental_dedup above anti-joins the full digest store;
    this variant reads it once to build the bitmap and once more for
    only the candidate verification, which the Bloom FP rate makes a
    sliver of the batch).

    Returns the new batch annotated with ``bloom_candidate`` (all k
    bits hit) and ``is_dup`` (verified against history digests). Bloom
    guarantees no false negatives: every true duplicate is a candidate
    — an invariant the oracle twin checks row-free via counts. The
    guarantee holds even when ``id_col`` is NOT unique in the batch:
    hits are keyed on (id, content digest) and counted as DISTINCT
    probe indices, so duplicated ids (same or different text) cannot
    inflate a row's hit count past k and mask a true duplicate.

    Plan: one BroadcastHashJoin against the bit set (explode k bits per
    row -> inner join -> count hits per row id), one digest join for
    verification. No history shuffle, no giant literal IN lists."""
    bits = bloom_build(history, text_col, m_bits, k)
    probed = new_batch.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_digest"),
        F.posexplode(
            F.array(*bloom_bit_positions(F.col(text_col), m_bits, k))
        ).alias("_ki", "bloom_bit"),
    )
    hits = (
        probed.join(F.broadcast(bits), "bloom_bit")
        .groupBy(id_col, "_digest")
        .agg(F.count_distinct("_ki").alias("_n_hits"))
    )
    seen = history.select(
        F.md5(F.col(text_col)).alias("_digest")
    ).distinct().withColumn("_seen", F.lit(1))
    annotated = (
        new_batch.withColumn("_digest", F.md5(F.col(text_col)))
        .join(hits, [id_col, "_digest"], "left")
        .join(seen, "_digest", "left")
        .withColumn(
            "bloom_candidate",
            (F.coalesce(F.col("_n_hits"), F.lit(0)) == k).cast("int"),
        )
        .withColumn(
            "is_dup", (F.col("_seen").isNotNull()).cast("int")
        )
    )
    return annotated.drop("_n_hits", "_seen")


def _shingled(df: DataFrame, id_col: str, text_col: str, shingle_words: int) -> DataFrame:
    from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
    from appengine_mapreduce_spark.functions.text import (
        nonempty_tokens,
        shingles_from_tokens,
    )

    # Widen before the CPU-heavy shingle/hash projection: a source that
    # delivered fewer splits than cores would otherwise serialize it.
    # Tokenize in its own projection so the regex split runs once per doc,
    # not once per shingle position (see shingles_from_tokens).
    toked = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), nonempty_tokens(F.col(text_col)).alias("_tk")
    )
    # explode_OUTER + notnull (see repeated_substring_spans): the inner
    # explode's inferred size/notnull filter re-tokenizes and re-shingles
    # every doc below the widening exchange.
    return toked.select(
        "_id",
        F.explode_outer(
            shingles_from_tokens(F.col("_tk"), shingle_words)
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: for each of ``num_hashes`` hash
    functions from a Carter-Wegman family ``h_i = (a + i·b) mod p``,
    the min hash over the document's distinct shingles.

    One md5 per shingle (not per shingle × hash function) — the digest is
    the dominant cost at corpus scale. Output: (_id, sig array<bigint>);
    engine-portable so the DuckDB oracle can replay it.
    """
    from appengine_mapreduce_spark.functions.hashing import MINHASH_PRIME, hash_pair

    sh = _shingled(df, id_col, text_col, shingle_words)
    a, b = hash_pair(F.col("shingle"))
    seeded = sh.select("_id", a.alias("_a"), b.alias("_b"))
    aggs = [
        F.min((F.col("_a") + F.lit(i) * F.col("_b")) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = seeded.groupBy("_id").agg(*aggs)
    return sig.select("_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _banded(
    signatures: DataFrame, num_hashes: int, num_bands: int
) -> DataFrame:
    """(_id, band, band_sig) — the signature split into LSH bands."""
    rows_per_band = num_hashes // num_bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda h: h.cast("string"),
                ),
                "_",
            ).alias("band_sig"),
        )
        for b in range(num_bands)
    ]
    return signatures.select(
        "_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("_id", "bb.band", "bb.band_sig")


def lsh_cross_corpus_candidates(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    num_hashes: int = 16,
    num_bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """NEAR-dup incremental dedup candidates: band both corpora's
    MinHash signatures and equi-join ACROSS corpora on (band,
    band_sig) — the cross-table sibling of ``lsh_candidate_pairs``'s
    self-bucketing, and the near-duplicate analog of
    ``incremental_dedup``/``bloom_incremental_dedup`` (which only catch
    byte-identical content): a re-crawled page with a changed footer
    still lands in a shared band bucket.

    Unlike the self-join case there is no pipeline-recompute hazard —
    the two sides are different DataFrames — so a plain shuffle
    equi-join on (band, band_sig) is the right plan; at 100 TB keep
    the HISTORY side's banded table materialized/bucketed by (band,
    band_sig) between runs so only the new batch's signatures are
    computed per run. ``max_bucket_size`` drops boilerplate buckets by
    HISTORY-side population (the skew cap — a hot bucket on the
    history side multiplies every colliding new row).

    Output: distinct (new_id, hist_id) candidate pairs, to be
    exact-verified (n-gram Jaccard) or auto-dropped by policy."""
    nb = _banded(new_sigs, num_hashes, num_bands).withColumnRenamed(
        "_id", "new_id")
    hb = _banded(hist_sigs, num_hashes, num_bands).withColumnRenamed(
        "_id", "hist_id")
    ok_buckets = (
        hb.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket_size)
        .select("band", "band_sig")
    )
    hb_capped = hb.join(ok_buckets, ["band", "band_sig"])
    return (
        nb.join(hb_capped, ["band", "band_sig"])
        .select("new_id", "hist_id")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    num_bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.

    ``num_hashes`` must be divisible by ``num_bands``. The self-join is on
    (band, band_sig) — only within-bucket pairs are generated.
    ``max_bucket_size`` drops degenerate buckets (boilerplate explosion).
    Output: distinct (id_a, id_b) with id_a < id_b.
    """
    banded = _banded(signatures, num_hashes, num_bands)

    # Pair generation via per-bucket collect + array combinatorics instead of
    # a self-join: a self-join would recompute the entire signature pipeline
    # for each side (shingle → md5 → min-agg, the dominant cost), while one
    # groupBy computes it once. max_bucket_size caps both skew and the
    # quadratic pair fan-out per bucket.
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def crosscorpus_jaccard_verify(
    candidates: DataFrame,
    new_docs: DataFrame,
    hist_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard verification of cross-corpus candidate
    pairs — the verify half of the near-dup bloom-then-verify shape:
    ``lsh_cross_corpus_candidates`` proposes, this confirms. The
    shingle join is RESTRICTED to candidate pairs (candidates drive the
    join; fan-out per pair = shared shingles), so verification cost
    scales with the candidate count, not the corpus product — the same
    contract as Bloom's candidate-only digest check.

    Output: (new_id, hist_id, jaccard) for pairs at or above
    ``threshold``, jaccard exact over each side's distinct shingles."""
    nsh = _shingled(new_docs, id_col, text_col, shingle_words).select(
        F.col("_id").alias("new_id"), "shingle")
    hsh = _shingled(hist_docs, id_col, text_col, shingle_words).select(
        F.col("_id").alias("hist_id"), "shingle")
    inter = (
        candidates.join(nsh, "new_id")
        .join(hsh, ["hist_id", "shingle"])
        .groupBy("new_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    nsize = nsh.groupBy("new_id").agg(F.count(F.lit(1)).alias("_ns"))
    hsize = hsh.groupBy("hist_id").agg(F.count(F.lit(1)).alias("_hs"))
    return (
        inter.join(nsize, "new_id")
        .join(hsize, "hist_id")
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.col("_ns") + F.col("_hs") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    jaccard(a, b) = |A ∩ B| / (|A| + |B| - |A ∩ B|) computed from a
    shingle-level self-join — pairs with zero overlap never materialize.
    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    ``max_doc_freq`` is the stop-shingle cut, the twin of
    ``lsh_candidate_pairs``'s ``max_bucket_size``: shingles appearing in
    more than that many documents are dropped *before* the self-join (and
    from the set sizes, so jaccard stays a true Jaccard over the reduced
    shingle universe). Without it a boilerplate shingle shared by 100k docs
    generates 10^10 join rows; with it the fan-out per shingle is bounded
    by max_doc_freq². The heavy-hitter list is tiny by construction
    (≤ |shingle rows| / max_doc_freq entries), so it broadcasts.
    """
    sh = _shingled(df, id_col, text_col, shingle_words)
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_size"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_size").alias("_sa"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_size").alias("_sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _position_digests(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(_id, pos, dig) — one md5-derived k-gram digest per token position
    of every document: the shared front end of batch and incremental
    substring dedup. ``pos`` is 0-based; ``dig`` is stable_hash64 over the
    space-joined k-token window (salt "sub"), so any engine with md5
    replays it bit-for-bit (the DuckDB oracles recompute it verbatim).
    """
    from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
    from appengine_mapreduce_spark.functions.hashing import stable_hash64
    from appengine_mapreduce_spark.functions.text import nonempty_tokens

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    toked = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        nonempty_tokens(F.col(text_col)).alias("_tk"),
    )
    starts = F.when(
        F.size("_tk") >= k, F.sequence(F.lit(1), F.size("_tk") - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    digs = toked.select(
        "_id",
        F.transform(
            starts,
            lambda i: stable_hash64(
                F.array_join(F.slice(F.col("_tk"), i, k), " "), salt="sub"
            ),
        ).alias("_digs"),
    )
    # posexplode_OUTER + notnull, not plain posexplode: Catalyst's
    # InferFiltersFromGenerate (inner explode only) would duplicate the
    # whole digest transform into a pre-Generate filter pushed below the
    # widening exchange — measured 5.8x on this exact explode. The outer
    # variant infers nothing; empty-array docs yield one null row,
    # dropped by the attribute-cheap filter. (Registered queries also
    # exclude the rule session-wide via plans/tables.load; this keeps
    # the operator fast in ANY session.)
    return digs.select(
        "_id", F.posexplode_outer("_digs").alias("pos", "dig")
    ).filter(F.col("dig").isNotNull())


def _merge_hit_spans(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge marked window starts (_id, pos) into maximal spans: two
    windows touch iff their starts differ by <= k, so lag + running sum
    assigns span ids in ONE doc-keyed shuffle — the shared back end of
    batch and incremental substring dedup."""
    from pyspark.sql import Window

    w_doc = Window.partitionBy("_id").orderBy("pos")
    run = Window.partitionBy("_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = (
        hits.withColumn("_prev", F.lag("pos").over(w_doc))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn("span_id", F.sum("_new").over(run))
        .groupBy("_id", "span_id")
        .agg(
            F.min("pos").alias("start_token"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
        )
    )
    return spans.select(
        F.col("_id").alias(id_col),
        F.col("span_id").cast("int"),
        F.col("start_token").cast("int"),
        F.col("span_tokens").cast("int"),
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT substring-level dedup: flag maximal token spans that appear
    VERBATIM in at least ``min_docs`` distinct documents — the
    boilerplate/license/mid-document-repeat removal mode that
    complements exact-doc (md5), near-dup (MinHash/SimHash/winnowing)
    and incremental (digest/Bloom) dedup. A k-token window repeated
    across documents marks its positions; overlapping marked windows
    merge into maximal spans, so a 40-token license shared by two docs
    reports as ONE span of 40 tokens per doc, not 33 windows.

    Algorithm (never all-pairs, bounded fan-out of exactly one digest
    per token position):
    1. tokenize once per doc (own projection — see shingles_from_tokens
       on Generate re-splitting), build the per-position k-gram digest
       array with a linear transform, posexplode (the token array is
       NOT carried through the explode);
    2. ONE shuffle on the 8-byte digest: dense_rank over doc id + max
       gives the distinct-doc count per digest as two window passes on
       the SAME sort — rows stay rows (streaming ExternalSort, spills),
       no per-digest array is ever materialized, so a boilerplate
       shingle in 100M docs is a big sorted run, not an OOM;
    3. ONE shuffle on the doc id: lag/running-sum windows merge
       overlapping positions ([pos, pos+k) touches [prev, prev+k) iff
       pos - prev <= k) into maximal spans.

    Digests are md5-derived (stable_hash64) so any engine replays them
    bit-for-bit — the DuckDB oracle recomputes the identical pipeline.
    Collision risk at 60 bits is ~n²/2^61 (negligible below ~10^8
    distinct shingles per corpus; use the raw shingle string as the key
    if that ever matters more than shuffle width).

    Output: (id_col, span_id, start_token, span_tokens) — span_id is
    the 1-based ordinal of the span within its document.
    """
    from pyspark.sql import Window

    sh = _position_digests(df, id_col, text_col, k)
    w_dig = Window.partitionBy("dig")
    hits = (
        sh.withColumn("_dr", F.dense_rank().over(w_dig.orderBy("_id")))
        .withColumn("_nd", F.max("_dr").over(w_dig))
        .filter(F.col("_nd") >= min_docs)
        .select("_id", "pos")
    )
    return _merge_hit_spans(hits, id_col, k)


def substring_digest_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Distinct k-gram position digests of a corpus — the persisted
    HISTORY store for incremental substring dedup (column ``dig``,
    bigint). 8 bytes per DISTINCT k-gram, so a 100 TB history compacts
    to a digest table a daily batch can join against without ever
    re-reading the history's documents (the same store-compaction move
    as ``incremental_dedup``'s per-doc md5 store, at k-gram grain).
    Persist it partitioned/bucketed by ``dig`` and the incremental
    probe's semi-join is exchange-free on the history side —
    plan-asserted in tests/test_plan_quality.py::
    test_substring_digest_store_bucketed_probe_no_history_exchange
    (bucketed store scan feeds the LeftSemi SMJ directly; only the
    batch's position digests shuffle, to the store's bucket count)."""
    return _position_digests(df, id_col, text_col, k).select("dig").distinct()


def repeated_substring_spans_incremental(
    new_batch: DataFrame,
    history_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """INCREMENTAL substring-level dedup (completes the dedup matrix:
    exact/near-dup/substring × batch/incremental): maximal token spans
    of a NEW batch that appear VERBATIM anywhere in the historical
    corpus, where the history is represented ONLY by its persisted
    k-gram digest store (``substring_digest_store``) — the history's
    documents are never read, the production shape when a daily crawl
    lands against a 100 TB corpus whose boilerplate it repeats.

    Algorithm (the batch variant's pipeline with the distinct-doc-count
    windows replaced by a digest-store probe):
    1. one digest per token position of the new batch
       (``_position_digests``, md5-replayable);
    2. LEFT SEMI join on the 8-byte digest against the store — a
       position is marked iff its k-gram exists in history. No window
       pass is needed (membership, not counting), so this is CHEAPER
       per row than the batch variant: one digest-keyed shuffle (or
       zero history-side exchange when the store is bucketed by
       ``dig``; Spark broadcasts it outright if it's small);
    3. one doc-keyed shuffle merging marked positions into maximal
       spans (``_merge_hit_spans``).

    Note batch-internal repeats are NOT flagged — only history overlap
    (run the batch variant on the batch itself for those; the two
    compose because span merging is per-doc and position-based).

    Output: (id_col, span_id, start_token, span_tokens), as the batch
    variant."""
    sh = _position_digests(new_batch, id_col, text_col, k)
    hits = sh.join(history_digests, "dig", "left_semi").select("_id", "pos")
    return _merge_hit_spans(hits, id_col, k)


def strip_repeated_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    broadcast_spans: bool = True,
) -> DataFrame:
    """Verbatim-repeat REMOVAL: rebuild each document's text with every
    cross-document repeated span (per ``repeated_substring_spans``)
    deleted. Tokens are re-joined single-spaced; documents with no
    repeated spans pass through with their token-normalized text, so
    output text is whitespace-normalized either way.

    Plan: the span table groups to a per-doc array (spans per doc are
    few — bounded by len/k), joins back to the corpus on the doc id,
    and the strip itself is a pure JVM array expression
    (filter-with-index + exists over the span array): no second corpus
    shuffle beyond the span computation's own two.

    ``broadcast_spans``: the default pins the span join's build side to
    a broadcast — right whenever the span table fits the broadcast
    budget, but a HARD failure (8 GB broadcast cap / driver OOM) on a
    corpus where boilerplate spans touch ~100M+ docs; pass False there
    to degrade to a doc-keyed shuffle join (see ``_strip_spans``).

    Output: (id_col, cleaned_text, n_tokens_before, n_tokens_after).
    """
    spans = repeated_substring_spans(
        df, id_col=id_col, text_col=text_col, k=k, min_docs=min_docs
    )
    return _strip_spans(df, spans, id_col, text_col, broadcast_spans)


def strip_repeated_substrings_incremental(
    new_batch: DataFrame,
    history_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_spans: bool = True,
) -> DataFrame:
    """Incremental verbatim-repeat REMOVAL — the production scrub: each
    NEW-batch document rebuilt with every span that repeats the HISTORY
    (per ``repeated_substring_spans_incremental``, history = its k-gram
    digest store only) deleted. This is what a daily ingest actually
    runs: strip the incoming crawl of the corpus's known boilerplate
    before it ever lands. Same output/plan shape as
    ``strip_repeated_substrings`` — the span probe's semi join plus one
    span join back onto the batch (broadcast by default; a batch whose
    boilerplate hits ~100M+ docs must pass ``broadcast_spans=False`` to
    avoid the broadcast cap — see ``strip_repeated_substrings``).

    Output: (id_col, cleaned_text, n_tokens_before, n_tokens_after)."""
    spans = repeated_substring_spans_incremental(
        new_batch, history_digests, id_col=id_col, text_col=text_col, k=k
    )
    return _strip_spans(new_batch, spans, id_col, text_col, broadcast_spans)


def _strip_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_spans: bool = True,
) -> DataFrame:
    """Shared strip back end: delete each doc's span-covered tokens with
    a pure JVM filter-with-index expression, re-join single-spaced.

    ``broadcast_spans=True`` (default) pins the per-doc span table to
    the build side — correct when spans fit the broadcast budget (docs
    WITH spans × a few small structs each; the benchmark corpora are
    orders of magnitude inside it). It is a HARD FAILURE mode at the
    extreme: a corpus where boilerplate touches ~100M+
    docs can push the span table past Spark's 8 GB broadcast cap /
    driver memory and kill the job rather than degrade. Pass
    ``broadcast_spans=False`` there: the join becomes a plain doc-keyed
    shuffle (and is exchange-free if both sides are bucketed by the doc
    id)."""
    from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
    from appengine_mapreduce_spark.functions.text import nonempty_tokens

    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_token", "span_tokens")).alias("_spans")
    )
    toked = ensure_parallelism(df.select(id_col, text_col)).select(
        id_col, nonempty_tokens(F.col(text_col)).alias("_tk")
    )
    # Broadcast (when within budget): without the hint a mid-sized span
    # table would silently shuffle the corpus, invalidating the
    # documented plan shape; the caller-visible escape hatch above
    # covers the opposite extreme.
    build = F.broadcast(per_doc) if broadcast_spans else per_doc
    joined = toked.join(build, id_col, "left").withColumn(
        "_spans", F.coalesce(F.col("_spans"), F.array())
    )
    kept = F.filter(
        F.col("_tk"),
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["start_token"])
            & (i < s["start_token"] + s["span_tokens"]),
        ),
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias("cleaned_text"),
        F.size("_tk").alias("n_tokens_before"),
        F.size(kept).alias("n_tokens_after"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash: token hashes vote per bit position; the
    fingerprint sets bits with a positive vote.

    Bit votes are statically unrolled into ``bits`` aggregate columns over
    one token explode — one shuffle keyed on the doc id, no bit-explosion
    of the shuffle (a (token × bit) explode would move ``bits``× the data).
    Output: (_id, simhash bigint).
    """
    from appengine_mapreduce_spark.core.partitioning import ensure_parallelism

    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        # outer + notnull: see repeated_substring_spans on the
        # InferFiltersFromGenerate re-tokenization tax
        F.explode_outer(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).filter(F.col("tok").isNotNull()).withColumn(
        "th", stable_hash32(F.col("tok"), salt="simhash")
    )

    vote_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy("_id").agg(*vote_aggs)

    fingerprint = F.lit(0).cast("bigint")
    for i in range(bits):
        fingerprint = fingerprint + F.when(
            F.col(f"v{i}") > 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select("_id", fingerprint.alias("simhash"))
