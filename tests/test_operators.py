"""Operator unit tests: as-of join semantics, salted join equivalence,
approx-distinct accuracy, shuffle helpers, hashing stability."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from appengine_mapreduce_spark.functions.hashing import murmur3_bucket
from appengine_mapreduce_spark.operators import shuffle
from appengine_mapreduce_spark.operators.joins import as_of_join, salted_join
from tests.conftest import SF_CORRECT


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_as_of_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), "e1"),  # before any right row → null
            (1, _ts(12), "e2"),  # matches r1 (12:00, tie → <= matches)
            (1, _ts(15), "e3"),  # matches r2 (14:00)
            (2, _ts(12), "e4"),  # other key, matches r3
            (3, _ts(12), "e5"),  # key with no right rows → null
        ],
        "k bigint, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(12), 100),
            (1, _ts(14), 200),
            (2, _ts(11), 300),
        ],
        "k bigint, rts timestamp, payload bigint",
    )
    out = {
        r.tag: r.payload
        for r in as_of_join(
            left, right, key="k", left_ts="ts", right_ts="rts"
        ).collect()
    }
    assert out == {"e1": None, "e2": 100, "e3": 200, "e4": 300, "e5": None}


def test_salted_join_matches_plain_join(spark):
    # skewed probe: 90% of rows share one key
    probe = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.range(0, 50).select(
        F.col("id").alias("bk"), (F.col("id") * 100).alias("bv")
    )
    plain = (
        probe.join(build, probe.k == build.bk)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bv").alias("s"))
    )
    salted = (
        salted_join(probe, build, key="k", build_key="bk", salt=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bv").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_approx_distinct_accuracy(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    approx = {
        r.l_returnflag: r.a
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.01).alias("a"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.e
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("e"))
        .collect()
    }
    for flag, e in exact.items():
        assert abs(approx[flag] - e) <= max(3, 0.05 * e), (flag, approx[flag], e)


def test_group_values_chunking(spark):
    df = spark.createDataFrame(
        [("k", i) for i in range(20)] + [("j", 1)], "key string, v bigint"
    )
    out = {
        r.key: r["values"]
        for r in shuffle.group_values(df, "key", "v", max_grouped_values=5).collect()
    }
    assert out["k"] == [0, 1, 2, 3, 4]  # sorted then capped
    assert out["j"] == [1]


def test_murmur3_bucket_stable_and_bounded(spark):
    df = spark.range(0, 10000).select(F.col("id").cast("string").alias("k"))
    b1 = df.select("k", murmur3_bucket(F.col("k"), 32).alias("b"))
    assert b1.filter((F.col("b") < 0) | (F.col("b") >= 32)).count() == 0
    # deterministic across evaluations
    x = {r.k: r.b for r in b1.collect()}
    y = {r.k: r.b for r in b1.collect()}
    assert x == y
    # reasonably uniform: no bucket more than 2x the mean
    counts = b1.groupBy("b").count().collect()
    assert max(r["count"] for r in counts) < 2 * (10000 / 32)


def test_cogroup_apply_join_idiom(spark):
    """Implement an equi-join via reduce-side co-group (the reference's
    manual join idiom) and check it against the real join."""
    import pandas as pd

    from appengine_mapreduce_spark.operators.shuffle import cogroup_apply

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k bigint, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21), (4, 40)], "k bigint, rv bigint"
    )

    def join_fn(key, lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"k": pd.Series(dtype="int64"),
                                 "lv": pd.Series(dtype="object"),
                                 "rv": pd.Series(dtype="int64")})
        out = lpdf.merge(rpdf, on="k")
        return out[["k", "lv", "rv"]]

    got = sorted(
        map(tuple, cogroup_apply(left, right, "k", join_fn,
                                 "k bigint, lv string, rv bigint").collect())
    )
    expected = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == expected


def test_merge_upsert_replaces_inserts_keeps(spark):
    from appengine_mapreduce_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    source = spark.createDataFrame(
        [(2, "B2"), (9, "NEW")], "k bigint, v string"
    )
    got = {(r.k, r.v) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "NEW")}


def test_scd2_upsert_semantics(spark):
    import datetime as dt

    from appengine_mapreduce_spark.operators.merge import scd2_upsert

    d0 = dt.date(2020, 1, 1)
    eff = dt.date(2023, 6, 15)
    dim = spark.createDataFrame(
        [
            # history row (must pass through untouched)
            (1, "old", d0, dt.date(2022, 1, 1), False),
            # current rows
            (1, "mid", dt.date(2022, 1, 1), None, True),   # will change
            (2, "same", d0, None, True),                   # no-op update
            (3, "keep", d0, None, True),                   # no update at all
        ],
        "key bigint, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "new", eff), (2, "same", eff), (7, "insert", eff)],
        "key bigint, attr string, effective_date date",
    )
    got = {
        (r.key, r.attr, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in scd2_upsert(dim, updates, ["key"], ["attr"]).collect()
    }
    assert got == {
        (1, "old", "2020-01-01", "2022-01-01", False),    # history untouched
        (1, "mid", "2022-01-01", "2023-06-15", False),    # closed
        (1, "new", "2023-06-15", "None", True),           # opened
        (2, "same", "2020-01-01", "None", True),          # no-op: unchanged
        (3, "keep", "2020-01-01", "None", True),          # no update
        (7, "insert", "2023-06-15", "None", True),        # brand-new key
    }


def test_repetition_signals_edge_cases(spark):
    from appengine_mapreduce_spark.operators.text_analysis import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # all same token
            (2, "a b c d"),          # all distinct
            (3, "x"),                # single token: no bigrams
            (4, "p q p q p q"),      # dominant bigram
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].dup_tok_fraction == 0.75 and got[1].top_tok_fraction == 1.0
    assert got[2].dup_tok_fraction == 0.0 and got[2].top_tok_fraction == 0.25
    assert got[3].top_bigram_fraction == 0.0  # bigram-less doc → 0, not null
    # "p q" appears 3 times in 6 tokens → covers 3*2/6 = 1.0
    assert got[4].top_bigram_fraction == 1.0


def test_pii_scan_counts_and_redacts(spark):
    from appengine_mapreduce_spark.operators.text_analysis import pii_scan

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d@e.org see https://x.y/z ip 1.2.3.4 tel +12345678"),
            (2, "clean text with no pii at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in pii_scan(df).collect()}
    assert (got[1].n_email, got[1].n_url, got[1].n_ipv4, got[1].n_intl_phone) == (2, 1, 1, 1)
    assert got[2].n_email == got[2].n_url == got[2].n_ipv4 == got[2].n_intl_phone == 0
    red = got[1].redacted_text
    assert "[EMAIL]" in red and "[URL]" in red and "[IPV4]" in red and "[INTL_PHONE]" in red
    assert "a@b.com" not in red and "1.2.3.4" not in red
    assert got[2].redacted_text == "clean text with no pii at all"


def test_text_operators_null_and_empty_robust(spark):
    """Real corpora contain null/empty/whitespace-only documents — every
    text/dedup operator must pass them through without raising (dropping
    token-less docs from per-token outputs is the documented behavior)."""
    from appengine_mapreduce_spark.operators import dedup
    from appengine_mapreduce_spark.operators import text_analysis as ta

    docs = spark.createDataFrame(
        [(1, "hello world foo bar baz qux quux", "en", "web", 30),
         (2, None, "en", "web", 0),
         (3, "", "de", "web", 0),
         (4, "   ", "fr", "web", 3)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert len(ta.language_id(docs).collect()) == 4
    assert len(ta.quality_score(docs).collect()) == 4
    assert len(ta.pii_scan(docs).collect()) == 4
    assert len(ta.fingerprint(docs).collect()) == 4
    assert len(ta.winnow_fingerprints(docs).collect()) == 4
    assert ta.token_stats(docs).collect()[0].total_tokens == 7
    # token-less docs contribute no repetition rows, no shingles, no grams
    assert {r.doc_id for r in ta.repetition_signals(docs).collect()} == {1}
    assert len(dedup.minhash_signatures(docs, num_hashes=4, shingle_words=2).collect()) == 1
    assert len(dedup.simhash(docs, bits=16).collect()) == 1
    assert len(dedup.exact_dedup(docs).collect()) == 4  # null/""/"   " all distinct
    assert ta.ngram_contamination(docs, docs.limit(1), n=3).collect()[0].doc_id == 1


def test_winnowing_containment_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. §2): any shared substring
    of length ≥ k + w - 1 forces at least one shared fingerprint, however
    the surrounding text shifts the window offsets. Docs with no textual
    overlap share nothing."""
    import random

    from appengine_mapreduce_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    shared = "".join(rng.choice(alphabet) for _ in range(40))  # >= k+w-1 = 11
    mk = lambda n: "".join(rng.choice("0123456789") for _ in range(n))
    docs = spark.createDataFrame(
        [
            (1, mk(17) + shared + mk(23)),
            (2, mk(5) + shared + mk(61)),   # same substring, shifted offsets
            (3, mk(80)),                     # disjoint alphabet, no overlap
        ],
        "doc_id bigint, text string",
    )
    # recompute the fingerprint SETS (not just checksums) via the operator's
    # own hash arithmetic to compare membership
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.functions.hashing import stable_hash32

    k, w = 8, 4
    text = F.col("text")
    starts = F.sequence(F.lit(1), F.length(text) - F.lit(k - 1))
    hashed = docs.select(
        "doc_id",
        F.transform(starts, lambda i: stable_hash32(text.substr(i, F.lit(k)),
                                                    salt="win")).alias("_h"),
    )
    minima = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_h") - F.lit(w - 1)),
            lambda j: F.array_min(F.slice(F.col("_h"), j, w)),
        )
    )
    sets = {r.doc_id: set(r.fps) for r in
            hashed.select("doc_id", minima.alias("fps")).collect()}
    assert sets[1] & sets[2], "docs sharing a 40-char substring must share a fingerprint"
    assert not (sets[1] & sets[3])
    # and the operator's summary agrees with the recomputation
    got = {r.doc_id: (r.n_fingerprints, r.fp_checksum)
           for r in winnow_fingerprints(docs, k=k, window=w).collect()}
    for d, fps in sets.items():
        assert got[d] == (len(fps), sum(fps)), d


def test_incremental_dedup_operator(spark):
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.dedup import incremental_dedup

    history = spark.createDataFrame(
        [("already seen",), ("also seen",)], "text string"
    ).select(F.md5("text").alias("text_hash"))
    new_batch = spark.createDataFrame(
        [
            (1, "already seen"),     # dropped: in history
            (2, "brand new"),        # kept
            (3, "brand new"),        # in-batch dupe of 2 → one survives
            (4, "another fresh"),    # kept
        ],
        "doc_id bigint, text string",
    )
    out = incremental_dedup(new_batch, history).collect()
    texts = sorted(r.text for r in out)
    assert texts == ["another fresh", "brand new"]


def test_lsh_cross_corpus_candidates_planted_recall(spark):
    """Cross-corpus near-dup candidates: every planted near-duplicate
    (history doc with one appended token) shares a band bucket with its
    original; unrelated docs produce no pairs; the history-side bucket
    cap drops boilerplate buckets; the join plan is an equi-join."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.dedup import (
        lsh_cross_corpus_candidates,
        minhash_signatures,
    )

    import random

    rng = random.Random(41)
    words = [f"w{i}" for i in range(200)]
    hist_rows = [
        (i, " ".join(rng.choice(words) for _ in range(30)))
        for i in range(40)
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id bigint, text string")
    # new side: 10 perturbed copies (near-dups) + 20 unrelated docs
    new_rows = [
        (1000 + i, t + " extratoken") for i, t in hist_rows[:10]
    ] + [
        (2000 + i, " ".join(rng.choice(words) for _ in range(30)))
        for i in range(20)
    ]
    newd = spark.createDataFrame(new_rows, "doc_id bigint, text string")

    hs = minhash_signatures(hist, num_hashes=16, shingle_words=3)
    ns = minhash_signatures(newd, num_hashes=16, shingle_words=3)
    pairs = lsh_cross_corpus_candidates(ns, hs, num_hashes=16, num_bands=8)
    got = {(r.new_id, r.hist_id) for r in pairs.collect()}
    # every planted pair found (8 bands x 2 rows: near-identical
    # signatures collide in at least one band)
    for i in range(10):
        assert (1000 + i, i) in got, i

    # history-side bucket cap: with max_bucket_size=0 nothing survives
    assert lsh_cross_corpus_candidates(
        ns, hs, num_hashes=16, num_bands=8, max_bucket_size=0
    ).count() == 0

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one-smoothed bigram LM on a hand-checkable corpus:
    docs {d1: 'a b a b', d2: 'a b'} give c(a,b)=3, c(b,a)=1,
    c(a,.)=3, c(b,.)=1, V=2, so P(b|a)=4/5, P(a|b)=2/3;
    d1 scores (2·ln0.8 + ln(2/3))/3 and d2 scores ln 0.8. A one-token
    doc yields no row."""
    import math

    from appengine_mapreduce_spark.operators.text_analysis import (
        bigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 1
    p_ba, p_ab = 4 / 5, 2 / 3
    assert abs(rows[1].mean_logp
               - round((2 * math.log(p_ba) + math.log(p_ab)) / 3, 6)) < 1e-9
    assert abs(rows[2].mean_logp - round(math.log(p_ba), 6)) < 1e-9


def test_crosscorpus_jaccard_verify_planted_pairs(spark):
    """Verification half of the cross-corpus near-dup pipeline: exact
    Jaccard on candidate pairs only. A perturbed copy scores near 1 and
    survives the threshold; a candidate pair given artificially (two
    unrelated docs) scores low and is dropped; pairs NOT in the
    candidate set never appear even if similar."""
    from appengine_mapreduce_spark.operators.dedup import (
        crosscorpus_jaccard_verify,
    )

    hist = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "z y x w v u t s r q p o")],
        "doc_id bigint, text string",
    )
    newd = spark.createDataFrame(
        [(101, "a b c d e f g h i j k l m"),   # near-dup of 1
         (102, "n1 n2 n3 n4 n5 n6 n7 n8")],     # unrelated
        "doc_id bigint, text string",
    )
    cand = spark.createDataFrame(
        [(101, 1), (102, 2)], "new_id bigint, hist_id bigint"
    )
    out = {(r.new_id, r.hist_id): r.jaccard
           for r in crosscorpus_jaccard_verify(
               cand, newd, hist, threshold=0.5).collect()}
    assert (101, 1) in out and out[(101, 1)] > 0.8
    assert (102, 2) not in out
    # (101, 2) similar-or-not is irrelevant: not a candidate, never scored
    assert all(k in {(101, 1)} for k in out)


def test_bloom_incremental_dedup_no_false_negatives(spark):
    """Bloom-then-verify dedup: every true duplicate is a candidate
    (the structural Bloom guarantee), verification is exact, and with a
    deliberately tiny bitmap false positives appear WITHOUT corrupting
    is_dup. Plan: candidate probing is a BroadcastHashJoin on bit ints
    — no nested loop, no giant literal IN lists."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.dedup import (
        bloom_incremental_dedup,
    )

    history = spark.createDataFrame(
        [(i, f"hist doc {i}") for i in range(60)], "doc_id bigint, text string"
    )
    new_rows = (
        [(1000 + i, f"hist doc {i}") for i in range(0, 60, 3)]   # 20 dups
        + [(2000 + i, f"fresh doc {i}") for i in range(80)]      # 80 new
    )
    newb = spark.createDataFrame(new_rows, "doc_id bigint, text string")

    out = bloom_incremental_dedup(newb, history, m_bits=4096, k=4)
    rows = {r.doc_id: (r.bloom_candidate, r.is_dup) for r in out.collect()}
    assert len(rows) == 100
    dups = {d for d, (_c, du) in rows.items() if du}
    assert dups == {1000 + i for i in range(0, 60, 3)}
    # no false negatives: every dup is a candidate
    assert all(rows[d][0] == 1 for d in dups)

    # tiny bitmap (64 bits, 60 docs * 4 hashes): false positives are
    # near-certain, is_dup stays exact
    tiny = bloom_incremental_dedup(newb, history, m_bits=64, k=4)
    trows = tiny.collect()
    n_cand = sum(r.bloom_candidate for r in trows)
    n_dup = sum(r.is_dup for r in trows)
    assert n_dup == 20 and n_cand > n_dup
    assert all(r.bloom_candidate == 1 for r in trows if r.is_dup)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        bloom_incremental_dedup(newb, history, k=5)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_incremental_dedup(newb, history, m_bits=32)


def test_bloom_incremental_dedup_duplicate_ids(spark):
    """Regression: a duplicated id in the
    new batch must NOT break the no-false-negatives guarantee. Hits are
    keyed on (id, digest) and counted as distinct probe indices, so a
    true duplicate whose id appears twice (same text, or alongside a
    different text) still gets bloom_candidate=1."""
    from appengine_mapreduce_spark.operators.dedup import (
        bloom_incremental_dedup,
    )

    history = spark.createDataFrame(
        [(i, f"hist doc {i}") for i in range(20)], "doc_id bigint, text string"
    )
    newb = spark.createDataFrame(
        [
            (7, "hist doc 3"),   # dup of history, id repeated (same text)
            (7, "hist doc 3"),
            (8, "hist doc 5"),   # dup of history, id shared with fresh text
            (8, "fresh doc x"),
            (9, "fresh doc y"),  # unique id, fresh
        ],
        "doc_id bigint, text string",
    )
    out = bloom_incremental_dedup(newb, history, m_bits=4096, k=4).collect()
    assert len(out) == 5  # hits keyed on (id, digest): no join fan-out
    # structural guarantee: every verified duplicate row is a candidate
    for r in out:
        if r.is_dup:
            assert r.bloom_candidate == 1, (r.doc_id, r.asDict())
    dup_rows = [r for r in out if r.is_dup]
    assert {(r.doc_id) for r in dup_rows} == {7, 8}
    assert len([r for r in dup_rows if r.doc_id == 7]) == 2
    # the fresh text sharing id 8 is NOT marked dup
    fresh8 = [r for r in out if r.doc_id == 8 and not r.is_dup]
    assert len(fresh8) == 1 and fresh8[0].text == "fresh doc x"


def test_scrub_signals_matches_component_operators(spark):
    """scrub_signals (one shared projection) must agree exactly with the
    separately-run, oracle-verified language_id and quality_score."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.text_analysis import (
        language_id, quality_score, scrub_signals,
    )
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    combined = {r.doc_id: (r.pred_lang, r.quality)
                for r in scrub_signals(docs).collect()}
    lang = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
    qual = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    assert len(combined) == len(lang) == len(qual)
    for d, (pl, q) in combined.items():
        assert pl == lang[d], d
        assert q == qual[d], d  # identical expressions ⇒ bit-identical


def test_ensure_parallelism_widens_and_streaming_passthrough(spark, tmp_path):
    from appengine_mapreduce_spark.core.partitioning import ensure_parallelism

    narrow = spark.range(0, 1000).coalesce(2)
    wide = ensure_parallelism(narrow)
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    already = spark.range(0, 1000, 1, 64)
    assert ensure_parallelism(already) is already  # no-op, no shuffle added
    # streaming plans pass through untouched (df.rdd is undefined there)
    d = str(tmp_path / "s")
    spark.range(5).write.parquet(d)
    stream = spark.readStream.schema("id bigint").parquet(d)
    assert ensure_parallelism(stream) is stream


def test_snapshot_diff_classifies_changes(spark):
    from appengine_mapreduce_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, name string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", None), (4, "d", 41.0), (5, "e", 50.0)],
        "k int, name string, v double",
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    # 1 deleted, 2 unchanged (absent), 3 unchanged incl. null==null
    # (eqNullSafe), 4 updated, 5 inserted
    assert got == {1: "delete", 4: "update", 5: "insert"}, got


def test_snapshot_diff_null_to_value_is_update(spark):
    from appengine_mapreduce_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k int, v double")
    new = spark.createDataFrame([(1, 7.0)], "k int, v double")
    rows = snapshot_diff(old, new, key_cols=["k"]).collect()
    assert len(rows) == 1 and rows[0].change_type == "update"
    assert rows[0].v == 7.0  # new value wins for updates


def test_snapshot_diff_value_to_null_reports_null(spark):
    """An update that SETS a value to NULL must report NULL (the new
    value), not resurrect the old one — otherwise every downstream
    consumer of the delta silently keeps stale data."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.cdc import (
        incremental_sum_refresh,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "g1", 5.0), (2, "g1", 7.0)], "k int, g string, v double"
    ).withColumn("v", F.col("v").cast("decimal(18,2)"))
    new = spark.createDataFrame(
        [(1, "g1", None), (2, "g1", 7.0)], "k int, g string, v double"
    ).withColumn("v", F.col("v").cast("decimal(18,2)"))

    delta = snapshot_diff(old, new, key_cols=["k"], include_old=True)
    rows = delta.collect()
    assert len(rows) == 1
    assert rows[0].change_type == "update"
    assert rows[0].v is None, rows  # the NEW (null) value, not old 5.0
    assert float(rows[0].old_v) == 5.0

    # The maintained aggregate must match a full recompute: SUM ignores
    # the NULL, so g1's total drops to 7.0 with count still 2.
    old_agg = old.groupBy("g").agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
    )
    got = incremental_sum_refresh(
        old_agg, delta, "g", "v", "total", "n"
    ).collect()
    assert len(got) == 1
    assert (got[0].g, float(got[0].total), got[0].n) == ("g1", 7.0, 2)


def test_snapshot_diff_keys_only_table(spark):
    """With no compare columns, presence drives classification: inserts
    and deletes only, never 'update' (regression: reduce() over an empty
    list used to raise)."""
    from appengine_mapreduce_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "k int")
    new = spark.createDataFrame([(2,), (3,)], "k int")
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    assert got == {1: "delete", 3: "insert"}, got


def test_validate_counts_null_as_violation(spark):
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.quality_checks import validate

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "k int, v double"
    )
    out = {
        r.rule: (r.violations, r.n_rows)
        for r in validate(
            df, {"v_positive": F.col("v") > 0, "k_small": F.col("k") < 10}
        ).collect()
    }
    # v > 0 is NULL for the None row -> counts as violation
    assert out == {"v_positive": (2, 3), "k_small": (0, 3)}, out


def test_validate_hostile_rule_names_and_empty_suite(spark):
    """Rule names are data: quotes/backslashes must survive verbatim
    (regression: interpolation into stack() broke the plan parse), and an
    empty suite yields an empty result, not a stack(0) parse error."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.quality_checks import validate

    df = spark.createDataFrame([(1,), (2,)], "k int")
    weird = "it's a ', SELECT 1 -- \\ rule"
    out = {
        r.rule: (r.violations, r.n_rows)
        for r in validate(df, {weird: F.col("k") > 0}).collect()
    }
    assert out == {weird: (0, 2)}, out

    empty = validate(df, {})
    assert empty.columns == ["rule", "violations", "n_rows"]
    assert empty.count() == 0


def test_z_value_scaled_clamps_out_of_range(spark):
    """Values outside the declared ranges clamp to the curve's edge cells
    instead of producing sign-corrupted Morton values (stale-stats
    safety)."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.functions.zorder import z_value_scaled

    df = spark.createDataFrame(
        [(-50.0, 5.0), (0.0, 5.0), (200.0, 5.0), (100.0, 5.0)],
        "x double, y double",
    )
    rows = df.select(
        "x",
        z_value_scaled(
            F.col("x"), F.col("y"), (0.0, 100.0), (0.0, 10.0), bits=4
        ).alias("z"),
    ).collect()
    z = {r.x: r.z for r in rows}
    max_z = (1 << 8) - 1  # bits=4 per dim -> 8-bit z space
    assert all(0 <= v <= max_z for v in z.values()), z
    assert z[-50.0] == z[0.0]  # below-range clamps to lo cell
    assert z[200.0] == z[100.0]  # above-range clamps to hi cell


def test_incremental_refresh_handles_group_migration(spark):
    """An update that MOVES a row between groups must retract from the old
    group and add to the new one; counts migrate too."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.cdc import (
        incremental_sum_refresh,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "g1", 10), (2, "g1", 20), (3, "g2", 30)],
        "k int, g string, v int",
    ).withColumn("v", F.col("v").cast("decimal(18,2)"))
    # row 2 migrates g1 -> g2 and changes value; row 3 deleted; row 4 new
    new = spark.createDataFrame(
        [(1, "g1", 10), (2, "g2", 25), (4, "g3", 40)],
        "k int, g string, v int",
    ).withColumn("v", F.col("v").cast("decimal(18,2)"))

    old_agg = old.groupBy("g").agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
    )
    delta = snapshot_diff(old, new, key_cols=["k"], include_old=True)
    got = {
        r.g: (float(r.total), r.n)
        for r in incremental_sum_refresh(
            old_agg, delta, "g", "v", "total", "n"
        ).collect()
    }
    direct = {
        r.g: (float(r.total), r.n)
        for r in new.groupBy("g")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == direct == {
        "g1": (10.0, 1),
        "g2": (25.0, 1),
        "g3": (40.0, 1),
    }, (got, direct)


def test_global_shuffle_reproducible_and_dense(spark):
    """The permutation must be identical regardless of input partitioning
    (the retry-safety RNG shuffles lack), shards dense from 0, and every
    row present exactly once."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.sampling import global_shuffle

    base = spark.range(0, 1000).select(F.col("id").alias("k"))
    a = global_shuffle(base.repartition(3), key="k", n_shards=4)
    b = global_shuffle(base.repartition(17), key="k", n_shards=4)
    rows_a = {(r.k): (r.shard, r.position) for r in a.collect()}
    rows_b = {(r.k): (r.shard, r.position) for r in b.collect()}
    assert rows_a == rows_b  # partitioning-independent permutation
    assert len(rows_a) == 1000
    per_shard: dict[int, list[int]] = {}
    for shard, pos in rows_a.values():
        per_shard.setdefault(shard, []).append(pos)
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard  # dense


def test_bpe_training_classic_example(spark):
    """Hand-computable BPE: corpus {hug:10, pug:5, pun:12, bun:4, hugs:5}
    must learn (u,g)=20, then (u,n)=16, then (h,ug)=15 — the standard
    worked example for greedy pair merging."""
    from appengine_mapreduce_spark.operators.tokenizer import (
        train_bpe_merges,
    )

    text = " ".join(
        ["hug"] * 10 + ["pug"] * 5 + ["pun"] * 12 + ["bun"] * 4 + ["hugs"] * 5
    )
    docs = spark.createDataFrame([(text,)], "text string")
    merges = train_bpe_merges(docs, n_merges=3)
    assert merges == [("u", "g", 20), ("u", "n", 16), ("h", "ug", 15)], merges


def test_bpe_apply_merges_and_token_frequencies(spark):
    """Tokenizer ENCODE on the classic corpus: after the 3 learned
    merges the vocab segments as hug=[hug], pug=[p,ug], pun=[p,un],
    bun=[b,un], hugs=[hug,s], so weighted token frequencies are
    p:17, un:16, hug:15, s:5, ug:5, b:4 with the (freq desc, token)
    tie-break putting 's' before 'ug'."""
    from appengine_mapreduce_spark.operators.tokenizer import (
        bpe_token_frequencies,
    )

    text = " ".join(
        ["hug"] * 10 + ["pug"] * 5 + ["pun"] * 12 + ["bun"] * 4 + ["hugs"] * 5
    )
    docs = spark.createDataFrame([(text,)], "text string")
    rows = bpe_token_frequencies(docs, n_merges=3, top_k=10).collect()
    assert [(r.token, r.freq) for r in rows] == [
        ("p", 17), ("un", 16), ("hug", 15), ("s", 5), ("ug", 5), ("b", 4),
    ]


def test_bpe_oracle_replace_trick_equals_spark_fold(spark):
    """Pins the ORACLE TECHNIQUE itself: the DuckDB delimiter-wrapped
    string-replace merge application must equal Spark's greedy
    left-to-right array fold on adversarial symbol streams — overlap
    runs (a a a a), the merged symbol reappearing as a neighbor, and
    multi-char symbols whose text embeds the pattern chars (pu|g vs
    u|g). Randomized over seeded alphabets plus fixed edge cases."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.tokenizer import _apply_merge

    rng = random.Random(77)
    cases = [
        (["a", "a", "a", "a"], ("a", "a")),
        (["a", "a", "a"], ("a", "a")),
        (["u", "g", "u", "g"], ("u", "g")),
        (["p", "u", "g"], ("u", "g")),      # boundary: no |u at start
        (["pu", "g"], ("u", "g")),          # pattern chars inside a symbol
        (["ug", "ug", "u", "g"], ("u", "g")),
        (["x"], ("a", "b")),
        (["ab", "b", "ab", "b", "ab"], ("ab", "b")),
    ]
    for _ in range(40):
        syms = [rng.choice(["a", "b", "ab", "ba", "aa"])
                for _ in range(rng.randrange(1, 12))]
        pair = (rng.choice(["a", "b", "ab", "aa"]),
                rng.choice(["a", "b", "ab", "aa"]))
        cases.append((syms, pair))

    conn = duckdb.connect()
    for syms, (left, right) in cases:
        sdf = spark.createDataFrame([(syms,)], "sym array<string>")
        got_spark = sdf.select(
            _apply_merge(F.col("sym"), left, right).alias("out")
        ).first()["out"]
        got_duck = conn.execute(
            """
            SELECT string_split(
                trim(replace(
                    chr(31) || array_to_string(?, chr(31) || chr(31)) || chr(31),
                    chr(31) || ? || chr(31) || chr(31) || ? || chr(31),
                    chr(31) || ? || chr(31)), chr(31)),
                chr(31) || chr(31))
            """,
            [syms, left, right, left + right],
        ).fetchone()[0]
        assert list(got_spark) == list(got_duck), (syms, left, right)


def test_bpe_oracle_early_stop_filter_equivalence(spark):
    """Pins the early-stop argument in the oracle docstring: on tiny
    corpora where training STOPS early (best pair under
    min_pair_count), the unrolled oracle's threshold-filtered output
    must equal the early-stopped Spark run row-for-row."""
    import duckdb

    from appengine_mapreduce_spark.operators.tokenizer import (
        train_bpe_merges,
    )
    from appengine_mapreduce_spark.plans.queries_text3 import (
        _bpe_oracle_sql,
    )

    corpora = [
        "ab ab cd",           # 1 merge then stop ((c,d)=1 < 2)
        "xy xy xy q",         # (x,y)=3 then stop
        "ab ab ab ba ba",     # several rounds then stop
        "solo",               # no pair ever reaches 2 -> empty output
    ]
    for text in corpora:
        docs = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
        merges = train_bpe_merges(docs, n_merges=6, min_pair_count=2)
        want = [(i, l, r, n) for i, (l, r, n) in enumerate(merges)]

        conn = duckdb.connect()
        conn.execute(
            "CREATE TABLE documents AS SELECT 0 AS doc_id, ? AS text",
            [text],
        )
        sql = _bpe_oracle_sql(n_merges=6, doc_filter="doc_id >= 0")
        got = [tuple(r) for r in conn.sql(
            sql + ' ORDER BY "rank"').fetchall()]
        assert got == want, (text, got, want)
    from appengine_mapreduce_spark.operators.tokenizer import (
        train_bpe_merges,
    )

    docs = spark.createDataFrame([("ab ab cd",)], "text string")
    a = train_bpe_merges(docs, n_merges=10, min_pair_count=2)
    b = train_bpe_merges(docs, n_merges=10, min_pair_count=2)
    assert a == b
    # (a,b)=2 qualifies; (c,d)=1 falls under min_pair_count -> early stop
    assert a == [("a", "b", 2)], a


def test_bpe_encode_oracle_survives_early_convergence(spark):
    """Regression: when the pair table
    runs DRY before n_merges (every word fully merged), the unrolled
    encode oracle used to cross-join an empty best-pair row and collapse
    every later stage — returning an empty symbol table while Spark
    keeps the real frequencies. The LEFT JOIN + CASE fallback must keep
    w{t} = w{t-1} through the dry stages."""
    import duckdb

    from appengine_mapreduce_spark.operators.tokenizer import (
        bpe_token_frequencies,
    )
    from appengine_mapreduce_spark.plans.queries_text3 import (
        _bpe_token_freq_oracle_sql,
    )

    corpora = [
        "ab ab cd",        # pairs dry up after 2 merges (of 6 unrolled)
        "xy xy xy",        # dry after 1
        "a b c",           # dry immediately (all words single-symbol)
    ]
    for text in corpora:
        docs = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
        got_spark = sorted(
            (r.token, r.freq)
            for r in bpe_token_frequencies(docs, n_merges=6, top_k=50).collect()
        )
        conn = duckdb.connect()
        conn.execute(
            "CREATE TABLE documents AS SELECT 0 AS doc_id, ? AS text", [text]
        )
        sql = _bpe_token_freq_oracle_sql(n_merges=6, doc_filter="doc_id >= 0")
        got_duck = sorted((r[0], r[1]) for r in conn.sql(sql).fetchall())
        assert got_duck, f"oracle collapsed to empty on {text!r}"
        assert got_spark == got_duck, (text, got_spark, got_duck)


def test_global_shuffle_duplicate_and_null_keys(spark):
    """Duplicate key values and NULL keys: the ordering must stay total
    on row VALUES (identical output multiset regardless of input
    partitioning) and NULL keys must land in a real shard, not NULL."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.sampling import global_shuffle

    base = spark.range(0, 300).select(
        (F.col("id") % 10).alias("k"),          # heavy duplicates
        F.col("id").alias("payload"),
    ).unionAll(
        spark.range(0, 5).select(
            F.lit(None).cast("long").alias("k"),
            (F.col("id") + 1000).alias("payload"),
        )
    )
    a = global_shuffle(base.repartition(3), key="k", n_shards=4)
    b = global_shuffle(base.repartition(13), key="k", n_shards=4)
    rows_a = {(r.payload): (r.shard, r.position) for r in a.collect()}
    rows_b = {(r.payload): (r.shard, r.position) for r in b.collect()}
    assert rows_a == rows_b  # total ordering despite duplicate keys
    assert len(rows_a) == 305
    assert all(s is not None and 0 <= s < 4 for s, _ in rows_a.values())
    per_shard: dict[int, list[int]] = {}
    for shard, pos in rows_a.values():
        per_shard.setdefault(shard, []).append(pos)
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard


def test_adaptive_sign_bucket_splits_hot_buckets_keeps_neardups(spark):
    """DEPTH-ADAPTIVE hot-bucket sub-splitting: a bucket of
    c rows moves to the smallest depth k with c <= cap * 2^k — so a
    mildly-hot bucket splits one level while a very hot one goes
    deeper, id ranges per depth are disjoint, cold buckets keep the
    base id, and planted near-duplicate pairs (sign-identical vectors)
    always share a bucket — the recall property dedup needs."""
    import random

    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.similarity import (
        adaptive_sign_bucket,
    )

    rng = random.Random(7)
    rows = []
    # 200 vectors all positive in the first 6 coords -> ONE hot base
    # bucket; extended bits differ via coords 7..10. c=201 with the
    # near-dup -> depth 2 (64*2 < 201 <= 64*4): ids in [2^8, 2^9)
    for i in range(200):
        vec = [1.0] * 6 + [rng.choice([-1.0, 1.0]) for _ in range(10)]
        rows.append((i, vec))
    # planted near-dup: same signs everywhere (tiny magnitude change)
    rows.append((1000, [v * 0.9 for v in rows[0][1]]))
    # a MILDLY hot bucket (second base coord negative): c=70 -> depth 1
    # (64 < 70 <= 128): ids in [2^7, 2^8)
    for i in range(70):
        vec = [1.0, -1.0] + [1.0] * 4 + [
            rng.choice([-1.0, 1.0]) for _ in range(10)]
        rows.append((3000 + i, vec))
    # a cold bucket: first coord negative, 3 rows only -> base id
    for i in range(3):
        rows.append((2000 + i, [-1.0] + [1.0] * 15))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = adaptive_sign_bucket(
        df, base_bits=6, extra_bits=4, max_bucket_size=64
    )
    got = {r.vec_id: r.bucket for r in out.collect()}
    assert len(got) == len(rows)
    # cold rows keep base ids (< 2^6)
    for i in range(3):
        assert got[2000 + i] < 64
    # very hot bucket at depth 2: [2^8, 2^9)
    assert all((1 << 8) <= got[i] < (1 << 9) for i in range(200))
    # mildly hot bucket at depth 1 ONLY: [2^7, 2^8)
    assert all((1 << 7) <= got[3000 + i] < (1 << 8) for i in range(70))
    # near-dup pair shares its (extended) bucket
    assert got[1000] == got[0]
    # sub-buckets actually split the hot bucket
    hot_sizes = {}
    for i in range(200):
        hot_sizes[got[i]] = hot_sizes.get(got[i], 0) + 1
    assert len(hot_sizes) > 1


def test_ivfadc_build_search_identity_and_recall(spark):
    """IVFADC (IVF coarse + PQ on residuals): (1) codes are M small
    ints and every vector lands in a real list; (2) the ADC identity
    per returned row — adc_dist equals the exact L2 between the
    query's residual (w.r.t. that row's list centroid) and the PQ
    reconstruction of the row's code; (3) on clustered data the true
    nearest neighbor is retrieved; (4) returned rows come only from
    the probed lists; (5) the plan has no nested loop."""
    import random

    from appengine_mapreduce_spark.operators.similarity import (
        ivfadc_build,
        ivfadc_topk,
        pq_reconstruct,
    )

    rng = random.Random(31)
    dim, n_clusters, per = 16, 6, 40
    centers = [[rng.uniform(-5, 5) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            rows.append((vid, [x + rng.uniform(-0.3, 0.3) for x in c]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    coarse, books, encoded = ivfadc_build(
        df, n_lists=6, m=4, ks=8, coarse_iterations=3, pq_iterations=3)
    enc_rows = encoded.collect()
    assert len(enc_rows) == len(rows)
    assert all(len(r.pq_code) == 4 and all(0 <= c < 8 for c in r.pq_code)
               for r in enc_rows)
    assert all(0 <= r.list_id < 6 for r in enc_rows)

    q = [x + 0.05 for x in centers[2]]
    top = ivfadc_topk(encoded, coarse, books, q, n_probes=2, k=10)
    got = top.collect()
    assert len(got) == 10

    # probed lists only
    ranked = sorted(
        range(len(coarse)),
        key=lambda li: (sum((a - b) ** 2
                            for a, b in zip(q, coarse[li])), li))
    probed = set(ranked[:2])
    assert {r.list_id for r in got} <= probed

    # ADC identity per returned row
    codes = {r.vec_id: (r.list_id, list(r.pq_code)) for r in enc_rows}
    for r in got:
        li, code = codes[r.vec_id]
        qres = [a - b for a, b in zip(q, coarse[li])]
        rec = pq_reconstruct(books, code)
        exact = sum((a - b) ** 2 for a, b in zip(qres, rec))
        assert abs(exact - r.adc_dist) < 1e-4, (r.vec_id, exact, r.adc_dist)

    # every returned point is a true near neighbor (inside the query's
    # cluster). Exact top-1 retrieval is NOT asserted: tight clusters
    # collapse members onto identical codes and the id tie-break picks
    # the lowest ids — the same documented property as the PQ test.
    l2rank = sorted(
        rows, key=lambda t: (sum((a - b) ** 2
                                 for a, b in zip(q, t[1])), t[0]))
    near = {t[0] for t in l2rank[:per]}
    assert all(r.vec_id in near for r in got)

    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    import pytest

    with pytest.raises(ValueError, match="n_probes"):
        ivfadc_topk(encoded, coarse, books, q, n_probes=0)


def test_pq_adc_identity_and_recall(spark):
    """Product quantization: (1) the ADC identity — adc(q, code(x)) ==
    ||q - reconstruct(code(x))||² exactly, independent of training
    quality; (2) on CLUSTERED data (PQ's regime) recall@10 vs exact L2
    brute force is high; (3) codes are M small ints."""
    import random

    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_reconstruct,
        pq_train,
    )

    rng = random.Random(11)
    dim, n_clusters, per = 16, 24, 50
    centers = [[rng.uniform(-5, 5) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            rows.append((vid, [x + rng.uniform(-0.2, 0.2) for x in c]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(df, m=4, ks=16, n_iterations=4)
    enc = pq_encode(df, books)
    sample = enc.orderBy("vec_id").limit(200).collect()
    assert all(len(r.pq_code) == 4 for r in sample)
    assert all(0 <= c < 16 for r in sample for c in r.pq_code)

    q = [x + 0.05 for x in centers[3]]
    top = pq_adc_topk(enc, books, q, k=10).collect()
    codes = {r.vec_id: list(r.pq_code) for r in sample}
    for r in top:
        if r.vec_id not in codes:
            continue
        rec = pq_reconstruct(books, codes[r.vec_id])
        exact = sum((a - b) ** 2 for a, b in zip(q, rec))
        assert abs(exact - r.adc_dist) < 1e-4, (r.vec_id, exact, r.adc_dist)

    # exact L2 brute force for recall
    qlit = F.array(*[F.lit(float(x)) for x in q])
    l2 = df.select(
        "vec_id",
        F.aggregate(
            F.zip_with("embedding", qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("d"),
    )
    # With tight clusters every member of the true cluster can share one
    # PQ code (identical ADC distance, id tie-break), so recall@10
    # against the exact top-10 under-measures; the meaningful property
    # is that every returned point IS a true near neighbor — inside the
    # query's cluster (exact-rank <= cluster size).
    exact_rank = {
        r.vec_id: i
        for i, r in enumerate(
            l2.orderBy(F.asc("d"), "vec_id").limit(per * 2).collect())
    }
    for r in top:
        assert exact_rank.get(r.vec_id, 10**9) < per, (
            r.vec_id, "returned point is not a true cluster neighbor")
    # and the single closest point must be found exactly
    best = min(exact_rank, key=exact_rank.get)
    assert any(r.vec_id == best for r in top) or exact_rank[
        [r.vec_id for r in top][0]] < per


def test_pagerank_mass_conservation_and_hubs(spark):
    """PageRank invariants: with dangling-mass redistribution the total
    rank stays ~1.0 every iteration, and a node with strictly more
    in-links from the same sources outranks its peers."""
    from appengine_mapreduce_spark.operators.graph import pagerank

    # star + chain: node 100 receives links from 1..5; node 200 from 1
    edges = [(s, 100) for s in range(1, 6)] + [(1, 200), (100, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(df, n_iterations=8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6, sum(ranks.values())
    # 200 drains the hub's ENTIRE rank (100's only out-link) plus half
    # of node 1's, so it outranks the hub; both dwarf the leaves
    assert ranks[200] > ranks[100] > ranks[2]


def test_mergeable_sketches_accuracy_and_merge_consistency(spark):
    """Sketch contracts: (1) HLL distinct estimates within 2% of exact
    per group and globally; (2) merging per-group sketches gives the
    SAME estimate as sketching the whole column directly (union is
    lossless over the registers); (3) KLL median within the value
    range and close to the exact median."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.01"
    out = {r.event_type: r for r in
           all_queries()["mergeable_sketches"].fn(spark, sf).collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet")
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    exact["__ALL__"] = ev.select("user_id").distinct().count()
    for et, e in exact.items():
        est = out[et].distinct_users_est
        assert abs(est - e) <= max(2, 0.02 * e), (et, est, e)

    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("d")
    ).first()["d"]
    assert out["__ALL__"].distinct_users_est == direct

    med = ev.approxQuantile("value", [0.5], 0.01)[0]
    got = out["__ALL__"].median_value_est
    assert abs(got - med) <= 0.1 * max(1.0, abs(med)), (got, med)


def test_chunk_documents_overlap_and_reconstruction(spark):
    """Sliding-window chunking invariants: consecutive chunks of one doc
    share exactly `overlap` tokens (when the earlier chunk is full
    width); concatenating each chunk's first `stride` tokens
    reconstructs the document; final window reports its true (short)
    length; empty docs emit nothing; and the plan is narrow — zero
    exchanges."""
    from appengine_mapreduce_spark.operators.text_analysis import (
        chunk_documents,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(150))),  # multi-chunk
        (2, "a b c"),                                # single short chunk
        (3, ""),                                     # empty -> no chunks
        (4, " ".join(f"x{i}" for i in range(64))),   # exactly one window
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = chunk_documents(df, chunk_tokens=64, overlap=16)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append(r)
    for chunks in got.values():
        chunks.sort(key=lambda r: r.chunk_id)

    assert 3 not in got
    assert [r.n_tokens for r in got[2]] == [3]
    stride = 48
    # doc 1 (150 tokens): starts 0,48,96; 144 is suppressed (144+16>=150
    # would be pure overlap of window 96's coverage)
    assert [r.start_token for r in got[1]] == [0, 48, 96]
    assert [r.n_tokens for r in got[1]] == [64, 64, 54]
    toks1 = [f"w{i}" for i in range(150)]
    # overlap: chunk k's first 16 tokens == chunk k-1's tokens 48..63
    for prev, cur in zip(got[1], got[1][1:]):
        ptoks = prev.chunk_text.split(" ")
        ctoks = cur.chunk_text.split(" ")
        if len(ptoks) == 64:
            assert ptoks[stride:] == ctoks[: len(ptoks) - stride]
    # coverage: union of windows == the whole document, in order
    covered = got[1][0].chunk_text.split(" ")
    for r in got[1][1:]:
        covered.extend(r.chunk_text.split(" ")[16:])
    assert covered == toks1
    # doc 4 (exactly 64 tokens): one window only — the would-be start-48
    # window is all overlap and is suppressed
    assert [r.start_token for r in got[4]] == [0]
    assert [r.n_tokens for r in got[4]] == [64]
    # narrow plan: no shuffle anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_interval_join_semantics_and_plan(spark):
    """Bucketized range join: containment is [start, end); pairs meeting
    across bucket boundaries are found; keys isolate; result equals the
    naive non-equi join on a randomized fixture; and the plan is an
    EQUI-join — no BroadcastNestedLoopJoin, no CartesianProduct."""
    import random

    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.joins import interval_join

    rng = random.Random(7)
    points = [(i % 5, float(rng.randrange(0, 100_000)), i)
              for i in range(400)]
    ivals = []
    for j in range(120):
        s = float(rng.randrange(0, 100_000))
        ivals.append((j % 5, s, s + rng.randrange(1, 15_000), j))
    pdf = spark.createDataFrame(
        points, "k bigint, ts double, pid bigint")
    idf = spark.createDataFrame(
        ivals, "k bigint, s double, e double, iid bigint")

    out = interval_join(pdf, idf, key="k", point_ts="ts",
                        start_ts="s", end_ts="e", bucket_seconds=3600)
    got = {(r.pid, r.iid) for r in out.collect()}
    naive = {
        (p[2], v[3])
        for p in points for v in ivals
        if p[0] == v[0] and v[1] <= p[1] < v[2]
    }
    assert got == naive and naive  # non-empty and exactly equal

    # boundary: start inclusive, end exclusive
    p2 = spark.createDataFrame([(1, 100.0, 0), (1, 200.0, 1)],
                               "k bigint, ts double, pid bigint")
    i2 = spark.createDataFrame([(1, 100.0, 200.0, 0)],
                               "k bigint, s double, e double, iid bigint")
    pairs = {(r.pid, r.iid) for r in interval_join(
        p2, i2, "k", "ts", "s", "e", bucket_seconds=50).collect()}
    assert pairs == {(0, 0)}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_reserved_column_name(spark):
    import pytest

    from appengine_mapreduce_spark.operators.joins import interval_join

    pdf = spark.createDataFrame([(1, 1.0, 5)],
                                "k bigint, ts double, _bkt bigint")
    idf = spark.createDataFrame([(1, 0.0, 2.0)],
                                "k bigint, s double, e double")
    with pytest.raises(ValueError, match="_bkt"):
        interval_join(pdf, idf, "k", "ts", "s", "e")


def test_interval_join_rejects_nonpositive_bucket(spark):
    import pytest

    from appengine_mapreduce_spark.operators.joins import interval_join

    pdf = spark.createDataFrame([(1, 1.0, 0)], "k bigint, ts double, pid int")
    idf = spark.createDataFrame([(1, 0.0, 2.0, 0)],
                                "k bigint, s double, e double, iid int")
    for bad in (0, -3600):
        with pytest.raises(ValueError, match="positive"):
            interval_join(pdf, idf, "k", "ts", "s", "e", bucket_seconds=bad)


def test_interval_join_sentinel_end_is_clamped(spark):
    """Open-ended validity rows with a far-future sentinel end must NOT
    explode: fan-out is clamped to the points side's observed bucket
    range. With bucket_seconds=1 an unclamped explode of the sentinel
    interval would generate ~2.5e11 sequence elements (year-9999 end);
    completing at all proves the clamp, and the results must equal the
    naive join. Intervals wholly outside the points range (before and
    after) must survive prefiltering without corrupting results."""
    from appengine_mapreduce_spark.operators.joins import interval_join

    sentinel = 253402300800.0  # 9999-12-31T00:00:00Z as epoch seconds
    points = [(1, 100.0, 0), (1, 5000.0, 1), (2, 300.0, 2)]
    ivals = [
        (1, 50.0, sentinel, 0),       # open-ended: matches pids 0 and 1
        (1, 4000.0, 4500.0, 1),       # closed, no points inside
        (1, -500.0, -100.0, 2),       # wholly before all points
        (2, 6000.0, sentinel, 3),     # wholly after key-2's points
        (2, 0.0, 400.0, 4),           # matches pid 2
    ]
    pdf = spark.createDataFrame(points, "k bigint, ts double, pid int")
    idf = spark.createDataFrame(ivals, "k bigint, s double, e double, iid int")
    out = interval_join(pdf, idf, key="k", point_ts="ts",
                        start_ts="s", end_ts="e", bucket_seconds=1)
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == {(0, 0), (1, 0), (2, 4)}


def test_interval_join_adaptive_bucket_default(spark):
    """bucket_seconds=None derives the bucket from the median interval
    length (one scalar agg). Results must equal the explicit-bucket run
    on a mixed short/long interval fixture, and the fan-out stays
    bounded even with one sentinel-end row in the mix."""
    import random

    from appengine_mapreduce_spark.operators.joins import interval_join

    rng = random.Random(23)
    points = [(i % 4, float(rng.randrange(0, 50_000)), i) for i in range(300)]
    ivals = []
    for j in range(80):
        s = float(rng.randrange(0, 50_000))
        length = rng.choice([30, 60, 120, 40_000])  # mixed short/long
        ivals.append((j % 4, s, s + length, j))
    ivals.append((0, 10.0, 253402300800.0, 80))  # sentinel end
    pdf = spark.createDataFrame(points, "k bigint, ts double, pid int")
    idf = spark.createDataFrame(ivals, "k bigint, s double, e double, iid int")

    adaptive = {(r.pid, r.iid) for r in interval_join(
        pdf, idf, "k", "ts", "s", "e").collect()}
    explicit = {(r.pid, r.iid) for r in interval_join(
        pdf, idf, "k", "ts", "s", "e", bucket_seconds=500).collect()}
    naive = {
        (p[2], v[3])
        for p in points for v in ivals
        if p[0] == v[0] and v[1] <= p[1] < v[2]
    }
    assert adaptive == explicit == naive and naive


def test_interval_join_empty_points_side(spark):
    from appengine_mapreduce_spark.operators.joins import interval_join

    pdf = spark.createDataFrame([], "k bigint, ts double, pid int")
    idf = spark.createDataFrame([(1, 0.0, 2.0, 0)],
                                "k bigint, s double, e double, iid int")
    assert interval_join(pdf, idf, "k", "ts", "s", "e",
                         bucket_seconds=10).count() == 0


def test_interval_join_clamp_edge_cases(spark):
    """Property coverage of the clamp path: the
    scalar-collect clamp (operators/joins.py pmin/pmax) must survive
    every degenerate input shape without error or blow-up."""
    from appengine_mapreduce_spark.operators.joins import interval_join

    sentinel = 253402300800.0

    # empty points + ADAPTIVE bucket (None): the median agg still runs
    # on intervals; pmin/pmax default to 0; result is empty
    pdf0 = spark.createDataFrame([], "k bigint, ts double, pid int")
    idf = spark.createDataFrame(
        [(1, 0.0, sentinel, 0)], "k bigint, s double, e double, iid int")
    assert interval_join(pdf0, idf, "k", "ts", "s", "e").count() == 0

    # empty INTERVALS side + adaptive bucket: median is NULL -> 3600
    # fallback; empty result, no error
    pdf = spark.createDataFrame(
        [(1, 5.0, 0)], "k bigint, ts double, pid int")
    idf0 = spark.createDataFrame([], "k bigint, s double, e double, iid int")
    assert interval_join(pdf, idf0, "k", "ts", "s", "e").count() == 0

    # ALL-sentinel intervals + adaptive bucket: the derived median is
    # astronomically large (every length ~ 2.5e11 s), which collapses
    # every interval to bucket 0 — the clamp must still produce exact
    # results, not an explosion and not a miss
    points = [(k, float(t), 10 * k + t) for k in (1, 2) for t in range(5)]
    ivals = [(1, 2.0, sentinel, 0), (1, 3.0, sentinel, 1),
             (2, 0.0, sentinel, 2), (2, -50.0, sentinel, 3)]
    got = {(r.pid, r.iid) for r in interval_join(
        spark.createDataFrame(points, "k bigint, ts double, pid int"),
        spark.createDataFrame(ivals, "k bigint, s double, e double, iid int"),
        "k", "ts", "s", "e").collect()}
    naive = {(p[2], v[3]) for p in points for v in ivals
             if p[0] == v[0] and v[1] <= p[1] < v[2]}
    assert got == naive and naive

    # single point, single zero-length interval: [s, s) matches nothing
    assert interval_join(
        spark.createDataFrame([(1, 5.0, 0)], "k bigint, ts double, pid int"),
        spark.createDataFrame([(1, 5.0, 5.0, 0)],
                              "k bigint, s double, e double, iid int"),
        "k", "ts", "s", "e").count() == 0


def test_interval_join_property_random_mixed(spark):
    """Hypothesis property: on arbitrary mixed-length fixtures — short,
    long, zero-length, inverted (end < start), far-future-sentinel and
    wholly-out-of-range intervals — the ADAPTIVE-bucket interval join
    equals the naive O(n*m) range join exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from appengine_mapreduce_spark.operators.joins import interval_join

    sentinel = 253402300800.0
    point_st = st.tuples(
        st.integers(0, 3), st.integers(-100, 100_000), st.integers())
    ival_st = st.tuples(
        st.integers(0, 3),
        st.integers(-200, 100_000),
        st.one_of(
            st.integers(0, 90_000),        # length (may be 0)
            st.just(-10),                  # inverted interval
            st.just(int(sentinel)),        # open-ended sentinel
        ),
        st.integers(),
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(point_st, max_size=40, unique_by=lambda p: p[2]),
           st.lists(ival_st, min_size=1, max_size=25,
                    unique_by=lambda v: v[3]))
    def prop(points, ivals):
        pts = [(k, float(t), i) for i, (k, t, _) in enumerate(points)]
        ivs = [(k, float(s), float(s) + ln if ln != int(sentinel)
                else sentinel, j)
               for j, (k, s, ln, _) in enumerate(ivals)]
        pdf = spark.createDataFrame(pts, "k bigint, ts double, pid int") \
            if pts else spark.createDataFrame([],
                                              "k bigint, ts double, pid int")
        idf = spark.createDataFrame(ivs,
                                    "k bigint, s double, e double, iid int")
        got = {(r.pid, r.iid) for r in interval_join(
            pdf, idf, "k", "ts", "s", "e").collect()}
        naive = {(p[2], v[3]) for p in pts for v in ivs
                 if p[0] == v[0] and v[1] <= p[1] < v[2]}
        assert got == naive

    prop()


def test_phrases_majority_maxby_equals_window_formulation(spark):
    """Randomized equivalence check for the phrases_demo rewrite: over a
    per-(phrase, source) count table, the strict-majority filter computed
    via groupBy(phrase) + sum/max/max_by must equal the window-total
    formulation row-for-row. The algebraic argument: if n*2 > total then
    n is the UNIQUE per-phrase maximum (a tie at max n means total >= 2n),
    so max_by picks exactly the majority source and tied groups never
    pass the filter."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(11)
    rows = []
    for p in range(120):
        for s in range(rng.randint(1, 5)):
            rows.append((f"p{p}", f"s{s}", rng.randint(1, 6)))
    counts = spark.createDataFrame(rows, "phrase string, source string, n long")

    total_w = F.sum("n").over(Window.partitionBy("phrase"))
    via_window = (
        counts.withColumn("total", total_w)
        .filter((F.col("total") >= 3) & (F.col("n") * 2 > F.col("total")))
        .select("phrase", "source", "n", "total")
    )
    via_maxby = (
        counts.groupBy("phrase")
        .agg(
            F.sum("n").alias("total"),
            F.max("n").alias("n"),
            F.max_by("source", "n").alias("source"),
        )
        .filter((F.col("total") >= 3) & (F.col("n") * 2 > F.col("total")))
        .select("phrase", "source", "n", "total")
    )
    a = {tuple(r) for r in via_window.collect()}
    b = {tuple(r) for r in via_maxby.collect()}
    assert a == b and len(a) > 0
