"""Statistical quality tests for the near-dup operators: MinHash must
actually estimate Jaccard, LSH must actually find planted near-duplicates,
shingles must match a naive reference implementation."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from appengine_mapreduce_spark.functions.text import word_shingles
from appengine_mapreduce_spark.operators import dedup

VOCAB = [f"w{i}" for i in range(200)]


def _doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _mutate(rng: random.Random, text: str, k: int) -> str:
    toks = text.split()
    for _ in range(k):
        toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
    return " ".join(toks)


@pytest.fixture(scope="module")
def planted(spark):
    """100 random docs + 10 planted near-dup pairs (2-word mutations)."""
    rng = random.Random(13)
    rows = [(i, _doc(rng)) for i in range(100)]
    for j in range(10):
        base_id = j * 7
        rows.append((1000 + j, _mutate(rng, rows[base_id][1], 2)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _true_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = [x for x in t.split() if x]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_minhash_estimates_jaccard(spark, planted):
    """With 64 hashes, |estimate − true jaccard| should be small for the
    planted near-dup pairs (std ≈ sqrt(j(1−j)/64) ≈ 0.06)."""
    sigs = {
        r._id: r.sig
        for r in dedup.minhash_signatures(planted, num_hashes=64).collect()
    }
    texts = {r.doc_id: r.text for r in planted.collect()}
    for j in range(10):
        a, b = j * 7, 1000 + j
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64
        true = _true_jaccard(texts[a], texts[b])
        assert abs(est - true) < 0.25, (a, b, est, true)
        assert true > 0.5  # the plant really is a near-dup


def test_lsh_finds_planted_pairs(spark, planted):
    """Every planted pair must appear among LSH candidates (16 hashes,
    8 bands of 2 ⇒ P[miss] = (1−j²)⁸ < 1% at j≈0.8)."""
    sigs = dedup.minhash_signatures(planted, num_hashes=16)
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(sigs, num_hashes=16, num_bands=8).collect()
    }
    found = sum((j * 7, 1000 + j) in pairs for j in range(10))
    assert found >= 9, f"only {found}/10 planted pairs found: {sorted(pairs)[:20]}"
    # and candidates stay sparse — nowhere near all-pairs
    assert len(pairs) < 1000


def test_word_shingles_match_naive(spark):
    rng = random.Random(3)
    rows = [(i, _doc(rng, n)) for i, n in enumerate([0, 1, 2, 3, 4, 30])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: sorted(r.s)
        for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("s")).collect()
    }
    for i, text in rows:
        toks = [x for x in text.split() if x]
        naive = sorted({" ".join(toks[k : k + 3]) for k in range(max(0, len(toks) - 2))})
        assert got[i] == naive, (i, got[i][:5], naive[:5])


def test_ngram_jaccard_doc_freq_cap(spark):
    """A boilerplate prefix shared by every doc must not blow up the exact
    Jaccard self-join: with the stop-shingle cut (max_doc_freq) the
    boilerplate shingles are dropped before pairing, so the pair count
    stays near zero; without it every one of the C(120,2) pairs
    materializes through the join (the quadratic fan-out the cut
    exists to stop)."""
    rng = random.Random(7)
    boiler = "copyright notice all rights reserved by the company"
    rows = [(i, boiler + " " + _doc(rng)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = dedup.ngram_jaccard_pairs(
        df, threshold=0.01, max_doc_freq=None
    ).count()
    assert uncapped == 120 * 119 // 2  # boilerplate forces all-pairs

    capped = dedup.ngram_jaccard_pairs(
        df, threshold=0.01, max_doc_freq=50
    ).count()
    assert capped < 500  # only genuine (random) overlap survives


def test_ngram_jaccard_cap_keeps_true_jaccard_semantics(spark):
    """With the cut active, jaccard is still a true Jaccard — over the
    reduced shingle universe (boilerplate removed from sizes too)."""
    boiler = "copyright notice all rights reserved by the company"
    a = boiler + " alpha beta gamma delta epsilon zeta"
    b = boiler + " alpha beta gamma delta nine ten"
    filler = [(i + 10, boiler + f" unique{i} filler{i} words{i} here{i}") for i in range(60)]
    df = spark.createDataFrame(
        [(0, a), (1, b)] + filler, "doc_id bigint, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.05, max_doc_freq=50
        ).collect()
    }
    # Expected: shingles of a/b with any boilerplate-internal shingle (DF=62)
    # removed; transition + tail shingles (DF 1-2) survive.
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    from collections import Counter

    dfreq = Counter()
    texts = {0: a, 1: b, **{i: t for i, t in filler}}
    for t in texts.values():
        for s in sh(t):
            dfreq[s] += 1
    ka = {s for s in sh(a) if dfreq[s] <= 50}
    kb = {s for s in sh(b) if dfreq[s] <= 50}
    expected = len(ka & kb) / len(ka | kb)
    assert (0, 1) in got
    assert abs(got[(0, 1)] - expected) < 1e-6, (got[(0, 1)], expected)


# ---------------------------------------------------------------------------
# Exact substring-level dedup: planted-boilerplate recall.


_LICENSE = (
    "permission is hereby granted free of charge to any person "
    "obtaining a copy of this software to deal without restriction"
)  # 20 tokens


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """30 docs of unique random text; docs 0-9 carry the 20-token license
    verbatim starting at token 10; docs 20-29 additionally share a
    11-token footer at the very end."""
    rng = random.Random(7)
    footer = "generated by the example corpus tool all rights reserved to nobody"
    rows = []
    for i in range(30):
        toks = _doc(rng, 40).split()
        if i < 10:
            toks = toks[:10] + _LICENSE.split() + toks[10:]
        if i >= 20:
            toks = toks + footer.split()
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_substring_spans_planted_recall(spark, boilerplate_docs):
    """Every planted doc must report a span covering the full license
    (window merge: 13 overlapping 8-gram hits -> ONE maximal span), and
    no span may land in docs 10-19 (unique text only)."""
    from appengine_mapreduce_spark.operators import dedup

    # spans per doc collected as LISTS (a dict comprehension
    # keyed by doc_id silently keeps only the last span if a chance
    # vocab repeat ever yields a second one) — assert on the span that
    # actually covers the planted license.
    spans: dict = {}
    for r in dedup.repeated_substring_spans(
        boilerplate_docs, k=8, min_docs=2
    ).filter("doc_id < 20").collect():
        spans.setdefault(r.doc_id, []).append((r.start_token, r.span_tokens))
    for i in range(10):
        assert i in spans, f"doc {i}: planted license not flagged"
        covering = [
            (start, n) for start, n in spans[i]
            if start <= 10 and start + n >= 30
        ]
        # the license occupies tokens [10, 30); exactly one span covers it
        assert len(covering) == 1, (i, spans[i])
        start, n = covering[0]
        # and not leak far into the unique text (merge slack < k each side)
        assert start > 10 - 8 and start + n < 30 + 8, (i, start, n)
    for i in range(10, 20):
        assert i not in spans, f"doc {i}: false-positive span {spans.get(i)}"


def test_substring_spans_multiple_per_doc(spark, boilerplate_docs):
    """Docs 20-29 share only the 11-token footer; it must be flagged as
    its own span at the document tail."""
    from appengine_mapreduce_spark.operators import dedup

    rows = dedup.repeated_substring_spans(
        boilerplate_docs, k=8, min_docs=2
    ).filter("doc_id >= 20").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.start_token, r.span_tokens))
    for i in range(20, 30):
        assert i in by_doc, f"doc {i}: footer not flagged"
        (start, n), = by_doc[i]
        assert start + n == 51 and n >= 11, (i, start, n)  # 40 body + 11 footer


def test_strip_repeated_substrings(spark, boilerplate_docs):
    """Stripping removes exactly the flagged spans: planted docs lose the
    license tokens, clean docs keep every token (text re-joined
    single-spaced)."""
    from appengine_mapreduce_spark.operators import dedup

    out = {
        r.doc_id: r
        for r in dedup.strip_repeated_substrings(
            boilerplate_docs, k=8, min_docs=2
        ).collect()
    }
    originals = {r.doc_id: r.text for r in boilerplate_docs.collect()}
    for i in range(10):
        r = out[i]
        assert r.n_tokens_before == 60
        # the 20 license tokens go; a boundary window repeating by chance
        # (the random vocab is small, so the word right next to the
        # license can coincide between two planted docs) may extend the
        # span by at most k-1 = 7 tokens per side
        assert 26 <= r.n_tokens_after <= 40
        assert _LICENSE not in r.cleaned_text
    for i in range(10, 20):
        r = out[i]
        assert r.cleaned_text == originals[i]
        assert r.n_tokens_after == r.n_tokens_before == 40


def test_strip_spans_shuffle_fallback_same_answer(spark, boilerplate_docs):
    """broadcast_spans=False (the escape hatch for span
    tables past the 8 GB broadcast cap) must produce the identical
    answer with NO broadcast of the span side — the join degrades to a
    doc-keyed shuffle instead of failing outright at the extreme."""
    from appengine_mapreduce_spark.operators import dedup

    hinted = dedup.strip_repeated_substrings(
        boilerplate_docs, k=8, min_docs=2
    )
    plain = dedup.strip_repeated_substrings(
        boilerplate_docs, k=8, min_docs=2, broadcast_spans=False
    )
    # ResolvedHint only appears in the analyzed plan when the hint is on
    # (AQE may still CHOOSE broadcast for a small side — the flag removes
    # the unconditional FORCE, which is what breaks at the 8 GB cap)
    hinted_plan = hinted._jdf.queryExecution().analyzed().toString()
    plain_plan = plain._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint (strategy=broadcast)" in hinted_plan
    assert "ResolvedHint" not in plain_plan
    a = sorted(map(tuple, hinted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_substring_spans_edge_cases(spark):
    """Degenerate inputs: docs shorter than k yield no positions (and no
    error); an empty corpus yields an empty span table; identical docs
    flag their full token range as one span; k < 2 is rejected."""
    from appengine_mapreduce_spark.operators import dedup

    # all docs shorter than k -> no shingles -> no spans
    short = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "")],
        "doc_id int, text string",
    )
    assert dedup.repeated_substring_spans(short, k=8).count() == 0
    # strip on the same corpus: nothing removed, counts intact
    rows = {r.doc_id: r for r in dedup.strip_repeated_substrings(
        short, k=8).collect()}
    assert rows[0].cleaned_text == "a b c" and rows[0].n_tokens_after == 3
    assert rows[2].cleaned_text == "" and rows[2].n_tokens_before == 0

    # identical docs: one maximal span covering every position
    same = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10") for i in range(3)],
        "doc_id int, text string",
    )
    spans = dedup.repeated_substring_spans(same, k=8).collect()
    assert len(spans) == 3
    for r in spans:
        assert (r.span_id, r.start_token, r.span_tokens) == (1, 0, 10)

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        dedup.repeated_substring_spans(same, k=1)


# ---------------------------------------------------------------------------
# Incremental substring dedup: new-batch spans vs a persisted
# history k-gram digest store.


def test_substring_incremental_planted_recall(spark):
    """A new batch probed against a history digest store: every new doc
    carrying history boilerplate reports a span covering it; clean new
    docs report nothing; a segment shared only WITHIN the batch (never
    seen by history) is NOT flagged — incremental semantics are history
    overlap only."""
    rng = random.Random(23)
    lic = _LICENSE.split()  # 20 tokens
    hist_rows = []
    for i in range(5):
        toks = _doc(rng, 40).split()
        hist_rows.append((i, " ".join(toks[:10] + lic + toks[10:])))
    batch_only = _doc(rng, 12)  # shared between docs 110/111 only
    new_rows = []
    for i in range(100, 105):  # planted: license at token 5
        toks = _doc(rng, 40).split()
        new_rows.append((i, " ".join(toks[:5] + lic + toks[5:])))
    for i in range(105, 110):  # clean
        new_rows.append((i, _doc(rng, 40)))
    for i in (110, 111):  # batch-internal repeat, absent from history
        new_rows.append((i, _doc(rng, 20) + " " + batch_only))
    history = spark.createDataFrame(hist_rows, "doc_id int, text string")
    batch = spark.createDataFrame(new_rows, "doc_id int, text string")

    store = dedup.substring_digest_store(history, k=8)
    by_doc: dict = {}
    for r in dedup.repeated_substring_spans_incremental(
        batch, store, k=8
    ).collect():
        by_doc.setdefault(r.doc_id, []).append((r.start_token, r.span_tokens))
    for i in range(100, 105):
        assert i in by_doc, f"doc {i}: history boilerplate not flagged"
        covering = [
            (s, n) for s, n in by_doc[i] if s <= 5 and s + n >= 25
        ]
        assert len(covering) == 1, (i, by_doc[i])
        s, n = covering[0]
        assert s > 5 - 8 and s + n < 25 + 8, (i, s, n)
    for i in list(range(105, 110)) + [110, 111]:
        assert i not in by_doc, f"doc {i}: false positive {by_doc.get(i)}"

    # The incremental STRIP composes the same spans with the shared
    # strip back end: planted docs lose the license (never reproducible
    # from the cleaned text), clean docs pass through token-normalized,
    # and the batch-internal repeat survives untouched.
    stripped = {
        r.doc_id: r
        for r in dedup.strip_repeated_substrings_incremental(
            batch, store, k=8
        ).collect()
    }
    originals = {i: t for i, t in new_rows}
    for i in range(100, 105):
        r = stripped[i]
        assert r.n_tokens_before == 60
        assert _LICENSE not in r.cleaned_text
        assert r.n_tokens_after <= 60 - 20
    for i in list(range(105, 110)) + [110, 111]:
        r = stripped[i]
        assert r.cleaned_text == originals[i]
        assert r.n_tokens_after == r.n_tokens_before


def _brute_strip(texts: dict, k: int, min_docs: int) -> dict:
    """Pure-Python reference for strip_repeated_substrings: mark every
    token covered by ANY k-gram window appearing in >= min_docs distinct
    docs, drop marked tokens, re-join single-spaced."""
    from collections import defaultdict

    toks = {i: [t for t in text.split() if t] for i, text in texts.items()}
    docs_per_gram = defaultdict(set)
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            docs_per_gram[tuple(tk[p : p + k])].add(i)
    out = {}
    for i, tk in toks.items():
        covered = [False] * len(tk)
        for p in range(len(tk) - k + 1):
            if len(docs_per_gram[tuple(tk[p : p + k])]) >= min_docs:
                covered[p : p + k] = [True] * k
        kept = [t for t, c in zip(tk, covered) if not c]
        out[i] = (" ".join(kept), len(tk), len(kept))
    return out


def test_strip_repeated_substrings_property(spark):
    """Randomized equivalence vs the brute-force reference: tiny vocab +
    short docs force chance k-gram repeats — overlapping spans, spans at
    document edges, adjacent-window merges —
    and the Spark span-merge arithmetic must reproduce the naive
    cover-and-drop exactly (cleaned text AND both token counts)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    vocab = [f"v{i}" for i in range(6)]  # tiny: repeats are common
    doc_st = st.lists(st.sampled_from(vocab), min_size=0, max_size=24).map(
        " ".join
    )

    @settings(max_examples=10, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(docs=st.lists(doc_st, min_size=2, max_size=8), seed=st.integers(0, 9))
    def check(docs, seed):
        # plant one shared span across the first two docs so every run
        # exercises the merge path, at a seed-chosen offset (edges incl.)
        rng = random.Random(seed)
        planted = " ".join(rng.choice(vocab) for _ in range(7))
        docs = list(docs)
        for j in (0, 1):
            tk = docs[j].split()
            at = rng.randrange(len(tk) + 1)
            docs[j] = " ".join(tk[:at] + planted.split() + tk[at:])
        texts = {i: t for i, t in enumerate(docs)}
        expected = _brute_strip(texts, k=3, min_docs=2)
        df = spark.createDataFrame(
            list(texts.items()), "doc_id int, text string"
        )
        got = {
            r.doc_id: (r.cleaned_text, r.n_tokens_before, r.n_tokens_after)
            for r in dedup.strip_repeated_substrings(
                df, k=3, min_docs=2
            ).collect()
        }
        assert got == expected

    check()
