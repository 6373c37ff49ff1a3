"""Similarity-search operator tests: exact top-k, IVF multi-probe recall
monotonicity, and sign-LSH probe behavior on the embeddings fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from appengine_mapreduce_spark.operators.similarity import (
    brute_force_topk,
    ivf_probe_topk,
    sign_lsh_topk,
)
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def query_vec(emb):
    # A mid-corpus vector: not a list representative (those are min-id per
    # label), so probe selection is a genuine nearest-representative search.
    row = emb.filter(F.col("vec_id") == 137).select("embedding").first()
    return [float(x) for x in row[0]]


def test_brute_force_topk_is_exact(emb, query_vec):
    got = brute_force_topk(emb, query_vec, k=5).collect()
    assert len(got) == 5
    # top hit is the query vector itself (cosine 1.0)
    assert got[0].vec_id == 137 and got[0].cosine == pytest.approx(1.0)
    # scores descend
    scores = [r.cosine for r in got]
    assert scores == sorted(scores, reverse=True)


def test_ivf_multiprobe_recall_monotone(emb, query_vec):
    """The whole point of multi-probe: recall vs exact brute force is
    non-decreasing in the number of probed lists, and probing every list
    degenerates to the exact answer."""
    k = 10
    truth = {r.vec_id for r in brute_force_topk(emb, query_vec, k=k).collect()}
    n_lists = emb.select("label").distinct().count()

    recalls = []
    for p in (1, 2, 4, n_lists):
        got = {r.vec_id for r in ivf_probe_topk(emb, query_vec, n_probes=p, k=k).collect()}
        recalls.append(len(got & truth) / k)
    assert recalls == sorted(recalls), recalls  # monotone non-decreasing
    assert recalls[-1] == 1.0, recalls  # p = n_lists ⇒ exact
    assert recalls[0] > 0.0, recalls  # nearest list is never empty of hits


def test_ivf_probe_reads_only_probed_lists(emb, query_vec):
    """Scale property: the probed scan must filter on the chosen list ids
    (partition-prunable on a bucketed corpus), not scan the corpus."""
    df = ivf_probe_topk(emb, query_vec, n_probes=2, k=10)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "label" in plan and ("IN" in plan or "isin" in plan.lower()), plan


def test_sign_lsh_topk_subset_of_bucket(emb, query_vec):
    got = sign_lsh_topk(emb, query_vec, k=10, num_bits=4).collect()
    # every hit shares the query's 4-bit sign bucket
    q_bucket = sum(1 << i for i in range(4) if query_vec[i] >= 0)
    ids = [r.vec_id for r in got]
    rows = emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding").collect()
    for r in rows:
        b = sum(1 << i for i in range(4) if float(r.embedding[i]) >= 0)
        assert b == q_bucket, (r.vec_id, b, q_bucket)


def test_batch_ann_topk_contract(emb):
    """Every query's neighbor list: self ranks first (cosine 1.0), all
    hits share the query's sign bucket, ≤ k rows per query."""
    from appengine_mapreduce_spark.operators.similarity import (
        sign_lsh_batch_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = sign_lsh_batch_topk(emb, queries, k=3, num_bits=6).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.select("vec_id", "embedding").collect()}

    def bucket(v):
        return sum(1 << i for i in range(6) if v[i] >= 0)

    for qid, hits in by_q.items():
        assert len(hits) <= 3
        best = max(hits, key=lambda r: (r.cosine, -r.vec_id))
        assert best.vec_id == qid and best.cosine == pytest.approx(1.0)
        for h in hits:
            assert bucket(vecs[h.vec_id]) == bucket(vecs[qid])


def test_sq8_recall_and_code_range(emb, query_vec):
    """SQ8 quantized top-k: codes stay in [0, 255], reconstruction error is
    bounded by half a quantization step per dimension, and recall@10 vs
    exact brute force is high (64-dim vectors lose little to 8-bit scalar
    quantization)."""
    from appengine_mapreduce_spark.operators.similarity import (
        sq8_adc_topk,
        sq8_encode,
        sq8_stats,
    )

    stats = sq8_stats(emb)
    srow = stats.collect()[0]
    encoded = sq8_encode(emb, stats)
    enc_rows = encoded.limit(50).collect()
    for r in enc_rows:
        assert all(0 <= c <= 255 for c in r.codes), r.codes
        # reconstruction is within one quantization step of the original
        orig = {
            v.vec_id: [float(x) for x in v.embedding]
            for v in emb.filter(F.col("vec_id") == r.vec_id).collect()
        }[r.vec_id]
        for d, c in enumerate(r.codes):
            rng = srow.mx_arr[d] - srow.mn_arr[d]
            recon = srow.mn_arr[d] + c * rng / 255.0
            assert abs(recon - orig[d]) <= rng / 255.0 + 1e-9

    truth = {r.vec_id for r in brute_force_topk(emb, query_vec, k=10).collect()}
    got = {r.vec_id for r in sq8_adc_topk(encoded, query_vec, k=10).collect()}
    recall = len(got & truth) / 10
    assert recall >= 0.7, (recall, got, truth)


def test_hard_negative_topk_excludes_positives_and_matches_bruteforce(emb):
    """Hard-negative mining contract: no positive (nor the query itself)
    ever appears in the output; ranks are 1..k per query by descending
    cosine; and within each query's sign bucket the chosen negatives ARE
    the brute-force top-k non-positives (the bucket join loses no
    candidate inside the bucket)."""
    from appengine_mapreduce_spark.operators.similarity import (
        hard_negative_topk,
        sign_bucket,
    )
    from appengine_mapreduce_spark.functions.vectors import cosine_similarity

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # positives: the query itself + every same-label vector
    positives = (
        emb.join(
            emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("_ql"),
            ),
            F.col("label") == F.col("_ql"),
        ).select("query_id", "vec_id")
    )
    pos_set = {(r.query_id, r.vec_id) for r in positives.collect()}
    rows = hard_negative_topk(emb, queries, positives, k=3, num_bits=6).collect()

    by_q: dict = {}
    for r in rows:
        assert (r.query_id, r.vec_id) not in pos_set, r
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for qid, hits in by_q.items():
        hits.sort(key=lambda r: r.rank)
        assert [h.rank for h in hits] == list(range(1, len(hits) + 1))
        scores = [h.cosine for h in hits]
        assert scores == sorted(scores, reverse=True)

    # brute-force within-bucket check for query 0
    q0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    qv = F.array(*[F.lit(float(x)) for x in q0])
    b0 = emb.filter(F.col("vec_id") == 0).select(
        sign_bucket(F.col("embedding"), 6).alias("b")
    ).first().b
    in_bucket = emb.filter(sign_bucket(F.col("embedding"), 6) == b0).select(
        "vec_id", F.round(cosine_similarity(F.col("embedding"), qv), 6).alias("c")
    ).collect()
    cands = sorted(
        (r for r in in_bucket if (0, r.vec_id) not in pos_set),
        key=lambda r: (-r.c, r.vec_id),
    )[:3]
    expect = [(r.vec_id, r.c) for r in cands]
    got = [(h.vec_id, h.cosine) for h in sorted(by_q.get(0, []), key=lambda r: r.rank)]
    assert got == expect, (got, expect)


def test_two_sided_adaptive_bucket_bounds_hot_buckets(spark):
    """Planted-hot-bucket test: a base bucket holding
    200 corpus rows (max_bucket_size=20) must sub-split into extended
    buckets of bounded size; a cold bucket must keep its base id; and the
    corpus-driven hot set must apply identically to the QUERY side, so a
    query that agrees with a corpus vector on every sign bit cohabits
    with it after the split — the property that keeps recall while
    bounding per-bucket join blocks to ~max(bucket)/2^extra_bits."""
    from appengine_mapreduce_spark.operators.similarity import (
        sign_lsh_batch_topk,
        two_sided_adaptive_bucket,
    )

    dim = 12
    rows = []
    # hot bucket: first 6 coords positive (base bucket 63); coords 7..10
    # cycle deterministically through all 16 sign patterns -> the 4 extra
    # bits split the 200 rows into exactly 12-13 per extended bucket.
    for i in range(200):
        pat = i % 16
        v = [1.0 + (i % 7) * 0.01] * 6
        v += [(1.0 if (pat >> j) & 1 else -1.0) for j in range(4)]
        v += [0.5] * (dim - 10)
        rows.append((i, v))
    # planted near-dup pair inside the hot bucket: ids 500/501, identical
    # signs, cosine ~1
    twin = [2.0] * 6 + [1.0, -1.0, 1.0, -1.0] + [0.25] * (dim - 10)
    rows.append((500, twin))
    rows.append((501, [x * 1.001 for x in twin]))
    # cold bucket: first coord negative, only 5 rows
    for i in range(600, 605):
        rows.append((i, [-1.0] + [1.0] * (dim - 1)))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(9500, twin), (9600, [-1.0] + [1.0] * (dim - 1))],
        "query_id long, embedding array<double>",
    )

    cb, qb = two_sided_adaptive_bucket(
        corpus, queries.select("query_id", F.col("embedding").alias("_qv")),
        base_bits=6, extra_bits=4, max_bucket_size=20,
        corpus_vec_col="embedding", query_vec_col="_qv",
    )
    sizes = {r._b: r.n for r in
             cb.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the 202-row hot base bucket is gone; every extended piece is small
    assert max(sizes.values()) <= 20, sizes
    # extended ids carry the 2^10 offset; the cold bucket keeps base id
    cold_b = [r._b for r in qb.filter("query_id = 9600").collect()][0]
    assert cold_b < (1 << 10)
    assert sizes[cold_b] == 5
    # cohabitation: the twin query lands in the same extended bucket as
    # both planted corpus twins
    twin_qb = [r._b for r in qb.filter("query_id = 9500").collect()][0]
    assert twin_qb >= (1 << 10)
    twin_cb = {r._b for r in cb.filter("vec_id IN (500, 501)").collect()}
    assert twin_cb == {twin_qb}

    # end-to-end: adaptive batch ANN still finds the planted twins
    hits = sign_lsh_batch_topk(
        corpus, queries, k=2, num_bits=6, extra_bits=4, max_bucket_size=20
    ).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r.query_id, []).append(r)
    twin_hits = sorted(by_q[9500], key=lambda r: -r.cosine)
    assert {h.vec_id for h in twin_hits} == {500, 501}
    assert twin_hits[0].cosine == pytest.approx(1.0, abs=1e-4)

    # DEFAULT path (adaptive is the default — extra_bits=4,
    # max_bucket_size=64): the 202-row hot bucket exceeds
    # the default bound too, so calling with NO bucketing args must
    # sub-split (bounded buckets) AND still find the planted twins.
    cb_d, qb_d = two_sided_adaptive_bucket(
        corpus, queries.select("query_id", F.col("embedding").alias("_qv")),
        base_bits=6, extra_bits=4, max_bucket_size=64,
        corpus_vec_col="embedding", query_vec_col="_qv",
    )
    d_sizes = [r.n for r in
               cb_d.groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert max(d_sizes) <= 64, d_sizes
    d_hits = sign_lsh_batch_topk(corpus, queries, k=2, num_bits=6).collect()
    d_by_q = {}
    for r in d_hits:
        d_by_q.setdefault(r.query_id, []).append(r)
    assert {h.vec_id for h in d_by_q[9500]} == {500, 501}


def test_two_sided_adaptive_bucket_cohabitation_property(spark):
    """Formal contract on random data (depth-adaptive splitting):
    for ANY (corpus row, query) pair, same bucket ⟺ (same base bits AND
    same first base+k(c) bits), where k(c) is the smallest depth with
    the base bucket's corpus count c <= max_bucket_size * 2^k (capped
    at extra_bits; k=0 for cold buckets). In particular pairs that
    agree on every sign bit ALWAYS cohabit, and pairs differing in a
    base bit NEVER meet — the recall floor and the candidate bound
    respectively."""
    import random

    from appengine_mapreduce_spark.operators.similarity import (
        two_sided_adaptive_bucket,
    )

    rng = random.Random(7)
    dim, base, extra, maxb = 12, 4, 3, 6
    corpus_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)
    ]
    query_rows = [
        (1000 + i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(30)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        query_rows, "query_id long, _qv array<double>")
    cb, qb = two_sided_adaptive_bucket(
        corpus, queries, base_bits=base, extra_bits=extra,
        max_bucket_size=maxb, corpus_vec_col="embedding",
        query_vec_col="_qv",
    )
    c = {r.vec_id: r._b for r in cb.collect()}
    q = {r.query_id: r._b for r in qb.collect()}

    def bits(v, n):
        return tuple(x >= 0 for x in v[:n])

    base_counts: dict = {}
    for _, v in corpus_rows:
        base_counts[bits(v, base)] = base_counts.get(bits(v, base), 0) + 1

    def depth(b0bits) -> int:
        cnt = base_counts.get(b0bits, 0)
        for k in range(0, extra + 1):
            if cnt <= maxb * (1 << k):
                return k
        return extra

    for qid, qv in query_rows:
        for cid, cv in corpus_rows:
            same_base = bits(qv, base) == bits(cv, base)
            k = depth(bits(cv, base))
            same_refined = bits(qv, base + k) == bits(cv, base + k)
            expected = same_base and same_refined
            assert (q[qid] == c[cid]) == expected, (qid, cid)
    # every COLD (base-id) bucket respects the bound by construction;
    # split buckets are fully pinned by the pairwise equivalence above
    # (their occupancy depends on how the data distributes over the
    # added sign bits — uniform in expectation, unbounded adversarially)
    from collections import Counter

    for b, n in Counter(c.values()).items():
        if b >= (1 << base):
            continue  # split bucket (some depth k >= 1)
        assert n <= maxb, (b, n)


def test_bucket_both_sides_rejects_half_specified_adaptive(spark):
    """Silently falling back to fixed buckets when only one of
    extra_bits/max_bucket_size is given would reintroduce the
    corpus-scale quadratic; the pair must be all-or-nothing."""
    from appengine_mapreduce_spark.operators.similarity import (
        sign_lsh_batch_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 0.9])],
        "vec_id long, embedding array<double>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    # defaults are ADAPTIVE; overriding only half the pair
    # toward fixed must raise, both directions
    with pytest.raises(ValueError, match="extra_bits"):
        sign_lsh_batch_topk(df, q, extra_bits=0)
    with pytest.raises(ValueError, match="extra_bits"):
        sign_lsh_batch_topk(df, q, max_bucket_size=None)
    # explicit full fixed-bucket opt-out still works
    assert sign_lsh_batch_topk(
        df, q, num_bits=2, extra_bits=0, max_bucket_size=None
    ).count() > 0
