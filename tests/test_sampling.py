"""Deterministic sampling / split / profiling tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from appengine_mapreduce_spark.operators.sampling import (
    deterministic_sample,
    pack_by_token_budget,
    profile_table,
    stratified_sample,
    train_test_split,
)


def test_sample_reproducible_and_partition_independent(spark):
    df1 = spark.range(0, 10000, 1, 4).select(F.col("id"))
    df32 = spark.range(0, 10000, 1, 32).select(F.col("id"))
    s1 = {r.id for r in deterministic_sample(df1, "id", 0.2).collect()}
    s2 = {r.id for r in deterministic_sample(df32, "id", 0.2).collect()}
    assert s1 == s2  # partitioning-independent membership
    assert 0.15 < len(s1) / 10000 < 0.25  # ~20%


def test_train_test_split_disjoint_exhaustive(spark):
    df = spark.range(0, 5000).select(F.col("id"))
    train, test = train_test_split(df, "id", test_fraction=0.25)
    tr = {r.id for r in train.collect()}
    te = {r.id for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == 5000
    assert 0.20 < len(te) / 5000 < 0.30
    # different salt ⇒ different split
    _, te2 = train_test_split(df, "id", test_fraction=0.25, salt="other")
    assert te != {r.id for r in te2.collect()}


def test_profile_table(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (None, "a")],
        "x bigint, s string",
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["x"].n_nulls == 1 and prof["x"].n_distinct == 3
    assert prof["x"].min_s == "1" and prof["x"].max_s == "3"
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_s == "a" and prof["s"].max_s == "b"


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(10000)]
    df = spark.createDataFrame(rows, "id bigint, stratum string")
    picked = stratified_sample(
        df, key="id", strata_col="stratum", fractions={"a": 0.5, "b": 0.05}
    )
    by_stratum = {
        r.stratum: r.n
        for r in picked.groupBy("stratum").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.45 * 5000 < by_stratum["a"] < 0.55 * 5000
    assert 0.03 * 5000 < by_stratum["b"] < 0.07 * 5000
    # deterministic: same call, same membership, any partitioning
    again = stratified_sample(
        df.repartition(17), key="id", strata_col="stratum",
        fractions={"a": 0.5, "b": 0.05},
    )
    assert {r.id for r in picked.collect()} == {r.id for r in again.collect()}
    # unlisted strata get default_fraction (0 = dropped)
    extra = spark.createDataFrame([(99999, "c")], "id bigint, stratum string")
    got = stratified_sample(
        df.union(extra), key="id", strata_col="stratum",
        fractions={"a": 0.5, "b": 0.05},
    )
    assert got.filter(F.col("stratum") == "c").count() == 0


def test_pack_by_token_budget_bins(spark):
    # 10 docs of 300 tokens each, budget 1000. Cumulative-before offsets are
    # 0,300,...,2700; bin = floor(offset/1000) → docs 0-3 in bin 0 (offsets
    # 0..900), docs 4-6 in bin 1, docs 7-9 in bin 2.
    rows = [(i, "g", 300) for i in range(10)]
    df = spark.createDataFrame(rows, "id bigint, grp string, toks bigint")
    binned = pack_by_token_budget(
        df, tokens_col="toks", budget=1000, order_col="id", partition_col="grp"
    ).collect()
    bins = {}
    for r in binned:
        bins.setdefault(r.bin, []).append(r.id)
    assert {b: sorted(ids) for b, ids in bins.items()} == {
        0: [0, 1, 2, 3], 1: [4, 5, 6], 2: [7, 8, 9]
    }
    # order preserved: bin ids are non-decreasing in id order
    by_id = sorted(binned, key=lambda r: r.id)
    bin_seq = [r.bin for r in by_id]
    assert bin_seq == sorted(bin_seq)


def test_pack_by_token_budget_sharded_semantics(spark):
    """Sharded packing: rows route to
    pmod(md5-hash('pack:' || order_key), K) shards, each (grp, shard)
    stream packs independently in order_col order, and the composite
    bin id decomposes as shard * 2^40 + local_bin. Verified against an
    independent pure-Python replay of the exact same contract."""
    import hashlib

    from appengine_mapreduce_spark.operators.sampling import (
        PACK_SHARD_STRIDE,
        pack_by_token_budget,
    )

    K, budget = 4, 1000
    rows = [(i, "g", 137 + (i * 53) % 400) for i in range(40)]
    df = spark.createDataFrame(rows, "id bigint, grp string, toks bigint")
    got = pack_by_token_budget(
        df, tokens_col="toks", budget=budget, order_col="id",
        partition_col="grp", shards=K,
    ).collect()

    def shard_of(key: str) -> int:
        return int(hashlib.md5(f"pack:{key}".encode()).hexdigest()[:8], 16) % K

    # independent replay: per-shard running pack over rows in id order
    running: dict[int, int] = {}
    expect: dict[int, tuple[int, int]] = {}
    for i, _, toks in rows:
        s = shard_of(str(i))
        before = running.get(s, 0)
        expect[i] = (s, s * PACK_SHARD_STRIDE + before // budget)
        running[s] = before + toks

    assert len(set(s for s, _ in expect.values())) > 1, (
        "fixture must occupy multiple shards for the test to mean anything"
    )
    for r in got:
        s, b = expect[r.id]
        assert r._pack_shard == s, (r.id, r._pack_shard, s)
        assert r.bin == b, (r.id, r.bin, b)
        # composite decomposition
        assert r.bin // PACK_SHARD_STRIDE == s
        assert r.bin % PACK_SHARD_STRIDE == b % PACK_SHARD_STRIDE


def test_pack_by_token_budget_sharded_rejects_bad_shards(spark):
    import pytest as _pytest

    from appengine_mapreduce_spark.operators.sampling import (
        pack_by_token_budget,
    )

    df = spark.createDataFrame([(1, "g", 10)], "id bigint, grp string, toks bigint")
    with _pytest.raises(ValueError):
        pack_by_token_budget(
            df, tokens_col="toks", budget=10, order_col="id",
            partition_col="grp", shards=0,
        )


def test_ngram_contamination_planted(spark):
    from appengine_mapreduce_spark.operators.text_analysis import (
        ngram_contamination,
    )

    eval_set = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "noise alpha beta gamma delta epsilon more noise"),  # shares 1 5-gram
            (11, "completely unrelated words here none shared at all"),
            (12, "alpha beta gamma delta epsilon zeta exact prefix"),  # shares 2
            (13, "short text"),  # < n tokens
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.n_shared_ngrams
           for r in ngram_contamination(train, eval_set, n=5).collect()}
    assert got == {10: 1, 12: 2}


def test_pack_by_token_budget_invariants_property(spark):
    """Random token sizes: bins are contiguous in order, non-decreasing,
    and no bin's tokens-before-its-last-doc reach the budget (each bin
    overshoots by at most its final document)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(sizes=st.lists(st.integers(1, 700), min_size=1, max_size=40),
           budget=st.integers(100, 1500))
    def check(sizes, budget):
        rows = [(i, "g", s) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(rows, "id bigint, grp string, toks bigint")
        from appengine_mapreduce_spark.operators.sampling import (
            pack_by_token_budget,
        )

        got = sorted(pack_by_token_budget(
            df, tokens_col="toks", budget=budget,
            order_col="id", partition_col="grp").collect(),
            key=lambda r: r.id)
        bins = [r.bin for r in got]
        assert bins == sorted(bins)          # contiguous, non-decreasing
        assert bins[0] == 0
        # per-bin: sum of tokens before the bin's last doc < budget * (bin+1)
        running = 0
        for r in got:
            assert r.bin == running // budget
            running += r.toks

    check()


def test_mix_to_target_hits_target_distribution(spark):
    """With ample strata the achieved output mix tracks the target within
    hash noise; a stratum too small for its share caps at keeping all of
    its rows."""
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.sampling import mix_to_target

    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 100 < 90, "big")
            .when(F.col("id") % 100 < 99, "mid")
            .otherwise("tiny")
            .alias("s"),
        )
    )
    # want 50/30/20 at 10% output size; 'tiny' (1% of input) cannot supply
    # 20% of a 2000-row output -> caps at rate 1.0 (all 200 rows kept)
    mixed = mix_to_target(
        df, key="k", strata_col="s",
        target_permyriad={"big": 5000, "mid": 3000, "tiny": 2000},
        out_permyriad=1000,
    )
    got = {r.s: r.n for r in mixed.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    # targets: big 1000, mid 600 of 2000; hash cut noise ~ few %
    assert abs(got["big"] - 1000) < 150, got
    assert abs(got["mid"] - 600) < 120, got
    assert got["tiny"] == 200, got  # capped: kept everything it has

    # determinism: same call, same membership
    again = {r.s: r.n for r in mix_to_target(
        df, key="k", strata_col="s",
        target_permyriad={"big": 5000, "mid": 3000, "tiny": 2000},
        out_permyriad=1000,
    ).groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == again


def test_temperature_sample_sqrt_mix_and_budget(spark):
    """alpha=0.5 resampling: kept weight per stratum tracks
    out_frac * total * sqrt(w_s)/sum(sqrt), dominant strata downsample,
    rare strata upsample relative to their natural share, and the total
    kept weight tracks the out_permyriad budget — all within hash noise."""
    import math

    from appengine_mapreduce_spark.operators.sampling import temperature_sample

    df = (
        spark.range(0, 30_000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 100 < 90, "big")
            .when(F.col("id") % 100 < 99, "mid")
            .otherwise("tiny")
            .alias("s"),
            F.lit(10).alias("w"),
        )
    )
    kept = temperature_sample(
        df, key="k", strata_col="s", weight_col="w", out_permyriad=2500
    )
    got = {
        r.s: (r.n, r.wsum)
        for r in kept.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("wsum"))
        .collect()
    }
    w = {"big": 270_000, "mid": 27_000, "tiny": 3_000}
    sq = {s: math.floor(math.sqrt(v)) for s, v in w.items()}
    sq_tot = sum(sq.values())
    w_tot = sum(w.values())
    for s in w:
        # oversubscribed strata cap at rate 1.0 (keep everything)
        expect = min(w[s], 0.25 * w_tot * sq[s] / sq_tot)
        assert abs(got[s][1] - expect) < 0.15 * expect + 300, (s, got)
    # rare stratum's kept fraction far exceeds its natural rate; the
    # dominant one is cut below the global budget rate
    assert got["tiny"][1] == w["tiny"], got  # capped: kept all of it
    assert got["big"][1] / w["big"] < 0.25, got

    # determinism + audit column: one cut per stratum, stable re-run
    cuts = {
        r.s: r.c
        for r in kept.select("s", F.col("mix_cut").alias("c")).distinct().collect()
    }
    assert len(cuts) == 3 and all(0 < c <= 10000 for c in cuts.values()), cuts
    again = temperature_sample(
        df, key="k", strata_col="s", weight_col="w", out_permyriad=2500
    )
    assert kept.exceptAll(again).count() == 0
    assert again.exceptAll(kept).count() == 0


def test_quantile_buckets_partition_and_monotone(spark):
    """Quartile bucketing: buckets 1..4 partition the rows, sizes are
    ~n/4, and bucket boundaries are monotone (max(score in b) <=
    min(score in b+1) whenever both sides are non-tied across the cut)."""
    from appengine_mapreduce_spark.operators.sampling import quantile_buckets

    df = spark.range(0, 8_000).select(
        F.col("id"),
        ((F.col("id") * 37 % 1000) / 10.0).alias("score"),
    )
    b = quantile_buckets(df, "score")
    rows = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("score").alias("lo"),
        F.max("score").alias("hi"),
    ).orderBy("bucket").collect()
    assert [r.bucket for r in rows] == [1, 2, 3, 4], rows
    assert sum(r.n for r in rows) == 8_000
    for r in rows:
        assert abs(r.n - 2000) < 300, rows
    for a, c in zip(rows, rows[1:]):
        assert a.hi <= c.lo, rows
    # row identity is preserved (same ids in = ids out)
    assert b.select("id").distinct().count() == 8_000


def test_quantile_buckets_null_scores_get_null_bucket(spark):
    """NULL scores must come out with a NULL bucket — not silently as
    bucket 1 — and must not shift the cuts (percentile ignores nulls,
    matching DuckDB quantile_cont)."""
    from appengine_mapreduce_spark.operators.sampling import quantile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)] + [(100, None), (101, None)],
        "id long, score double",
    )
    b = quantile_buckets(df, "score")
    null_rows = b.filter(F.col("score").isNull()).collect()
    assert len(null_rows) == 2
    assert all(r.bucket is None for r in null_rows)
    # cuts unaffected: scored rows bucket exactly as a null-free input
    clean = quantile_buckets(df.filter("score IS NOT NULL"), "score")
    assert sorted((r.id, r.bucket) for r in clean.collect()) == sorted(
        (r.id, r.bucket) for r in b.filter("score IS NOT NULL").collect()
    )


def test_temperature_cut_bit_identical_to_duckdb_on_random_weights(spark):
    """Engine-portability stress for the temperature_sample rate
    arithmetic at EVERY supported alpha: over many random stratum weight
    profiles (including near-boundary and degenerate ones), the
    per-stratum acceptance cut Spark computes must equal DuckDB
    evaluating the same fixed-order double expression — the property
    the sf-level oracle MATCH relies on, checked here across far more
    weight profiles than the fixtures contain. Cuts are read from
    temperature_rates (the rates side), so EVERY stratum is compared —
    including strata whose single row the sample excludes (asserting
    only kept strata would miss those)."""
    import random

    import duckdb

    from appengine_mapreduce_spark.operators.sampling import (
        alpha_weight_sql,
        temperature_rates,
    )

    rng = random.Random(23)
    profiles = []
    for _ in range(40):
        k = rng.randint(1, 6)
        profiles.append([rng.randint(1, 10**rng.randint(0, 12)) for _ in range(k)])
    profiles += [[1], [1, 1], [10**12, 1], [3, 3, 3]]

    for alpha in (0.25, 0.5, 0.75):
        aw = alpha_weight_sql("CAST(w AS DOUBLE)", alpha)
        for weights in profiles:
            rows = [(f"s{i}", w) for i, w in enumerate(weights)]
            df = spark.createDataFrame(rows, "s string, w long")
            # one row per stratum with weight_col -> stratum weight = w
            spark_cuts = {
                r.s: r.mix_cut
                for r in temperature_rates(
                    df, "s", weight_col="w", out_permyriad=2500, alpha=alpha
                ).collect()
            }
            vals = ", ".join(f"('s{j}', {x})" for j, x in enumerate(weights))
            duck = duckdb.sql(
                "WITH per AS (SELECT s, CAST(w AS BIGINT) AS w_s, "
                f"CAST(floor({aw}) AS BIGINT) AS sq_s "
                f"FROM (VALUES {vals}) t(s, w)), "
                "tot AS (SELECT CAST(sum(w_s) AS BIGINT) w_tot, "
                "CAST(sum(sq_s) AS BIGINT) sq_tot FROM per) "
                "SELECT s, CAST(floor(least(10000.0, 2500.0 * "
                "((CAST(w_tot AS DOUBLE) / sq_tot) * sq_s) / w_s)) AS BIGINT) "
                "AS cut FROM per, tot"
            ).fetchall()
            duck_cuts = dict(duck)
            assert spark_cuts == duck_cuts, (alpha, weights)


def test_temperature_sample_drops_nonpositive_weight_strata(spark):
    """A stratum whose weight_col sums to zero (or negative) has zero
    share of any temperature mixture: it must be DROPPED entirely (no
    NaN rate, no keep-in-full surprise) and must not perturb the other
    strata's cuts (it contributes 0 to both w_tot and sq_tot either
    way)."""
    from appengine_mapreduce_spark.operators.sampling import (
        temperature_rates,
        temperature_sample,
    )

    df = spark.createDataFrame(
        [("a", 1, 400), ("a", 2, 600), ("zero", 3, 0), ("neg", 4, -5),
         ("b", 5, 100)],
        "s string, k long, w long",
    )
    rates = {r.s: r.mix_cut for r in
             temperature_rates(df, "s", weight_col="w").collect()}
    assert set(rates) == {"a", "b"}
    kept = temperature_sample(df, key="k", strata_col="s", weight_col="w",
                              out_permyriad=10000)
    assert {r.s for r in kept.collect()} <= {"a", "b"}
    # the positive strata's cuts are what a zero-free input yields
    clean = df.filter("w > 0")
    clean_rates = {r.s: r.mix_cut for r in
                   temperature_rates(clean, "s", weight_col="w").collect()}
    assert rates == clean_rates


def test_eval_contamination_report_planted(spark):
    """Reverse-direction contamination: per-EVAL-doc leak accounting
    (n_grams / n_leaked / n_train_docs / leak_fraction), including a
    fully-clean eval doc (zero row present, not omitted) and a doc
    shorter than n (no n-grams: omitted)."""
    from appengine_mapreduce_spark.operators.text_analysis import (
        eval_contamination_report,
    )

    eval_set = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),   # 2 5-grams
            (1, "one two three four five"),               # 1 5-gram, clean
            (2, "tiny"),                                  # < n tokens
        ],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "xx alpha beta gamma delta epsilon yy"),  # leaks gram 1 of doc 0
            (11, "zz alpha beta gamma delta epsilon ww"),  # same gram, 2nd doc
            (12, "nothing shared with anything here at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_leaked, r.n_train_docs, r.leak_fraction)
        for r in eval_contamination_report(train, eval_set, n=5).collect()
    }
    assert got == {
        0: (2, 1, 2, 0.5),   # 1 of 2 grams leaked, into 2 train docs
        1: (1, 0, 0, 0.0),   # clean eval doc still reported
    }


def test_epoch_repeat_counts_and_determinism(spark):
    """Epoch repetition contract: floor(e) copies per row plus a
    hash-chosen extra with probability frac(e); epoch ids are 1..n;
    0-epoch strata disappear (the sequence(1,0)-descends Spark trap is
    guarded); repeat counts are deterministic per key; and the
    fractional share lands near its target across many keys."""
    from appengine_mapreduce_spark.operators.sampling import epoch_repeat

    df = spark.createDataFrame(
        [(i, ["keep", "double", "half", "drop"][i % 4]) for i in range(4000)],
        "k long, s string",
    )
    out = epoch_repeat(
        df, key="k", strata_col="s",
        epochs_permyriad={"double": 20000, "half": 5000, "drop": 0},
        default_permyriad=10000,
    )
    rows = out.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r.k, r.s), []).append(r.epoch)
    assert all(r.s != "drop" for r in rows)
    for (k, s), epochs in by_key.items():
        assert sorted(epochs) == list(range(1, len(epochs) + 1)), (k, epochs)
        if s == "keep":
            assert len(epochs) == 1
        elif s == "double":
            assert len(epochs) == 2
        elif s == "half":
            assert len(epochs) == 1  # kept rows appear exactly once
    # fractional strata: ~half the 1000 'half' keys survive
    n_half = sum(1 for (k, s) in by_key if s == "half")
    assert 400 <= n_half <= 600, n_half
    # deterministic: same plan re-collected yields identical multiset
    again = {(r.k, r.s, r.epoch) for r in out.collect()}
    assert again == {(r.k, r.s, r.epoch) for r in rows}


def test_epoch_repeat_counts_bit_identical_to_duckdb_on_random_recipes(spark):
    """Engine-portability stress for epoch_repeat's per-key repeat
    count (integer div + md5 hash compare): over random recipes and
    keys, the (key, n) multiset Spark materializes must equal DuckDB
    evaluating the same arithmetic — the property the
    epoch_repeat_mixture oracle MATCH relies on, checked across far
    more permyriad values than the fixture recipe contains."""
    import random

    import duckdb

    from appengine_mapreduce_spark.operators.sampling import epoch_repeat

    rng = random.Random(41)
    for trial in range(5):
        strata = [f"s{j}" for j in range(rng.randint(1, 5))]
        recipe = {s: rng.choice([0, 1, 4999, 5000, 9999, 10000, 10001,
                                 25000, rng.randint(0, 40000)])
                  for s in strata}
        default = rng.choice([0, 10000, 15000])
        rows = [(i, strata[i % len(strata)] if i % 7 else "unlisted")
                for i in range(300)]
        df = spark.createDataFrame(rows, "k long, s string")
        got = {}
        out = epoch_repeat(df, key="k", strata_col="s",
                           epochs_permyriad=recipe,
                           default_permyriad=default, salt="epoch")
        for r in out.collect():
            got[r.k] = max(got.get(r.k, 0), r.epoch)
        case = " ".join(f"WHEN '{s}' THEN {p}" for s, p in recipe.items())
        vals = ", ".join(f"({k}, '{s}')" for k, s in rows)
        duck = duckdb.sql(f"""
            WITH t AS (SELECT * FROM (VALUES {vals}) v(k, s)),
            r AS (
              SELECT k, (tp // 10000) +
                     (CASE WHEN ('0x' || substr(md5('epoch:' ||
                        CAST(k AS VARCHAR)), 1, 8))::BIGINT % 10000
                        < tp % 10000 THEN 1 ELSE 0 END) AS n
              FROM (SELECT k, CASE s {case} ELSE {default} END AS tp FROM t)
            )
            SELECT k, n FROM r WHERE n >= 1
        """).fetchall()
        assert got == dict(duck), (trial, recipe, default)


def test_temperature_alpha_validated_eagerly():
    """Non-portable alphas must fail AT THE CALL SITE:
    dispatch is exact-float, so a computed 0.75000000001 — or any
    non-float type that merely compares equal, like numpy float32(0.5)
    — raises from temperature_sample/temperature_rates directly, not
    lazily from _alpha_weight inside plan construction."""
    import numpy as np
    import pytest as _pt

    from appengine_mapreduce_spark.operators.sampling import (
        _validate_alpha,
        alpha_weight_sql,
        temperature_rates,
        temperature_sample,
    )

    for bad in (0.75000000001, 0.6, 1.0, 0, np.float32(0.5),
                np.float64(0.25), "0.5", None):
        with _pt.raises(ValueError, match="not portable"):
            _validate_alpha(bad)
        with _pt.raises(ValueError, match="not portable"):
            # df arg never touched before validation -> None suffices,
            # proving the check fires before any plan is built
            temperature_sample(None, key="k", strata_col="s", alpha=bad)
        with _pt.raises(ValueError, match="not portable"):
            temperature_rates(None, strata_col="s", alpha=bad)
        with _pt.raises(ValueError, match="not portable"):
            alpha_weight_sql("w", bad)
    for ok in (0.25, 0.5, 0.75):
        _validate_alpha(ok)  # does not raise


def test_epoch_repeat_drops_internal_column(spark):
    """The DIV-staged permyriad column is implementation detail — output
    schema is input schema + epoch, nothing else."""
    from appengine_mapreduce_spark.operators.sampling import epoch_repeat

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    out = epoch_repeat(df, key="k", strata_col="s",
                       epochs_permyriad={"a": 20000})
    assert out.columns == ["k", "s", "epoch"]


def test_recipe_composition_bit_identical_to_duckdb_on_random_recipes(spark):
    """Cross-engine property test for the COMPOSED recipe pipeline
    (epoch_repeat → row_key identity → temperature_sample →
    pack_by_token_budget), the chain data_recipe_pack_stats registers
    with one fixed recipe: over random epoch recipes, alphas, budgets
    and out-shares — including dropped strata, fractional epochs and
    zero-weight rows — the per-(stratum, epoch) packing stats Spark
    materializes must equal DuckDB replaying the same arithmetic. Pins
    the composition ORDER (temperature rates measured on the
    post-repetition mass; packing over kept rows in row_key order), not
    just each stage."""
    import random

    import duckdb

    from appengine_mapreduce_spark.operators.sampling import (
        epoch_repeat,
        pack_by_token_budget,
        temperature_sample,
    )

    rng = random.Random(137)
    for trial in range(3):
        strata = [f"s{j}" for j in range(rng.randint(2, 4))]
        recipe = {s: rng.choice([0, 5000, 10000, 15000, 25000,
                                 rng.randint(0, 30000)])
                  for s in strata}
        default = rng.choice([0, 10000])
        alpha = rng.choice([0.25, 0.5, 0.75])
        out_pm = rng.choice([2500, 6000, 9000])
        budget = rng.choice([64, 256, 1024])
        rows = [(i, strata[i % len(strata)] if i % 5 else "unlisted",
                 rng.randint(0, 40))
                for i in range(250)]
        df = spark.createDataFrame(rows, "k long, s string, w int")

        rep = epoch_repeat(df, key="k", strata_col="s",
                           epochs_permyriad=recipe,
                           default_permyriad=default, salt="rcp")
        keyed = rep.withColumn(
            "row_key",
            F.concat(F.lpad(F.col("k").cast("string"), 12, "0"),
                     F.lit(":"), F.col("epoch").cast("string")))
        kept = temperature_sample(
            keyed, key="row_key", strata_col="s", weight_col="w",
            out_permyriad=out_pm, salt="rcpt", alpha=alpha)
        packed = pack_by_token_budget(
            kept, tokens_col="w", budget=budget,
            order_col="row_key", partition_col="s")
        got = {
            (r.s, r.epoch): (r.n, r.tot, r.nb, r.b0, r.b1)
            for r in packed.groupBy("s", "epoch").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("w").alias("tot"),
                F.countDistinct("bin").alias("nb"),
                F.min("bin").alias("b0"),
                F.max("bin").alias("b1"),
            ).collect()
        }

        from appengine_mapreduce_spark.operators.sampling import (
            alpha_weight_sql,
        )

        case = " ".join(f"WHEN '{s}' THEN {p}" for s, p in recipe.items())
        vals = ", ".join(f"({k}, '{s}', {w})" for k, s, w in rows)
        aw = alpha_weight_sql("CAST(sum(w) AS DOUBLE)", alpha)
        duck = duckdb.sql(f"""
            WITH t AS (SELECT * FROM (VALUES {vals}) v(k, s, w)),
            rep AS (
              SELECT k, s, w, (tp // 10000) +
                 (CASE WHEN ('0x' || substr(md5('rcp:' ||
                    CAST(k AS VARCHAR)), 1, 8))::BIGINT % 10000
                    < tp % 10000 THEN 1 ELSE 0 END) AS n
              FROM (SELECT *, CASE s {case} ELSE {default} END AS tp FROM t)
            ),
            keyed AS (
              SELECT k, s, w, epoch,
                     lpad(CAST(k AS VARCHAR), 12, '0') || ':' ||
                         CAST(epoch AS VARCHAR) AS row_key
              FROM (SELECT k, s, w,
                           CAST(unnest(range(1, n + 1)) AS INT) AS epoch
                    FROM rep WHERE n >= 1)
            ),
            per AS (
              SELECT s, CAST(sum(w) AS BIGINT) AS w_s,
                     CAST(floor({aw}) AS BIGINT) AS sq_s
              FROM keyed GROUP BY s HAVING sum(w) > 0
            ),
            tot AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
                           CAST(sum(sq_s) AS BIGINT) AS sq_tot FROM per),
            rates AS (
              SELECT s, CAST(floor(least(10000.0,
                   {float(out_pm)} * ((CAST(w_tot AS DOUBLE) / sq_tot)
                       * sq_s) / w_s)) AS BIGINT) AS cut
              FROM per, tot
            ),
            kept AS (
              SELECT k2.* FROM keyed k2 JOIN rates r USING (s)
              WHERE ('0x' || substr(md5('rcpt:' || row_key), 1, 8))::BIGINT
                    % 10000 < cut
            ),
            binned AS (
              SELECT s, epoch, w,
                     CAST(floor((sum(w) OVER (PARTITION BY s
                           ORDER BY row_key ROWS UNBOUNDED PRECEDING)
                         - w) / {float(budget)}) AS BIGINT) AS bin
              FROM kept
            )
            SELECT s, epoch, count(*) AS n, CAST(sum(w) AS BIGINT) AS tot,
                   count(DISTINCT bin) AS nb,
                   min(bin) AS b0, max(bin) AS b1
            FROM binned GROUP BY s, epoch
        """).fetchall()
        want = {(s, e): (n, tot, nb, b0, b1)
                for s, e, n, tot, nb, b0, b1 in duck}
        assert got == want, (trial, recipe, default, alpha, out_pm, budget)
