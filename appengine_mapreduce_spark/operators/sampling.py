"""Deterministic sampling and table profiling.

Training pipelines need *reproducible* samples — the same 10% every run,
on any engine, independent of partitioning. RNG-based ``df.sample`` can't
promise that; hashing the row key can: a row is in the p% sample iff
``stable_hash32(key) % 10000 < p·100``. Same idea powers train/test
splits and per-stratum quotas.

``profile_table`` is the ANALYZE-style utility: per-column null counts,
distincts, min/max — one pass, one aggregate row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from appengine_mapreduce_spark.functions.hashing import stable_hash32


def sample_bucket(key: Column, salt: str = "sample") -> Column:
    """Stable bucket in [0, 10000) for percentage-based splits."""
    return stable_hash32(key.cast("string"), salt=salt) % 10000


def _permyriad_case(
    strata_col: str, mapping: dict[str, int], default: int
) -> Column:
    """CASE over a model-sized stratum → permyriad mapping (sorted for a
    deterministic when-chain), falling back to ``default`` — the shared
    builder behind stratified_sample's cuts, mix_to_target's targets,
    and epoch_repeat's epoch counts."""
    expr = None
    for stratum, permyriad in sorted(mapping.items()):
        branch = F.when(F.col(strata_col) == stratum, F.lit(int(permyriad)))
        expr = branch if expr is None else expr.when(
            F.col(strata_col) == stratum, F.lit(int(permyriad))
        )
    return (expr.otherwise(F.lit(int(default)))
            if expr is not None else F.lit(int(default)))


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — reproducible
    across runs, engines, and partitionings."""
    return df.filter(sample_bucket(F.col(key), salt) < int(fraction * 10000))


def train_test_split(
    df: DataFrame, key: str, test_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, reproducible (train, test) split by key hash."""
    cut = int(test_fraction * 10000)
    bucket = sample_bucket(F.col(key), salt)
    return df.filter(bucket >= cut), df.filter(bucket < cut)


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (downsample the dominant web crawl, upsample rare languages/sources).

    Membership is by key hash against a per-stratum cut, so the mix is
    reproducible across runs/engines/partitionings and needs NO shuffle:
    the filter is a pure row-local expression evaluated inside the scan
    (whole-stage codegen), regardless of corpus size.
    """
    cut = _permyriad_case(
        strata_col,
        {s: int(f * 10000) for s, f in fractions.items()},
        int(default_fraction * 10000),
    )
    return df.filter(sample_bucket(F.col(key), salt) < cut)


# Composite bin id stride for the sharded packing mode: bin =
# shard * 2^40 + local_bin. 2^40 local bins per shard ≈ 1.1e12 —
# at a 2048-token budget that is ~2.25e15 tokens per (partition, shard)
# stream before overflow, far beyond any single shard's share of a
# 100 TB corpus; and with shards ≤ ~8e6 the composite stays inside
# BIGINT. Exact integer arithmetic in any engine.
PACK_SHARD_STRIDE = 1 << 40


def pack_by_token_budget(
    df: DataFrame,
    tokens_col: str,
    budget: int,
    order_col: str,
    partition_col: str | None = None,
    shards: int | None = None,
    shard_salt: str = "pack",
) -> DataFrame:
    """Assign each row a ``bin`` id so consecutive rows (in ``order_col``
    order, optionally per ``partition_col``) chunk into ≈``budget``-token
    bins: ``bin = floor(cumulative_tokens_before / budget)`` — the
    streaming-friendly, deterministic form of sequence packing a training
    pipeline uses to build context windows. One window cumsum, one
    shuffle on the partition key; bins may overshoot by at most one
    document (documented, not first-fit bin packing).

    Scale note: a plain ``partition_col`` is NOT enough at
    corpus scale. Omitting it makes the window GLOBAL (single-partition
    sort — dimension-sized inputs only), and a low-cardinality/skewed
    column like language funnels the dominant stratum (often 60-90% of a
    pretraining corpus) through ONE sequential window task. Pass
    ``shards=K`` to split every partition into K independent packing
    streams: rows route by an engine-portable md5 hash of ``order_col``
    (``pmod(stable_hash32(shard_salt:order_col), K)``, replayable
    bit-exactly in the DuckDB oracle), the window partitions by
    ``(partition_col, _pack_shard)``, and bin ids become the composite
    ``shard * 2^40 + local_bin`` (exact BIGINT arithmetic; see
    ``PACK_SHARD_STRIDE``). Training pipelines only need packing order
    WITHIN a shard — the same shard semantics as the reference's
    sharded output (python output_writers.py _HashingGCSOutputWriter,
    java HashingSharder.java), so sharded bins are the drop-in contract.
    Each extra shard costs at most one under-filled remainder bin per
    (partition, shard); pick K ≈ executor-core count per heavy stratum.

    The output carries a ``_pack_shard`` column in sharded mode (kept —
    downstream rollups and plan assertions read it; drop it if unwanted).
    """
    from pyspark.sql import Window

    from appengine_mapreduce_spark.functions.hashing import stable_hash32

    if shards is not None:
        if shards < 1:
            raise ValueError("shards must be >= 1")
        shard = F.pmod(
            stable_hash32(F.col(order_col).cast("string"), shard_salt),
            F.lit(shards),
        ).cast("int")
        sharded = df.withColumn("_pack_shard", shard)
        part_keys = ([partition_col] if partition_col else []) + ["_pack_shard"]
        w = Window.partitionBy(*part_keys).orderBy(order_col)
        cum_before = F.sum(tokens_col).over(w) - F.col(tokens_col)
        local_bin = F.floor(cum_before / F.lit(budget))
        return sharded.withColumn(
            "bin",
            F.col("_pack_shard").cast("bigint") * F.lit(PACK_SHARD_STRIDE)
            + local_bin,
        )

    if partition_col:
        w = Window.partitionBy(partition_col).orderBy(order_col)
    else:
        w = Window.orderBy(order_col)
    cum_before = F.sum(tokens_col).over(w) - F.col(tokens_col)
    return df.withColumn("bin", F.floor(cum_before / F.lit(budget)))


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column profile: (column, n_nulls, n_distinct, min_s, max_s) —
    one aggregation pass, min/max stringified for heterogeneous display."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS "
        "(column, n_nulls, n_distinct, min_s, max_s)"
    )


def mix_to_target(
    df: DataFrame,
    key: str,
    strata_col: str,
    target_permyriad: dict[str, int],
    out_permyriad: int = 10000,
    salt: str = "mix",
) -> DataFrame:
    """Resample so the strata of the OUTPUT approximate target fractions —
    data mixing against a target distribution rather than fixed per-stratum
    rates (:func:`stratified_sample`'s knob inverted: you state the mix you
    want, the rates are derived from the measured counts).

    ``target_permyriad`` maps stratum → desired share of the output in
    1/10000 units; ``out_permyriad`` is the desired output size as a share
    of the input. Per-stratum acceptance cuts are computed from a
    stratum-count aggregate (model-sized: one row per stratum, broadcast
    back), entirely in INTEGER arithmetic (a DIV b), so membership is an
    exact engine-portable function of the key hash. A stratum too small
    for its target share caps at rate 1.0 (the mix degrades gracefully
    instead of oversampling).

    At 100 TB: one count aggregate + one broadcast join + a row-local
    hash filter — the corpus never shuffles.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n_s"))
    total = df.agg(F.count(F.lit(1)).alias("_n_total"))
    tgt = _permyriad_case(strata_col, target_permyriad, 0)

    # integer cut: min(10000, target_share * n_out DIV n_s)
    rates = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("_tgt", tgt)
        .withColumn(
            "_cut",
            F.least(
                F.lit(10000).cast("bigint"),
                F.expr(
                    f"CAST(_tgt AS BIGINT) * (_n_total * {int(out_permyriad)} DIV 10000) DIV _n_s"
                ),
            ),
        )
        .select(strata_col, "_cut")
    )
    joined = df.join(F.broadcast(rates), strata_col, "left")
    return (
        joined.filter(
            sample_bucket(F.col(key), salt) < F.coalesce(F.col("_cut"), F.lit(0))
        )
        .drop("_cut")
    )


def _validate_alpha(alpha: float) -> None:
    """Reject non-portable alphas EAGERLY: dispatch is on
    exact float equality, so a computed 0.75000000001 or a numpy
    float32(0.5) must fail at the ``temperature_sample`` /
    ``temperature_rates`` call site, not lazily from ``_alpha_weight``
    deep inside plan construction."""
    if type(alpha) is not float or alpha not in (0.25, 0.5, 0.75):
        raise ValueError(
            f"alpha={alpha!r} not portable: only float {{0.25, 0.5, 0.75}} "
            "compose from correctly-rounded sqrt/multiply; arbitrary alpha "
            "needs pow, whose last-ulp behavior differs between engines"
        )


def _alpha_weight(w: Column, alpha: float) -> Column:
    """w**alpha for alpha ∈ {0.25, 0.5, 0.75} as a composition of IEEE
    correctly-rounded operations only — sqrt and multiply — so the value
    is bit-identical across engines (Spark and DuckDB both delegate to
    the platform's IEEE-754 double sqrt/*):

    - 0.25: sqrt(sqrt(w))
    - 0.5 : sqrt(w)
    - 0.75: sqrt(w) * sqrt(sqrt(w))

    The composed results are NOT correctly-rounded w**alpha (each step
    rounds), but they are the SAME deterministic function of w in every
    IEEE engine — which is what oracle replay needs. ``pow`` would give
    a closer w**alpha but its last-ulp behavior is libm-specific, hence
    banned here.
    """
    _validate_alpha(alpha)
    if alpha == 0.5:
        return F.sqrt(w)
    if alpha == 0.25:
        return F.sqrt(F.sqrt(w))
    return F.sqrt(w) * F.sqrt(F.sqrt(w))


def alpha_weight_sql(expr: str, alpha: float) -> str:
    """The DuckDB mirror of :func:`_alpha_weight` — keep in lockstep."""
    _validate_alpha(alpha)
    if alpha == 0.5:
        return f"sqrt({expr})"
    if alpha == 0.25:
        return f"sqrt(sqrt({expr}))"
    return f"(sqrt({expr}) * sqrt(sqrt({expr})))"


def temperature_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    weight_col: str | None = None,
    out_permyriad: int = 2500,
    salt: str = "temp",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture resampling: kept weight per stratum is
    proportional to (natural weight)**alpha — the standard
    multilingual-pretraining knob that interpolates between the natural
    mix (alpha=1) and uniform (alpha=0), boosting rare languages without
    flattening the corpus. ``mix_to_target`` needs the mix stated up
    front; here the rates are DERIVED from the measured per-stratum
    weights entirely in-plan (no driver-side collect).

    alpha is restricted to {0.25, 0.5, 0.75} — the exponents expressible
    as compositions of IEEE-754 correctly-rounded ``sqrt``/multiply
    (see :func:`_alpha_weight`) and therefore bit-identical across
    engines, so the derived cut replays exactly in the DuckDB oracle.
    (Arbitrary alpha needs ``pow``, whose last-ulp behavior is not
    portable.) All inputs to the double-valued rate expression are
    integers < 2^53 (exact as doubles) and the expression order is
    fixed, so every intermediate is deterministic.

    ``weight_col`` weighs strata by a size column (tokens/chars) instead
    of row count; ``out_permyriad`` is the target output weight as a
    share of the input in 1/10000 units. Rows keep a ``mix_cut`` column
    (the per-stratum acceptance cut, for auditing). Oversubscribed rare
    strata cap at rate 1.0. Strata whose total weight is NOT positive
    (possible only with ``weight_col``: zero or negative weight sums)
    are DROPPED — a zero-weight stratum has zero share of any
    temperature mixture, and filtering it keeps the rate expression
    NaN-free (previously 0**alpha/0 produced NaN and ``least`` quirks
    kept such strata in full — surprising and now explicitly ruled out).

    At 100 TB: one stratum-count aggregate (model-sized), one broadcast
    join, a row-local hash filter — the corpus never shuffles.
    """
    _validate_alpha(alpha)
    rates = temperature_rates(
        df, strata_col, weight_col=weight_col,
        out_permyriad=out_permyriad, alpha=alpha,
    )
    joined = df.join(F.broadcast(rates), strata_col, "left")
    return joined.filter(
        sample_bucket(F.col(key), salt) < F.coalesce(F.col("mix_cut"), F.lit(0))
    )


def temperature_rates(
    df: DataFrame,
    strata_col: str,
    weight_col: str | None = None,
    out_permyriad: int = 2500,
    alpha: float = 0.5,
) -> DataFrame:
    """The per-stratum acceptance cuts :func:`temperature_sample` applies:
    (strata_col, ``mix_cut``), one row per positive-weight stratum —
    exposed separately so audits and tests can read the cut of EVERY
    stratum, including strata whose every row the sample excludes
    (the kept rows' ``mix_cut`` column shows cuts for kept strata only).
    """
    _validate_alpha(alpha)
    w = (F.count(F.lit(1)) if weight_col is None
         else F.sum(weight_col)).cast("bigint")
    per = df.groupBy(strata_col).agg(w.alias("_w_s")).filter(F.col("_w_s") > 0)
    per = per.withColumn(
        "_sq_s",
        F.floor(_alpha_weight(F.col("_w_s").cast("double"), alpha)).cast("bigint"),
    )
    tot = per.agg(
        F.sum("_w_s").alias("_w_tot"), F.sum("_sq_s").alias("_sq_tot")
    )
    # rate/10000 = out_permyriad/10000 * (w_tot/sq_tot) * sq_s / w_s:
    # expected kept weight = out share of total; per-stratum kept weight
    # proportional to w_s**alpha. Fixed parenthesization, mirrored in SQL.
    cut = F.floor(
        F.least(
            F.lit(10000.0),
            F.lit(float(out_permyriad))
            * ((F.col("_w_tot").cast("double") / F.col("_sq_tot")) * F.col("_sq_s"))
            / F.col("_w_s"),
        )
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("mix_cut", cut)
        .select(strata_col, "mix_cut")
    )


def epoch_repeat(
    df: DataFrame,
    key: str,
    strata_col: str,
    epochs_permyriad: dict[str, int],
    default_permyriad: int = 10000,
    salt: str = "epoch",
) -> DataFrame:
    """Materialize a data recipe with per-stratum EPOCH REPETITION —
    the standard pretraining mixing step that up-weights rare
    high-quality sources by repeating them (possibly a fractional
    number of epochs) while the bulk corpus passes through once.

    ``epochs_permyriad`` maps stratum → target epochs in 1/10000 units
    (25000 = 2.5 epochs). Each row is emitted ``floor(e)`` times, plus
    one more iff ``stable_hash32(key, salt) % 10000 < frac(e)·10000`` —
    so a 2.5-epoch stratum repeats every doc twice and a reproducible,
    engine-portable half of its docs a third time. Output rows carry an
    ``epoch`` column (1..n); a stratum at 0 epochs (or below its
    fractional cut) disappears. Deterministic: same key → same repeat
    count, any run, any engine, any partitioning.

    At 100 TB: the repeat count is a row-local expression (a CASE over
    the model-sized recipe + one hash compare) and the multiplication is
    a generator (``explode``) inside the scan stage — no shuffle, no
    broadcast beyond the recipe literals. Downstream global_shuffle /
    pack_by_token_budget treat (key, epoch) as the new row identity.
    """
    # Full epochs via INTEGER division (`DIV`), structurally identical
    # to the DuckDB oracle's `tp // 10000` — the double-divide-then-
    # truncate form was numerically equivalent for every realistic
    # permyriad but only by argument-range analysis; DIV
    # makes the two engines the same function by construction, like
    # mix_to_target's cut. The staged column name must not clobber a
    # caller's column (the pre-DIV implementation added none).
    tp_col = "_ep_tp"
    while tp_col in df.columns:
        tp_col += "_"
    staged = df.withColumn(
        tp_col, _permyriad_case(strata_col, epochs_permyriad, default_permyriad)
    )
    n_full = F.expr(f"`{tp_col}` DIV 10000").cast("int")
    frac_cut = F.col(tp_col) % F.lit(10000)
    extra = F.when(
        sample_bucket(F.col(key), salt) < frac_cut, F.lit(1)
    ).otherwise(F.lit(0))
    n = n_full + extra
    # sequence(1, 0) would DESCEND in Spark — guard zero-repeat rows to
    # an empty array so explode drops them (DuckDB generate_series(1,0)
    # is empty, so the guard keeps the engines aligned).
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return staged.withColumn("epoch", F.explode(seq)).drop(tp_col)


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    bucket_col: str = "bucket",
    round_dp: int = 9,
) -> DataFrame:
    """Assign each row a quantile bucket of ``score_col`` (1..len(probs)+1)
    — curriculum bucketing: order the corpus into quality tiers without a
    global sort. The exact cuts are ONE aggregate row (``F.percentile``,
    interpolation-identical to DuckDB ``quantile_cont`` — proven by the
    group_percentiles oracle), broadcast back; bucket assignment is then
    row-local: ``1 + sum(score > cut_i)``.

    Cuts are rounded to ``round_dp`` decimals before comparison so a
    last-ulp interpolation difference cannot flip a boundary row across
    engines. The global-window alternative (``ntile``) funnels the whole
    corpus through one partition; this shape is one scalar aggregate +
    a broadcast, valid at any scale.

    NULL scores get a NULL bucket (they are also invisible to the cuts:
    ``F.percentile`` ignores nulls, matching DuckDB ``quantile_cont``).
    Previously a NULL score silently landed in bucket 1 — ``NULL > cut``
    is NULL so every branch contributed 0 — which misfiled unscored rows
    as lowest-tier; NULL-in, NULL-out makes them explicit to callers.
    """
    cut_cols = [
        F.round(F.percentile(score_col, p), round_dp).alias(f"_qcut{i}")
        for i, p in enumerate(probs)
    ]
    cuts = df.agg(*cut_cols)
    out = df.crossJoin(F.broadcast(cuts))
    b: Column = F.lit(1)
    for i in range(len(probs)):
        b = b + F.when(F.col(score_col) > F.col(f"_qcut{i}"), 1).otherwise(0)
    b = F.when(F.col(score_col).isNull(), F.lit(None)).otherwise(b)
    return out.withColumn(bucket_col, b.cast("int")).drop(
        *[f"_qcut{i}" for i in range(len(probs))]
    )


def global_shuffle(
    df: DataFrame,
    key: str,
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training-data export: every row
    gets a reproducible pseudo-random ``shard`` in [0, n_shards) and a
    ``position`` within its shard — the same permutation every run, on
    any engine, independent of input partitioning (RNG-based
    ``orderBy(rand())`` cannot promise that across retries).

    Order key is the salted hash of the row key, tie-broken by the key
    itself and then by a fingerprint of the WHOLE row — so the ordering
    is total on row values even when the key column has duplicates
    (rows that are fully identical are interchangeable, so any order
    between them yields the same output). NULL keys hash via a sentinel
    instead of propagating NULL into the shard. For a byte-for-byte
    pinned permutation prefer a unique non-null key, which makes the
    fingerprint tie-break dead weight (it never fires).

    At 100 TB: the shard is a pure row-local hash (no shuffle to ASSIGN
    it); the within-shard position is one window per shard partition — a
    single hash-partitioned exchange keyed on ``shard``, each shard
    sorted independently. This is exactly the "shuffle the corpus into N
    training shards" step before sequence packing; writers
    partitionBy(shard) downstream.
    """
    from pyspark.sql import Window

    key_str = F.coalesce(F.col(key).cast("string"), F.lit("\x00null"))
    h = stable_hash32(key_str, salt=salt)
    # Row fingerprint: canonical concat of every column (unit-separator
    # delimited, NULLs as a sentinel) -> md5. Makes ties between
    # distinct rows sharing a key value deterministic.
    row_fp = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                for c in df.columns
            ],
        )
    )
    with_shard = (
        df.withColumn("_h", h)
        .withColumn("_fp", row_fp)
        .withColumn("shard", (F.col("_h") % n_shards).cast("int"))
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("_h"), key_str, F.col("_fp")
    )
    return (
        with_shard.withColumn(
            "position", (F.row_number().over(w) - 1).cast("bigint")
        )
        .drop("_h", "_fp")
    )
