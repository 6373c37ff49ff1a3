"""Join operators beyond Spark's built-ins.

The reference has NO join operator at all (SURVEY.md §2.3) — joins were
hand-written map-side tagging + reduce-side co-group. Spark's equi-joins
cover the standard cases; this module adds the two that matter for
large-scale pipelines and aren't built in:

- ``as_of_join`` — temporal "latest right row at-or-before left.ts".
  Implemented as tag → union → window last(ignorenulls) → filter: ONE
  shuffle on the key, linear in rows. The naive formulation
  (range-condition join + row_number) explodes quadratically per key at
  scale; this one is the classic sort-based as-of algorithm expressed
  relationally.
- ``salted_join`` — equi-join for skewed keys: replicate the build side
  ``salt``× with a salt column, scatter the probe side with a random salt,
  join on (key, salt). Hot keys spread over ``salt`` reducers. AQE's
  skew-join handles moderate skew automatically; salting is the explicit
  tool for pathological keys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_key: str | None = None,
    payload_cols: list[str] | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` for the same key (left join semantics:
    unmatched rows keep null payloads).

    Right-side ties on (key, right_ts): pass ``right_tiebreak`` (a
    payload column, non-null on the right side) to resolve them to the
    MAX-tiebreak row inside the window's ORDER BY — tied rows sort
    ascending by it, so ``last(ignorenulls)`` picks the max. This
    replaces the caller-side pre-aggregation idiom
    (``right.groupBy(key, ts).agg(max(...))``), which paid a whole
    extra exchange + aggregation of the right side just to de-tie
    (the window's one key exchange re-shuffles those rows anyway —
    measured 0.54 → 0.35 s noop
    median at sf0.1 on the asof_join_latest_order shape, bit-identical
    output). Without it, ties must be pre-deduplicated by the caller if
    deterministic payloads are required.
    """
    right_key = right_key or key
    payload_cols = payload_cols or [
        c for c in right.columns if c not in (right_key, right_ts)
    ]
    left_cols = [c for c in left.columns if c not in (key, left_ts)]
    overlap = set(left_cols) & set(payload_cols)
    if overlap:
        raise ValueError(f"column name collision between sides: {sorted(overlap)}")
    left_types = dict(left.dtypes)
    right_types = dict(right.dtypes)

    tagged_left = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_is_right"),
        *[F.col(c) for c in left_cols],
        *[F.lit(None).cast(right_types[c]).alias(c) for c in payload_cols],
    )
    tagged_right = right.select(
        F.col(right_key).alias(key),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_is_right"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_cols],
        *[F.col(c) for c in payload_cols],
    )

    # At equal timestamps the right row must sort BEFORE the left row so
    # `<=` matches it; _is_right DESC does exactly that. The tiebreak
    # (NULL on left rows — nulls_first keeps them inert) orders tied
    # right rows ascending, so last() resolves to the max.
    order_cols = [F.col("_ts").asc(), F.col("_is_right").desc()]
    if right_tiebreak is not None:
        order_cols.append(F.col(right_tiebreak).asc_nulls_first())
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = tagged_left.unionByName(tagged_right)
    carried = unioned.select(
        key,
        "_ts",
        "_is_right",
        *left_cols,
        *[
            F.last(F.when(F.col("_is_right") == 1, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(c)
            for c in payload_cols
        ],
    )
    return (
        carried.filter(F.col("_is_right") == 0)
        .drop("_is_right")
        .withColumnRenamed("_ts", left_ts)
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Point-in-interval join: every (point, interval) pair with the same
    ``key`` and ``start_ts <= point_ts < end_ts``. The third temporal
    join Spark lacks natively (after as-of above and the stream-stream
    interval join in streaming/): sessions, campaign windows, incident
    impact, slowly-changing validity ranges.

    The naive formulation — equi-join on key plus a range predicate —
    degenerates per key into an all-pairs filter (and without a key into
    BroadcastNestedLoopJoin), quadratic in the hot key's rows. This is
    the standard BUCKETIZED strategy instead: points map to the single
    time bucket containing them; intervals EXPLODE to every bucket they
    overlap; the join becomes a plain equi-join on (key, bucket) with an
    exact containment filter behind it. Each (point, interval) pair
    meets in exactly one bucket — the point's — so no dedup is needed.

    Scale: fan-out per interval is len/bucket_seconds + 1 (pick
    ``bucket_seconds`` near the TYPICAL interval length: too small
    explodes the interval side, too large degrades toward per-bucket
    all-pairs). When ``bucket_seconds`` is None (the default), it is
    derived from the MEDIAN observed interval length — one cheap
    aggregation over the intervals side, a model-sized scalar collect.
    Fan-out is additionally CLAMPED to the points side's observed
    bucket range (min/max bucket, two scalars collected once and
    inlined as literals): an open-ended
    validity row with a far-future sentinel end (e.g. 9999-12-31)
    would otherwise explode to tens of millions of buckets, while no
    point can ever meet it outside [min(point), max(point)] — so
    intervals are prefiltered to that range and their explode is
    cropped to it. One shuffle per side on (key, bucket); skewed keys
    split further by bucket, which is exactly the salting dimension a
    hot key needs. Timestamps compare at microsecond precision
    (cast("double") is exact there — sub-µs would need epoch longs).
    """
    if bucket_seconds is not None and bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    overlap = (set(points.columns) & set(intervals.columns)) - {key}
    if overlap:
        raise ValueError(f"column name collision between sides: {sorted(overlap)}")
    if "_bkt" in points.columns or "_bkt" in intervals.columns:
        raise ValueError("'_bkt' is reserved by interval_join")
    if bucket_seconds is None:
        med = intervals.agg(
            F.percentile_approx(
                F.col(end_ts).cast("double") - F.col(start_ts).cast("double"),
                0.5,
            ).alias("m")
        ).first()["m"]
        bucket_seconds = max(1, int(math.ceil(med))) if med else 3600
    p_bkt = F.floor(F.col(point_ts).cast("double") / bucket_seconds)
    i_lo = F.floor(F.col(start_ts).cast("double") / bucket_seconds)
    i_hi = F.floor(F.col(end_ts).cast("double") / bucket_seconds)
    # Clamp bounds: min/max point bucket, collected as two scalars (a
    # model-sized collect, like the adaptive-bucket percentile above —
    # the min/max agg is a column-pruned scan with map-side partials).
    # Inlining them as literals keeps the join plan a pure equi-join;
    # joining the 1-row aggregate back in instead gets its trivial
    # equi-key constant-folded away by Catalyst and degrades the
    # prefilter to a BroadcastNestedLoopJoin.
    brow = points.agg(
        F.min(p_bkt).alias("lo"), F.max(p_bkt).alias("hi")
    ).first()
    pmin = int(brow["lo"]) if brow["lo"] is not None else 0
    pmax = int(brow["hi"]) if brow["hi"] is not None else 0
    pb = points.withColumn("_bkt", p_bkt)
    ib = (
        # correctness-preserving prefilter: an interval wholly outside
        # the points' bucket range can never produce a match, and
        # dropping it keeps the clamped sequence ascending and bounded
        intervals.filter((i_hi >= pmin) & (i_lo <= pmax))
        .withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.greatest(i_lo, F.lit(pmin)),
                    F.least(i_hi, F.lit(pmax)),
                )
            ),
        )
    )
    joined = pb.join(ib, [key, "_bkt"]).filter(
        (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) < F.col(end_ts))
    )
    return joined.drop("_bkt")


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    build_key: str | None = None,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each probe key over ``salt``
    buckets, replicate the build side into all buckets. Build side grows
    ``salt``× — use for small-to-medium build sides with hot probe keys.
    """
    build_key = build_key or key
    salted_probe = probe.withColumn(
        "_salt", (F.rand() * salt).cast("int")
    )
    exploded_build = build.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    cond = (F.col(f"p.{key}") == F.col(f"b.{build_key}")) & (
        F.col("p._salt") == F.col("b._salt")
    )
    return (
        salted_probe.alias("p")
        .join(exploded_build.alias("b"), cond, how)
        .drop(F.col("p._salt"))
        .drop(F.col("b._salt"))
    )
