"""Scale-behavior tests: degenerate shapes that break naive engines —
one giant key, heavy skew — must complete within bounded memory
(BASELINE.md: 'unbounded keys must not OOM')."""

from __future__ import annotations

from pyspark.sql import functions as F

from appengine_mapreduce_spark.operators import shuffle


def test_single_hot_key_group_does_not_oom(spark):
    """1M values under ONE key through grouped aggregation: Spark's
    spillable aggregation handles it; chunked collect caps the output
    (the reference's 100k-value KeyValues cap, shuffler.py:596-598)."""
    df = spark.range(0, 1_000_000).select(
        F.lit("hot").alias("key"), F.col("id").alias("v")
    )
    # full aggregation over the giant group (sum/count — streaming agg)
    row = df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    ).first()
    assert row.n == 1_000_000
    assert row.s == 999_999 * 1_000_000 // 2

    # chunked collect keeps the materialized group bounded
    capped = shuffle.group_values(df, "key", "v", sort=False, max_grouped_values=1000)
    out = capped.first()
    assert len(out["values"]) == 1000


def test_skewed_aggregation_completes(spark):
    """90% of 2M rows share one key; partial aggregation collapses the
    hot key map-side so the shuffle carries one row per (partition, key)."""
    df = spark.range(0, 2_000_000, 1, 32).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
        F.lit(1).alias("one"),
    )
    counts = {r.k: r.n for r in df.groupBy("k").agg(F.sum("one").alias("n")).collect()}
    assert counts[0] == 1_800_000 + 2_000  # hot key + its own modulo share
    assert len(counts) == 100


def test_aqe_splits_skewed_join_partition(spark):
    """With thresholds lowered to local scale, AQE must detect and split
    the skewed partition of a shuffle join (the runtime replacement for
    the reference's static oversplit_factor)."""
    import contextlib
    import io

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 500_000, 1, 16).select(
            F.when(F.col("id") % 20 != 0, 7).otherwise(F.col("id") % 100).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("rk"), (F.col("id") * 3).alias("rv")
        )
        joined = left.join(right, left.k == right.rk)
        # collect() executes joined's OWN QueryExecution so its AQE plan
        # finalizes (count() would execute a separate wrapping plan)
        n = len(joined.collect())
        assert n == 500_000
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        # after execution AQE's final plan marks the skew-handled join
        assert "skew=true" in buf.getvalue().lower() or "AQEShuffleRead" in buf.getvalue()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_driver_heap_default_is_bounded_by_host_memory(monkeypatch):
    """The driver heap defaults to ¾ of physical memory, capped at 48g, so
    the heap bound binds before the host runs out; the env var overrides."""
    import os

    from appengine_mapreduce_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096
    for phys_gib, expected in ((16, "12288m"), (15.5, "11904m"), (128, "49152m")):
        pages = int(phys_gib * 2**30) // page
        monkeypatch.setattr(
            os, "sysconf", {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}.__getitem__
        )
        assert session._driver_memory() == expected
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session._driver_memory() == "1g"
