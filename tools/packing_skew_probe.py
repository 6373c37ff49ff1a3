"""Measured evidence for sharded packing: a window partitioned by a
skewed low-cardinality column (language) funnels the dominant stratum
through ONE sequential sort task; the sharded mode splits it across K
independent streams.

Builds a synthetic corpus shaped like a pretraining mix (dominant
language holds ~85% of rows, inside a pretraining mix's usual 60-90%),
then times pack_by_token_budget + a per-bin rollup:

  - unsharded (partition_col only)
  - sharded with K in {8, 32}

on the SAME session and data, interleaved over multiple rounds so a
host burst hits one round, not one mode. Also records the max rows any
single window partition received in each mode (the actual skew number —
wall-clock on a 32-thread box understates what 1000 executors would
lose, because here the other 31 threads merely idle while at cluster
scale 7999 cores would).

Writes PACKING_SKEW.json; run on a quiet host and read the
steal/io columns before believing a delta (same protocol as bench.py).
"""
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from appengine_mapreduce_spark.core.runtime_metrics import profile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_ROWS = 20_000_000
DOMINANT_SHARE = 0.85
ROUNDS = 3
BUDGET = 2048


def main() -> None:
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.operators.sampling import (
        pack_by_token_budget,
    )
    from appengine_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="packing-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # Synthetic corpus: ~85% 'en', the tail split over 15 languages.
    # row_key is a zero-padded string like the recipe capstone's; token
    # counts vary deterministically so bins aren't degenerate.
    cut = int(N_ROWS * DOMINANT_SHARE)
    docs = (
        spark.range(N_ROWS, numPartitions=64)
        .select(
            F.lpad(F.col("id").cast("string"), 12, "0").alias("row_key"),
            F.when(F.col("id") < cut, F.lit("en"))
            .otherwise(F.concat(F.lit("l"), (F.col("id") % 15).cast("string")))
            .alias("lang"),
            (F.lit(64) + F.pmod(F.col("id") * 2654435761, F.lit(1900)))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .persist()
    )
    docs.count()  # materialize so every mode reads the same cached input

    def rollup(shards):
        packed = pack_by_token_budget(
            docs, tokens_col="n_tokens", budget=BUDGET,
            order_col="row_key", partition_col="lang", shards=shards,
        )
        return packed.groupBy("lang", "bin").agg(F.sum("n_tokens").alias("fill"))

    modes = [("unsharded", None), ("sharded_k8", 8), ("sharded_k32", 32)]
    for _, s in modes:  # warmup: JIT + cache
        rollup(s).count()

    samples: dict[str, list[float]] = {m: [] for m, _ in modes}
    bins: dict[str, int] = {}
    attr: dict[str, dict[str, int]] = {
        m: {"steal_jiffies_d": 0, "io_stall_us_d": 0} for m, _ in modes
    }
    for _ in range(ROUNDS):
        for mode, s in modes:
            df = rollup(s)
            with profile(spark, mode) as scope:
                bins[mode] = df.count()
            rec = scope.record
            samples[mode].append(rec.wall_s)
            attr[mode]["steal_jiffies_d"] += rec.steal_jiffies
            attr[mode]["io_stall_us_d"] += rec.io_stall_us
            print(f"# {mode}: {rec.wall_s:.3f}s ({bins[mode]} bins, "
                  f"shuffle {rec.shuffle_write_bytes} B, spill "
                  f"{rec.spill_disk_bytes} B)", file=sys.stderr)

    # The skew number itself: rows landing in the biggest window
    # partition under each mode (what ONE task must sort sequentially).
    skew = {}
    for mode, s in modes:
        if s is None:
            counts = docs.groupBy("lang").count()
        else:
            from appengine_mapreduce_spark.functions.hashing import (
                stable_hash32,
            )

            counts = docs.withColumn(
                "_s",
                F.pmod(stable_hash32(F.col("row_key"), "pack"), F.lit(s)),
            ).groupBy("lang", "_s").count()
        top = counts.agg(F.max("count").alias("mx")).collect()[0].mx
        skew[mode] = {
            "max_window_partition_rows": top,
            "max_partition_share": round(top / N_ROWS, 4),
        }

    out = {
        "n_rows": N_ROWS,
        "dominant_share": DOMINANT_SHARE,
        "budget": BUDGET,
        "rounds": ROUNDS,
        "modes": {
            mode: {
                "median_sec": round(statistics.median(samples[mode]), 4),
                "runs": [round(x, 4) for x in samples[mode]],
                "spread": round(
                    (max(samples[mode]) - min(samples[mode]))
                    / statistics.median(samples[mode]), 3),
                "n_bins": bins[mode],
                **attr[mode],
                **skew[mode],
            }
            for mode, _ in modes
        },
    }
    un = out["modes"]["unsharded"]["median_sec"]
    for k in ("sharded_k8", "sharded_k32"):
        out["modes"][k]["speedup_vs_unsharded"] = round(
            un / out["modes"][k]["median_sec"], 2)
    path = os.path.join(REPO, "PACKING_SKEW.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out))
    print(f"# written to {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
