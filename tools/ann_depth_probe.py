"""Standing evidence for depth-adaptive sign-LSH splitting (round 14):
counts the candidate-pair mass Σ_b C(n_b, 2) of semantic dedup's bucket
self-join across the doubling fixtures and reports the per-doubling
growth ratio — the number that was ~4x (quadratic) under the round-13
single-level split and must stay ~2x (linear) under depth-adaptive
splitting. A pure count, no wall-clock: safe to run on a noisy host.

Writes ANN_DEPTH.json.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SFS = ("sf1", "sf2", "sf4", "sf8")


def main() -> None:
    from pyspark.sql import functions as F

    from appengine_mapreduce_spark.functions.vectors import l2_norm
    from appengine_mapreduce_spark.operators.similarity import (
        adaptive_sign_bucket,
    )
    from appengine_mapreduce_spark.plans.queries_dedup2 import (
        _SEM_BITS,
        _SEM_EXTRA_BITS,
        _SEM_MAX_BUCKET,
    )
    from appengine_mapreduce_spark.plans.tables import load
    from appengine_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="ann-depth-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "ann_depth_pair_growth",
        "base_bits": _SEM_BITS,
        "extra_bits": _SEM_EXTRA_BITS,
        "max_bucket_size": _SEM_MAX_BUCKET,
        "sfs": {},
    }
    prev_pairs = None
    for sf in SFS:
        d = os.path.join(REPO, "testdata", sf)
        if not os.path.isdir(d):
            continue
        emb = adaptive_sign_bucket(
            load(spark, d, "embeddings").select(
                "vec_id", "embedding",
                l2_norm(F.col("embedding")).alias("nrm"),
            ),
            base_bits=_SEM_BITS, extra_bits=_SEM_EXTRA_BITS,
            max_bucket_size=_SEM_MAX_BUCKET,
        )
        stats = (
            emb.groupBy("bucket").count()
            .agg(
                F.count("*").alias("nb"),
                F.max("count").alias("mx"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p"),
            )
            .collect()[0]
        )
        blk = {
            "rows": emb.count(),
            "buckets": stats.nb,
            "max_bucket": stats.mx,
            "candidate_pairs": int(stats.p),
        }
        if prev_pairs:
            blk["pair_growth_vs_prev_doubling"] = round(
                int(stats.p) / prev_pairs, 2)
        prev_pairs = int(stats.p)
        out["sfs"][sf] = blk
        print(f"# {sf}: {blk}", file=sys.stderr)
    growth = [b.get("pair_growth_vs_prev_doubling")
              for b in out["sfs"].values()
              if b.get("pair_growth_vs_prev_doubling")]
    out["worst_pair_growth"] = max(growth) if growth else None
    # linear = 2.0 per doubling; the round-13 single-level split measured
    # ~4.0 here at the sf4->sf8 step
    out["linear_reference"] = 2.0
    path = os.path.join(REPO, "ANN_DEPTH.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out))
    print(f"# written to {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
