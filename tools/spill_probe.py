#!/usr/bin/env python3
"""Memory-pressure (spill) probe.

Runs the frozen bench headliner set at sf1 inside a deliberately SMALL
JVM (default --driver-memory 2g, local[8]) and records each query's own
spill bytes and peak execution memory (one ``runtime_metrics.profile``
record per query). A green run proves that external sort/aggregation —
not RAM — carries the shuffles: the 128 GiB-sandbox stand-in for the
100 TB claim (reference analog: the sort worker's fixed RAM budget, java
SortWorker.java:54 — everything beyond it goes to disk there too).

Plans are materialized through the noop sink (full execution, zero
driver-side collect) so the evidence is about EXECUTION memory, which is
what a 1000-executor cluster scales, not driver result buffers.

Usage:
  SPARK_GRAFT_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
      python tools/spill_probe.py [sf_dir]  # child mode, prints JSON
  python tools/spill_probe.py --launch [sf_dir]  # spawns the child with
      the constrained env and prints its JSON
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import asdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF1 = os.path.join(REPO, "testdata", "sf1")


def _wide_probes(spark, sf_dir: str) -> "dict[str, object]":
    """Deliberately memory-wide plans: each one's
    working set at sf1 exceeds a small heap's execution-memory share, so
    a green run REQUIRES the external (spilling) code path — evidence
    that more than one operator class survives memory pressure:

    - full-payload global sort: range exchange + UnsafeExternalSorter
      over every lineitem column (the training-export ORDER BY shape);
    - unbounded collect_list: full-payload struct lists over 1.5M
      groups — past the 128-group fallback threshold
      ObjectHashAggregate switches to sort-based aggregation, whose
      external sorter spills its runs (a 3-group variant instead OOMs
      any heap: one group's FINAL array must materialize in one task —
      that shape is a genuine anti-pattern, not a spill case);
    - wide join + re-sort: full-payload lineitem⋈orders, then a sort on
      a non-join key so both the SMJ sides and the final sort run
      through external sorters.
    """
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return {
        "probe_global_sort_full_payload":
            li.orderBy("l_shipdate", "l_orderkey", "l_linenumber"),
        "probe_collect_list_unbounded":
            li.groupBy("l_orderkey").agg(
                F.collect_list(F.struct(*li.columns)).alias("rows_blob"))
            .select("l_orderkey", F.size("rows_blob").alias("n")),
        "probe_join_wide_payload":
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .orderBy(F.desc("o_orderdate"), "l_partkey"),
    }


def _child(sf_dir: str) -> dict:
    from appengine_mapreduce_spark.core.runtime_metrics import profile
    from appengine_mapreduce_spark.plans.registry import all_queries
    from appengine_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="spill-probe")
    heap = spark.sparkContext._conf.get("spark.driver.memory")
    results: dict[str, dict] = {}
    # comma-separated substrings, matched against every registered query
    # and the wide probes; unset runs the headline set and the wide probes
    only = [s for s in os.environ.get("SPILL_PROBE_ONLY", "").split(",") if s]
    queries = {n: s.fn for n, s in all_queries().items() if only or s.bench}
    wide = {n: (lambda sp, sd, df=df: df)
            for n, df in _wide_probes(spark, sf_dir).items()}
    todo = {**queries, **wide}
    if only:
        todo = {n: f for n, f in todo.items() if any(s in n for s in only)}
    for name, spec in sorted(todo.items()):
        err = None
        with profile(spark, name) as scope:
            try:
                spec(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
            except Exception as exc:  # record, keep probing
                err = f"{type(exc).__name__}: {exc}"[:200]
        rec = scope.record
        results[name] = {**asdict(rec), "err": err}
        print(f"# {name}: {rec.wall_s:.2f}s spill(disk)={rec.spill_disk_bytes} "
              f"peak={rec.peak_execution_memory_bytes} err={err}", file=sys.stderr)
    spark.stop()
    n_err = sum(1 for r in results.values() if r["err"])
    return {
        "metric": "spill_probe", "sf_dir": sf_dir, "driver_memory": heap,
        "cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "queries": results, "n_queries": len(results), "n_err": n_err,
        "total_disk_spill_bytes": sum(
            r["spill_disk_bytes"] for r in results.values()),
    }


def _launch(sf_dir: str) -> None:
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = env.get("SPILL_PROBE_MEM", "2g")
    env["SPARK_GRAFT_CPUS"] = env.get("SPILL_PROBE_CPUS", "8")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir],
        env=env, stdout=subprocess.PIPE, timeout=3600,
    )
    sys.stdout.buffer.write(proc.stdout)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else DEFAULT_SF1
    if "--launch" in sys.argv:
        _launch(sf_dir)
    else:
        print(json.dumps(_child(sf_dir)))
