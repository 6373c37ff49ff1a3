#!/usr/bin/env python3
"""Benchmark harness: time the 25 headline queries (``bench=True`` in the
registry) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. After a warm-up pass every query runs once per
round for N_ROUNDS interleaved rounds, so a host burst hits one round of
many queries rather than every run of one; sub-second queries are topped
up to SUBSEC_SAMPLES runs. Queries tagged ``udf`` start Python workers, so
they run in a second SparkContext and the JVM-only timings are taken with
no worker resident. Each timed run is one ``runtime_metrics.profile``
record: a query's time is the median of its runs' ``wall_s``, and its
``layers`` entry is the record of its median run (jobs, shuffle bytes,
spill, peak execution memory, executor time, host steal and io stall).
At sf0.1 the suite runs again at sf1 ($SPARK_GRAFT_SF1_DIR, generated by
tools/gen_sf.py when absent) and each query gets a scaling exponent. Each
scale's suite runs in a Python process of its own, so each gets its own
py4j gateway JVM rather than one the other scale has warmed and churned.
The full payload goes to BENCH_LOCAL.json; stdout is ONE JSON line (metric,
value, unit, queries, runs, sf, sf1_total, sf1_worst_exponent,
detail_file), the last thing printed, with all progress on stderr.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import traceback
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from appengine_mapreduce_spark.core.runtime_metrics import Profile, profile
from appengine_mapreduce_spark.plans import bench_queries
from appengine_mapreduce_spark.session import get_spark

_REPO = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(_REPO, "BENCH_LOCAL.json")

N_ROUNDS = 3
SF1_ROUNDS = 2
# A query whose median lands under SUBSEC_MEDIAN_SEC is topped up to
# SUBSEC_SAMPLES runs: with 3 samples one host burst can move a 0.4 s
# median by more than 2x, and extra runs of sub-second queries cost little.
SUBSEC_MEDIAN_SEC = 1.0
SUBSEC_SAMPLES = 5


def _pretouch(sf_dir: str) -> None:
    """Read the fixture's parquet files through the page cache before a
    timed phase, so timings measure compute rather than cold reads (the
    warm-up pass alone does not absorb them: shuffle and JVM churn evict
    pages). What is left shows as each record's ``io_stall_us``."""
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        try:
            with open(p, "rb") as fh:
                while fh.read(1 << 24):
                    pass
        except OSError:
            pass


def _measure(spark, ordered, sf_dir: str, n_rounds: int,
             runs: dict[str, list[Profile]], rows: dict[str, int]) -> None:
    def timed(name, spec):
        with profile(spark, name) as scope:
            rows[name] = len(spec.fn(spark, sf_dir).collect())
        runs[name].append(scope.record)

    # Warm-up: whole-stage-codegen JIT, parquet footers, broadcast paths.
    for _, spec in ordered:
        spec.fn(spark, sf_dir).collect()
    for _ in range(n_rounds):
        for name, spec in ordered:
            timed(name, spec)
    subsec = [(n, s) for n, s in ordered
              if statistics.median(r.wall_s for r in runs[n]) < SUBSEC_MEDIAN_SEC]
    for _ in range(SUBSEC_SAMPLES - n_rounds):  # still interleaved
        for name, spec in subsec:
            timed(name, spec)


def _run_suite(sf_dir: str, n_rounds: int, label: str, names: list[str]) -> dict:
    """Measure the headline queries ``names`` at ``sf_dir``: JVM-only
    queries in one SparkContext, then ``udf`` queries in a fresh one."""
    specs = {n: s for n, s in bench_queries().items() if n in names}
    by_name = sorted(specs.items(), key=lambda kv: kv[0])
    phases = [
        ("jvm", [(n, s) for n, s in by_name if "udf" not in s.tags]),
        ("udf", [(n, s) for n, s in by_name if "udf" in s.tags]),
    ]
    runs: dict[str, list[Profile]] = {n: [] for n in specs}
    rows: dict[str, int] = {}
    _pretouch(sf_dir)
    for phase, ordered in phases:
        if not ordered:
            continue
        spark = get_spark(app_name=f"bench-{phase}-{label}")
        try:
            _measure(spark, ordered, sf_dir, n_rounds, runs, rows)
        finally:
            spark.stop()

    queries: dict[str, float] = {}
    spread: dict[str, float] = {}
    layers: dict[str, dict] = {}
    total = 0.0
    for _, ordered in phases:
        for name, _ in ordered:
            recs = sorted(runs[name], key=lambda r: r.wall_s)
            walls = [r.wall_s for r in recs]
            med = statistics.median(walls)
            rec = recs[len(recs) // 2]
            queries[name] = round(med, 4)
            spread[name] = round((walls[-1] - walls[0]) / med, 3) if med > 0 else 0.0
            layers[name] = asdict(rec)
            total += med
            print(
                f"# [{label}] {name}: median {med:.3f}s over {len(walls)} runs "
                f"(min {walls[0]:.3f} max {walls[-1]:.3f}, {rows[name]} rows, "
                f"{rec.jobs} jobs, shuffle {rec.shuffle_write_bytes} B, "
                f"steal {rec.steal_jiffies} io_stall {rec.io_stall_us}us)",
                file=sys.stderr,
            )
    print(f"# [{label}] total {total:.3f}s", file=sys.stderr)
    return {
        "value": round(total, 4), "queries": queries, "spread": spread,
        "runs": n_rounds, "layers": layers,
    }


def _suite_in_child(sf_dir: str, n_rounds: int, label: str) -> dict:
    """``_run_suite`` over ``bench_queries()`` in a child Python process.
    The child's stdout goes to our stderr (stdout is the one contract
    line); its result comes back through a file."""
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "suite.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--suite", sf_dir, str(n_rounds),
             label, out, *sorted(bench_queries())],
            check=True, stdout=sys.stderr,
        )
        with open(out) as fh:
            return json.load(fh)


def _ensure_sf1(sf1_dir: str) -> bool:
    """Materialize the tiled sf1 fixture if absent (tools/gen_sf.py is
    deterministic, so a regenerated fixture is byte-identical)."""
    if os.path.isdir(sf1_dir) and os.path.exists(
        os.path.join(sf1_dir, "lineitem.parquet")
    ):
        return True
    try:
        gen = os.path.join(_REPO, "tools", "gen_sf.py")
        # Child stdout goes to OUR stderr: bench's stdout contract is ONE
        # JSON line, and gen_sf.py prints per-table progress lines.
        subprocess.run(
            [sys.executable, gen, "--mult", "10", "--out", sf1_dir],
            check=True, timeout=900, stdout=sys.stderr,
        )
        return True
    except Exception as exc:  # sf1 is additive evidence, never fatal
        print(f"# sf1 generation failed: {exc}", file=sys.stderr)
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    out = _suite_in_child(sf_dir, N_ROUNDS, f"sf{sf:g}")
    detail: dict = {"sf": sf, **out}
    result = {
        "metric": "headline_queries_total",
        "value": out["value"],
        "unit": "sec",
        "queries": out["queries"],
        "runs": out["runs"],
        "sf": sf,
    }

    # One order of magnitude above the primary SF, same headline set;
    # a failure here never costs the primary numbers.
    if sf == 0.1:
        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(_REPO, "testdata", "sf1"))
        try:
            if _ensure_sf1(sf1_dir):
                sf1 = _suite_in_child(sf1_dir, SF1_ROUNDS, "sf1")
                exponents = {
                    n: round(math.log10(max(sf1["queries"][n], 1e-4) / max(t, 1e-4)), 2)
                    for n, t in out["queries"].items()
                }
                detail["sf1"] = {**sf1, "scaling_exponent_vs_sf0.1": exponents}
                result["sf1_total"] = sf1["value"]
                result["sf1_worst_exponent"] = max(exponents.values())
        except Exception:
            print("# sf1 phase failed:", file=sys.stderr)
            traceback.print_exc()

    # Durable artifact first, then the contract line as the FINAL stdout
    # output with nothing after it.
    with open(DETAIL_PATH, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"# full payload written to {DETAIL_PATH}", file=sys.stderr)
    result["detail_file"] = os.path.basename(DETAIL_PATH)
    sys.stderr.flush()
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--suite"]:  # one scale, from _suite_in_child
        sf_dir, n_rounds, label, out_path, *names = sys.argv[2:]
        result = _run_suite(sf_dir, int(n_rounds), label, names)
        with open(out_path, "w") as fh:
            json.dump(result, fh)
    else:
        main()
