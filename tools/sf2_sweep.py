#!/usr/bin/env python3
"""Extend the measured scaling-exponent story one more half-decade:
run the frozen 25-headliner bench suite at an sf2 fixture
(tools/gen_sf.py --mult 20) and report per-query sf1→sf2 exponents
(log2 ratio over the 2× data growth, so 1.0 = linear, 0.0 = flat).
Round 13 additions (VERDICT r12 asks #5/#6): a STANDING sf4 phase
(tools/gen_sf.py --mult 40) re-measuring the capstones plus this run's
worst noop anchors for a third doubling each round, and limit-preserving
noop twins for the TakeOrderedAndProject suspects (q3/q5) so they
self-classify from the artifact instead of out-of-band re-measurement.

Each suite runs in its OWN subprocess: a shared JVM measured sf1-then-
sf2 inflated the sf2 numbers ~15% with 2× run-to-run spread (accumulated
context state), which first read as a fake super-linear q3 — process
isolation is what makes the exponents attributable to the data growth.

Deliberately a SEPARATE tool: bench.py's payload shape is frozen for
round-over-round comparability, so the extra decade is additive
evidence written to BENCH_SF2.json, not a change to the driver's
per-round bench contract.

Usage: python tools/sf2_sweep.py [sf2_dir] [sf1_dir] [sf4_dir]
                                 [--redo=PHASE[,PHASE...]]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from appengine_mapreduce_spark.core.runtime_metrics import cpu_stat
from bench import _pretouch

_CHILD_CODE = """
import sys, json
sys.path.insert(0, {repo!r})
import bench
out = bench._run_suite({sf_dir!r}, 3, {label!r})
print("@@RESULT@@" + json.dumps(out))
"""

# The suite times `collect()` (the bench contract — unchanged for
# comparability). For queries whose RESULT cardinality scales with SF,
# that conflates the DISTRIBUTED plan with DRIVER-SIDE row
# materialization: at sf2 the as-of join's 4M-row collect dominated,
# jittered 2-3x run-to-run (driver GC), and read as a fake 1.7-3.1
# exponent while the plan itself was flat. This second pass times
# exactly those queries through the noop sink — full execution, zero
# driver buffers — yielding plan-only exponents. Small-result queries
# (top-k, scalar aggregates) are NOT noop-timed: their collect cost is
# negligible, and for ORDER BY + LIMIT plans a write changes the
# physical strategy (global sort + limit instead of
# TakeOrderedAndProject — measured 3x slower on q21), so noop would
# measure a plan the user never runs.
_NOOP_QUERIES = (
    # result rows scale with SF (sf2 counts in parens), no final top-k
    "asof_join_latest_order",     # 2M in == 2M out
    "mapreduce_api_eventfilter",  # 402k
    "scd2_upsert",                # 396k
    "q18_large_orders",           # 302k
    "minhash_lsh_pairs",          # 280k
    "phrases_demo",               # 197k
    "simhash_fingerprints",       # 100k (one per doc)
    "repetition_signals",         # 100k
    "quality_scores",             # 100k
    "dedup_exact",                # 97k
    "hourly_event_stats",         # 72k
    "sessionize_users",           # 30k
)
_NOOP_CODE = """
import sys, json, time, statistics
sys.path.insert(0, {repo!r})
from appengine_mapreduce_spark.session import get_spark
from appengine_mapreduce_spark.plans import bench_queries
spark = get_spark(app_name={label!r})
spark.sparkContext.setLogLevel("ERROR")
specs = bench_queries()
out = {{}}
for name in {noop_queries!r}:
    runs = []
    for rnd in range(4):  # round 0 = warmup, discarded
        t0 = time.perf_counter()
        specs[name].fn(spark, {sf_dir!r}).write.format("noop").mode(
            "overwrite").save()
        runs.append(time.perf_counter() - t0)
    out[name] = round(statistics.median(runs[1:]), 4)
print("@@RESULT@@" + json.dumps(out))
"""

# Limit-preserving noop twins (VERDICT r12 ask #6): q3/q5 could not be
# noop-timed directly — a noop sink rewrites an ORDER BY + LIMIT plan
# from TakeOrderedAndProject into a global sort (measured 3x slower on
# q21), so round 12 had to re-measure them out-of-band when their
# in-suite collect exponents wobbled. Twins that time the USER'S plan
# with zero driver buffers:
#   q3: count+sum over the top-k subquery — the aggregate consumes the
#       sort column, so TakeOrderedAndProject(limit=10) survives intact
#       (plan-verified round 13); the wrapper adds one 10-row aggregate.
#   q5: a direct noop write — its plan has no ORDER BY at all (it was
#       only excluded from _NOOP_QUERIES as small-result), so the noop
#       sink changes nothing.
_LIMIT_NOOP_QUERIES = ("q3_top_orders", "q5_region_revenue")
_LIMIT_NOOP_CODE = """
import sys, json, time, statistics
sys.path.insert(0, {repo!r})
from appengine_mapreduce_spark.session import get_spark
from appengine_mapreduce_spark.plans import bench_queries
from pyspark.sql import functions as F
spark = get_spark(app_name={label!r})
spark.sparkContext.setLogLevel("ERROR")
specs = bench_queries()
out = {{}}
for name in {noop_queries!r}:
    runs = []
    for rnd in range(4):  # round 0 = warmup, discarded
        t0 = time.perf_counter()
        df = specs[name].fn(spark, {sf_dir!r})
        if name == "q3_top_orders":
            df = df.agg(F.count(F.lit(1)).alias("n"),
                        F.sum("revenue").alias("s"))
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    out[name] = round(statistics.median(runs[1:]), 4)
print("@@RESULT@@" + json.dumps(out))
"""


# Capstone anchor (VERDICT r9 ask #6): the two whole-pipeline plans at
# sf2, closing the sf0.1 -> sf1 -> sf2 exponent series. collect()-timed
# (results are per-doc/per-vec summaries, not SF-scaled blobs); own
# subprocess per SF like the suites.
# data_recipe_pack_stats joined round 14: the recipe capstone's packing
# window went SHARDED (VERDICT r13 ask #3), so its doubling exponents are
# the standing evidence that the sharded plan scales.
_CAPSTONE_NAMES = ("corpus_build_pipeline", "semantic_dedup_keepers",
                   "data_recipe_pack_stats")
_CAPSTONE_CODE = """
import sys, json, time, statistics
sys.path.insert(0, {repo!r})
from appengine_mapreduce_spark.session import get_spark
from appengine_mapreduce_spark.plans.registry import all_queries
spark = get_spark(app_name={label!r})
spark.sparkContext.setLogLevel("ERROR")
qs = all_queries()
out = {{}}
for name in {capstones!r}:
    runs = []
    for rnd in range(4):  # round 0 = warmup, discarded
        t0 = time.perf_counter()
        len(qs[name].fn(spark, {sf_dir!r}).collect())
        runs.append(time.perf_counter() - t0)
    out[name] = round(statistics.median(runs[1:]), 4)
print("@@RESULT@@" + json.dumps(out))
"""


_PHASE_CPU: "dict[str, dict]" = {}


def _child(code_tmpl: str, sf_dir: str, label: str,
           queries: "tuple | None" = None) -> dict:
    if queries is not None and not queries:
        # an explicitly-empty anchor set must not silently fall back to
        # the full 12-query suite (review r13: --redo=noop-sf4 against a
        # partial artifact would run a multi-hour phase by accident)
        raise SystemExit(
            f"phase {label}: empty query list — the artifact being "
            "redone has no anchors recorded for this phase")
    _pretouch(sf_dir)
    code = code_tmpl.format(repo=REPO, sf_dir=sf_dir, label=label,
                            noop_queries=(_NOOP_QUERIES if queries is None
                                          else queries),
                            capstones=_CAPSTONE_NAMES)
    # Per-phase host-CPU attribution (round 10): the round-10 first sweep
    # attempt was silently wrecked by a host steal burst during the sf1
    # suite window (q6 9.2s vs 0.76s clean, NEGATIVE sf1->sf2 exponents)
    # — host steal, SCALING.md's "Mode A". Sampling /proc/stat
    # around each child makes contamination visible IN the artifact, so
    # a reader (or a re-run decision) never needs an out-of-band probe.
    s0, i0, io0 = cpu_stat()
    t0 = __import__("time").time()
    proc = subprocess.run(
        [sys.executable, "-c", code], stdout=subprocess.PIPE, timeout=3600)
    wall = __import__("time").time() - t0
    s1, i1, io1 = cpu_stat()
    _PHASE_CPU[label] = {
        "wall_sec": round(wall, 1),
        "steal_d": s1 - s0 if s0 >= 0 else -1,
        "idle_d": i1 - i0 if i0 >= 0 else -1,
        "io_stall_us_d": io1 - io0 if io0 >= 0 else -1,
    }
    proc.check_returncode()
    for line in proc.stdout.decode().splitlines():
        if line.startswith("@@RESULT@@"):
            return json.loads(line[len("@@RESULT@@"):])
    raise RuntimeError(f"no result line from {label} child")


def _suite(sf_dir: str, label: str) -> dict:
    return _child(_CHILD_CODE, sf_dir, label)


def _noop_merge(out: dict) -> None:
    """Recompute the sf1→sf2 noop exponents from the (possibly twin-
    merged) per-SF noop maps."""
    out["noop_exponent_sf1_to_sf2_log2"] = {
        n: round(math.log2(
            max(out["sf2_noop_queries"][n], 1e-4)
            / max(out["sf1_noop_queries"][n], 1e-4)), 2)
        for n in out["sf1_noop_queries"]
        if n in out["sf2_noop_queries"]
    }
    out["worst_noop_exponent"] = max(
        out["noop_exponent_sf1_to_sf2_log2"].values())


def _sf4_merge(out: dict) -> None:
    """Recompute the sf2→sf4 exponents (third doubling) for whatever
    anchors the sf4 noop phase measured, plus the capstones."""
    if "sf4_noop_queries" in out:
        out["noop_exponent_sf2_to_sf4_log2"] = {
            n: round(math.log2(
                max(out["sf4_noop_queries"][n], 1e-4)
                / max(out["sf2_noop_queries"][n], 1e-4)), 2)
            for n in out["sf4_noop_queries"]
            if n in out["sf2_noop_queries"]
        }
        out["worst_noop_exponent_sf2_to_sf4"] = max(
            out["noop_exponent_sf2_to_sf4_log2"].values())
    for blk in out["capstones"].values():
        if "sf4_sec" in blk and "sf2_sec" in blk:
            blk["scaling_exponent_sf2_to_sf4_log2"] = round(
                math.log2(max(blk["sf4_sec"], 1e-4)
                          / max(blk["sf2_sec"], 1e-4)), 2)


def _redo_phases(artifact: str, phases: "list[str]",
                 sf_dirs: "dict[str, str]") -> None:
    """Re-measure selected phases and merge into an existing artifact —
    burst recovery on a shared host: when phase_cpu shows a steal burst
    wrecked one phase (round-10 hit three sweeps in a row in different
    windows), re-run just that phase in a quiet window instead of
    rolling the dice on the whole ~40 min sweep again. Updated
    phase_cpu entries ride along, so the artifact still self-attributes."""
    with open(artifact) as fh:
        out = json.load(fh)
    for ph in phases:
        key = ph.rsplit("sf", 1)[-1]
        key = f"sf{key}"
        sf_dir = sf_dirs[key]
        if ph.startswith("cap"):
            res = _child(_CAPSTONE_CODE, sf_dir, ph)
            for n, v in res.items():
                # setdefault: a redo may introduce a capstone name added
                # to _CAPSTONE_NAMES after the artifact was written
                # (round 14 added the recipe capstone this way)
                out["capstones"].setdefault(n, {})[f"{key}_sec"] = v
            for n, blk in out["capstones"].items():
                if "sf1_sec" in blk and "sf2_sec" in blk:
                    blk["scaling_exponent_log2"] = round(
                        math.log2(max(blk["sf2_sec"], 1e-4)
                                  / max(blk["sf1_sec"], 1e-4)), 2)
            _sf4_merge(out)
        elif ph.startswith("limitnoop"):
            res = _child(_LIMIT_NOOP_CODE, sf_dir, ph,
                         queries=_LIMIT_NOOP_QUERIES)
            # setdefault: a --redo against an artifact that predates the
            # twin merge (or a partial phase run) must not KeyError
            # (ADVICE r13)
            out.setdefault(f"{key}_noop_queries", {}).update(res)
            _noop_merge(out)
            # twin sf2 numbers are denominators of the sf2->sf4
            # exponents too (review r13)
            _sf4_merge(out)
        elif ph.startswith("noop") and key == "sf4":
            anchors = tuple(n for n in out.get("sf4_noop_queries", ())
                            if n not in _LIMIT_NOOP_QUERIES)
            res = _child(_NOOP_CODE, sf_dir, ph, queries=anchors)
            res.update(_child(_LIMIT_NOOP_CODE, sf_dir, f"limit{ph}",
                              queries=_LIMIT_NOOP_QUERIES))
            out["sf4_noop_queries"] = res
            _sf4_merge(out)
        elif ph.startswith("noop"):
            prev = out.get(f"{key}_noop_queries", {})
            res = _child(_NOOP_CODE, sf_dir, ph)
            # keep the limit twins' previous numbers (they are measured
            # by their own limitnoop-{sf} phase, not this one)
            for n in _LIMIT_NOOP_QUERIES:
                if n in prev:
                    res[n] = prev[n]
            out[f"{key}_noop_queries"] = res
            _noop_merge(out)
            # a redone sf2 map also re-bases the sf2->sf4 exponents
            # (review r13: stale denominators otherwise)
            _sf4_merge(out)
        else:
            res = _child(_CHILD_CODE, sf_dir, ph)
            out[f"{key}_total"] = res["value"]
            out[f"{key}_queries"] = res["queries"]
            out[f"{key}_spread"] = res["spread"]
            out["scaling_exponent_sf1_to_sf2_log2"] = {
                n: round(math.log2(
                    max(out["sf2_queries"][n], 1e-4)
                    / max(out["sf1_queries"][n], 1e-4)), 2)
                for n in out["sf1_queries"]
            }
            out["worst_exponent"] = max(
                out["scaling_exponent_sf1_to_sf2_log2"].values())
    out["phase_cpu"].update(_PHASE_CPU)
    with open(artifact, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"# merged phases {phases} into {artifact}", file=sys.stderr)
    print(json.dumps({k: out[k] for k in (
        "sf1_total", "sf2_total", "worst_exponent",
        "worst_noop_exponent", "capstones") if k in out}))


_VALID_PHASES = ("sf1", "sf2", "noop-sf1", "noop-sf2", "cap-sf1",
                 "cap-sf2", "limitnoop-sf1", "limitnoop-sf2",
                 "noop-sf4", "cap-sf4")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--redo")]
    redo = []
    for a in sys.argv[1:]:
        if a.startswith("--redo"):
            # A bare --redo (no '=phase,...') used to be stripped and
            # silently ignored (ADVICE r10) — error instead.
            if not a.startswith("--redo="):
                raise SystemExit(
                    f"unrecognized form {a!r}: use --redo=PHASE[,PHASE...] "
                    f"with phases from {_VALID_PHASES}"
                )
            redo.append(a.split("=", 1)[1])
    if redo:
        bad = [p for p in redo[0].split(",") if p not in _VALID_PHASES]
        if bad:
            # _redo_phases routes any label not ending in 'sf1' to sf2 —
            # a typo must not silently overwrite sf2 entries (ADVICE r10).
            raise SystemExit(
                f"unknown redo phase(s) {bad}: valid phases are "
                f"{_VALID_PHASES}"
            )
    sf2_dir = args[0] if len(args) > 0 else os.path.join(
        REPO, "testdata", "sf2")
    sf1_dir = args[1] if len(args) > 1 else os.path.join(
        REPO, "testdata", "sf1")
    sf4_dir = args[2] if len(args) > 2 else os.path.join(
        REPO, "testdata", "sf4")
    if not os.path.isdir(sf2_dir):
        raise SystemExit(f"missing sf2 fixture {sf2_dir} — run "
                         "tools/gen_sf.py --mult 20 first")
    # STANDING sf4 phase (VERDICT r12 ask #5): the third doubling
    # regenerates every round, not once — hence a hard error like sf2
    # for a full sweep. A redo only needs the fixtures of the phases it
    # actually re-measures (review r13: an sf1/sf2-only redo must not
    # demand sf4 back).
    needs_sf4 = not redo or any(p.endswith("sf4")
                                for p in redo[0].split(","))
    if needs_sf4 and not os.path.isdir(sf4_dir):
        raise SystemExit(f"missing sf4 fixture {sf4_dir} — run "
                         "tools/gen_sf.py --mult 40 first")
    artifact = os.path.join(REPO, "BENCH_SF2.json")
    if redo:
        _redo_phases(artifact, redo[0].split(","),
                     {"sf1": sf1_dir, "sf2": sf2_dir, "sf4": sf4_dir})
        return

    sf1 = _suite(sf1_dir, "sf1")
    sf2 = _suite(sf2_dir, "sf2")
    noop1 = _child(_NOOP_CODE, sf1_dir, "noop-sf1")
    noop2 = _child(_NOOP_CODE, sf2_dir, "noop-sf2")
    # limit-preserving twins for the TakeOrderedAndProject suspects
    # (VERDICT r12 ask #6) — merged into the noop maps so q3/q5
    # self-classify in the same exponent table as the other anchors
    noop1.update(_child(_LIMIT_NOOP_CODE, sf1_dir, "limitnoop-sf1",
                        queries=_LIMIT_NOOP_QUERIES))
    noop2.update(_child(_LIMIT_NOOP_CODE, sf2_dir, "limitnoop-sf2",
                        queries=_LIMIT_NOOP_QUERIES))
    cap1 = _child(_CAPSTONE_CODE, sf1_dir, "cap-sf1")
    cap2 = _child(_CAPSTONE_CODE, sf2_dir, "cap-sf2")
    noop_exponents = {
        n: round(math.log2(max(noop2[n], 1e-4) / max(noop1[n], 1e-4)), 2)
        for n in noop1
    }
    # third doubling (sf2 → sf4): capstones + this run's worst noop
    # anchors + the limit twins, so the linearity evidence regenerates
    # each round instead of resting on the round-12 one-off
    worst_anchors = tuple(
        n for n, _ in sorted(noop_exponents.items(),
                             key=lambda t: -t[1])
        if n not in _LIMIT_NOOP_QUERIES
    )[:3]
    noop4 = _child(_NOOP_CODE, sf4_dir, "noop-sf4", queries=worst_anchors)
    noop4.update(_child(_LIMIT_NOOP_CODE, sf4_dir, "limitnoop-sf4",
                        queries=_LIMIT_NOOP_QUERIES))
    cap4 = _child(_CAPSTONE_CODE, sf4_dir, "cap-sf4")
    capstones = {
        n: {
            "sf1_sec": cap1[n],
            "sf2_sec": cap2[n],
            "sf4_sec": cap4[n],
            "scaling_exponent_log2": round(
                math.log2(max(cap2[n], 1e-4) / max(cap1[n], 1e-4)), 2),
            "scaling_exponent_sf2_to_sf4_log2": round(
                math.log2(max(cap4[n], 1e-4) / max(cap2[n], 1e-4)), 2),
        }
        for n in cap1
    }
    exponents = {
        n: round(
            math.log2(max(sf2["queries"][n], 1e-4)
                      / max(sf1["queries"][n], 1e-4)), 2)
        for n in sf1["queries"]
    }
    noop_exponents_sf4 = {
        n: round(math.log2(max(noop4[n], 1e-4) / max(noop2[n], 1e-4)), 2)
        for n in noop4 if n in noop2
    }
    out = {
        "metric": "sf2_sweep",
        "sf1_total": sf1["value"],
        "sf2_total": sf2["value"],
        "sf1_queries": sf1["queries"],
        "sf2_queries": sf2["queries"],
        "sf1_spread": sf1["spread"],
        "sf2_spread": sf2["spread"],
        "scaling_exponent_sf1_to_sf2_log2": exponents,
        "worst_exponent": max(exponents.values()),
        "sf1_noop_queries": noop1,
        "sf2_noop_queries": noop2,
        "noop_exponent_sf1_to_sf2_log2": noop_exponents,
        "worst_noop_exponent": max(noop_exponents.values()),
        "sf4_noop_queries": noop4,
        "noop_exponent_sf2_to_sf4_log2": noop_exponents_sf4,
        "worst_noop_exponent_sf2_to_sf4": max(noop_exponents_sf4.values()),
        "capstones": capstones,
        "phase_cpu": _PHASE_CPU,
    }
    with open(artifact, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"# written to {artifact}", file=sys.stderr)
    print(json.dumps({k: out[k] for k in (
        "sf1_total", "sf2_total", "worst_exponent",
        "worst_noop_exponent", "capstones")}))


if __name__ == "__main__":
    main()
