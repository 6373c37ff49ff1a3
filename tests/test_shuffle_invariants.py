"""Shuffle-byte invariants (VERDICT r4 ask #7): pin the bytes six
anchor plans move through the exchange at sf0.1. Wall-clock drifts with
VM weather; shuffle bytes only move when the PLAN moves — a lost
broadcast, a dropped partial aggregation, or a join reorder shows up
here as an order-of-magnitude jump long before it is visible over bench
noise.

Expected values are the shuffle bytes written by one collect's own Spark
jobs (``runtime_metrics.profile``, scoped by job group); bounds are wide
(0.4x-2.5x) because codec ratios and partition counts wobble the exact
byte count, while the failure modes we guard against change it by 10x or
more.
"""

from __future__ import annotations

import pytest

from appengine_mapreduce_spark.core.runtime_metrics import profile
from appengine_mapreduce_spark.plans.registry import all_queries

SF_DIR = "/root/testdata/sf0.1"

# query -> bytes measured at sf0.1 (round-5 build box unless noted)
ANCHORS = {
    # 3-way join + window over ps_partkey; nation/region broadcast only.
    # Round 14: the part-key LEFT SEMI pre-filter moved below the partsupp
    # aggregation (opt guide §2.3/§3.2), so the pair-agg exchange carries
    # 0.3% of lineitem — re-measured 52 kB (was 13_246_384 at the r5 plan;
    # the 250x drop IS the optimization, see OPTIMIZATION_r14.md)
    "q2_min_cost_supplier": 52_000,
    # EXISTS/NOT-EXISTS as per-order distinct counts. Round 14: single-
    # pass form (one lineitem⨝orders join feeding a pair agg + windows
    # that reuse its orderkey partitioning) — re-measured 5.1 MB (was
    # 11_857_425 at the three-scan r5 plan; see OPTIMIZATION_r14.md)
    "q21_waiting_suppliers": 5_119_180,
    # 6-table profit join. Round 15: the separate partsupp derivation is
    # a window min over the part-filtered fact (opt guide §2.4), so the
    # full-lineitem (partkey,suppkey) aggregation exchange is gone —
    # re-measured 2.77 MB (was 10_146_432 at the r14 plan; the 3.7x drop
    # IS the optimization, see the round-15 q9 entry in CHANGES.md)
    "q9_profit_by_nation": 2_765_490,
    # as-of join: union + window, one user-key exchange. Round 14: the
    # orders-side de-tie pre-aggregation folded into the window ORDER BY
    # as a tiebreak (opt guide §2.4), deleting its exchange — re-measured
    # 5.4 MB (was 7_388_588 at the two-exchange r5 plan; see
    # OPTIMIZATION_r14.md #11)
    "asof_join_latest_order": 5_402_553,
    # one conditional pair aggregation over the 'small%'-semi-filtered
    # lineitem (round 15 fold; see test_plan_quality's q20 test) — measured
    # 950_499 at local[4] on a 4-core box
    "q20_promotion_suppliers": 950_499,
    # full lineitem scan -> 6 groups: partial agg must stay map-side
    # (bytes here are FINAL agg rows only — kilobytes, not the table)
    "q1_pricing_summary": 1_026,
}
LO, HI = 0.4, 2.5


@pytest.mark.parametrize("name", sorted(ANCHORS))
def test_shuffle_bytes_pinned(spark, name):
    qs = all_queries()
    with profile(spark, name) as scope:
        qs[name].fn(spark, SF_DIR).collect()
    moved = scope.record.shuffle_write_bytes
    exp = ANCHORS[name]
    assert exp * LO <= moved <= exp * HI, (
        f"{name}: shuffled {moved} bytes, expected ~{exp} "
        f"([{int(exp * LO)}, {int(exp * HI)}]) — the plan changed shape "
        "(lost broadcast / partial agg / join order), not just speed"
    )
