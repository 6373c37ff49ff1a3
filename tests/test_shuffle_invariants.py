"""Shuffle-byte invariants: pin the bytes six
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

# query -> bytes measured at sf0.1
ANCHORS = {
    # 3-way join + window over ps_partkey; nation/region broadcast only.
    # The part-key LEFT SEMI pre-filter sits below the partsupp
    # aggregation, so the pair-agg exchange carries 0.3% of lineitem —
    # 52 kB (13_246_384 without the pre-filter; a 250x jump means it is lost)
    "q2_min_cost_supplier": 52_000,
    # EXISTS/NOT-EXISTS as per-order distinct counts, single-pass (one
    # lineitem⨝orders join feeding a pair agg + windows that reuse its
    # orderkey partitioning) — 5.1 MB (11_857_425 for the three-scan form)
    "q21_waiting_suppliers": 5_119_180,
    # 6-table profit join. partsupp is a window min over the
    # part-filtered fact, so there is no full-lineitem (partkey,suppkey)
    # aggregation exchange — 2.77 MB (10_146_432 with that exchange)
    "q9_profit_by_nation": 2_765_490,
    # as-of join: union + window, one user-key exchange. The orders-side
    # de-tie is a tiebreak in the window ORDER BY, so it has no exchange
    # of its own — 5.4 MB (7_388_588 for the two-exchange form)
    "asof_join_latest_order": 5_402_553,
    # one conditional pair aggregation over the 'small%'-semi-filtered
    # lineitem (see test_plan_quality's q20 test) — measured
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
