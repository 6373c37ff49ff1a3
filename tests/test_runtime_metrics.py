"""``core.runtime_metrics.profile``: one job-group-scoped record per block.

- It agrees with perfbench's own tap (``perfbench/tap.SparkTap``), the
  benchmark's yardstick, which the engine must not share code with: the
  two read the same store for the same job group.
- Its peak execution memory is the block's own, not the largest peak of
  every stage the context has kept.
- It leaves the caller's job group as it found it, also when the block
  raises.
- Its host channels read the same counters as perfbench's
  ``host_counters``, so a stall has one meaning in both.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from appengine_mapreduce_spark.core.runtime_metrics import cpu_stat, profile
from appengine_mapreduce_spark.plans.registry import all_queries
from conftest import SF_CORRECT

_TAP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "tap.py")


def _perfbench_tap():
    spec = importlib.util.spec_from_file_location("perfbench_tap", _TAP)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(mod)
    return mod


def test_profile_agrees_with_perfbench_tap(spark):
    with profile(spark, "q21") as scope:
        all_queries()["q21_waiting_suppliers"].fn(spark, SF_CORRECT).collect()
    rec = scope.record
    ref = _perfbench_tap().SparkTap(spark).sums(scope.group_id)
    assert rec.jobs == ref.jobs > 0
    assert rec.shuffle_write_bytes == ref.write_bytes > 0
    assert rec.shuffle_read_bytes == ref.read_bytes
    assert rec.executor_run_s == pytest.approx(ref.executor_run_s, rel=0.1)


def test_profile_peak_is_per_scope(spark):
    qs = all_queries()
    with profile(spark, "q9") as big:
        qs["q9_profit_by_nation"].fn(spark, SF_CORRECT).collect()
    with profile(spark, "q20") as small:
        qs["q20_promotion_suppliers"].fn(spark, SF_CORRECT).collect()
    assert 0 < small.record.peak_execution_memory_bytes < big.record.peak_execution_memory_bytes


def test_profile_restores_caller_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        with profile(spark, "ok") as scope:
            assert sc.getLocalProperty("spark.jobGroup.id") == scope.group_id
            spark.range(10).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert scope.record.jobs >= 1

        with pytest.raises(ValueError, match="boom"):
            with profile(spark, "raises") as failed:
                raise ValueError("boom")
        assert failed.record is None
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_cpu_stat_reads_the_counters_perfbench_reads():
    try:
        with open("/proc/pressure/io") as fh:
            fh.read()
    except OSError:
        pytest.skip("/proc/pressure/io is unreadable")
    host_counters = _perfbench_tap().host_counters
    before = host_counters()
    steal, io_stall = cpu_stat()
    after = host_counters()
    assert before["steal_jiffies"] <= steal <= after["steal_jiffies"]
    assert before["io_stall_us"] <= io_stall <= after["io_stall_us"]
