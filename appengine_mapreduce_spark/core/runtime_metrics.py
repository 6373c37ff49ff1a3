"""One scoped measurement tap: :func:`profile` times a block of driver
code and reads what its Spark jobs did from Spark's AppStatusStore (the
store behind the UI and the REST status API; no listener plumbing).

The block's jobs run in a job group of their own, so the record counts
those jobs alone: a query profiled after another reports its own shuffle
bytes, spill and peak execution memory, not a running total. bench.py,
the spill and packing-skew probes and the shuffle-byte tests all read
this one record. ``perfbench/tap.SparkTap`` reads the same store the
same way, and ``tests/test_runtime_metrics.py`` checks that the two
agree.

Reference parity note: the reference rolls its per-job counters up from
per-shard state (python/src/mapreduce/model.py CounterMap, io-*
counters); here Spark already meters every stage, so the tap is
read-only. :func:`cpu_stat` adds the host-noise channels (steal,
io stall) each record is attributed with.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession

# Local properties a job group sets (SparkContext.setJobGroup).
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def cpu_stat() -> tuple[int, int]:
    """(steal jiffies, PSI io some-stall µs) of the host, from
    ``/proc/stat`` and ``/proc/pressure/io``; -1 when a channel is
    unreadable. The io channel is the ``some`` total, the stall
    ``perfbench/tap.host_counters`` reads. Diff two reads around a timed
    phase: steal bursts and disk-writeback stalls are distinct noise
    modes on a shared host."""
    try:
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        steal = -1
    io_us = -1
    try:
        with open("/proc/pressure/io") as fh:
            for line in fh:
                if line.startswith("some"):
                    io_us = int(line.rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        pass
    return steal, io_us


@dataclass(frozen=True)
class Profile:
    """What one profiled block cost. Stage metrics sum every attempt of
    every stage the block's jobs ran; a skipped stage (its shuffle output
    reused) never ran and adds nothing. Host deltas are -1 when the
    channel is unreadable."""

    wall_s: float
    jobs: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_memory_bytes: int
    spill_disk_bytes: int
    peak_execution_memory_bytes: int  # max over the block's stages
    executor_run_s: float
    executor_cpu_s: float
    steal_jiffies: int
    io_stall_us: int


class ProfileScope:
    """What :func:`profile` yields: the block's job-group id, and the
    block's :class:`Profile` in ``record`` once the block has exited
    normally."""

    def __init__(self, group_id: str):
        self.group_id = group_id
        self.record: Profile | None = None


@contextmanager
def profile(spark: SparkSession, label: str) -> Iterator[ProfileScope]:
    """Run the block's Spark jobs in a fresh job group and, on exit,
    set ``scope.record``. The caller's job group is restored on exit,
    also when the block raises (then no record is made)."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    scope = ProfileScope(f"profile-{label}-{uuid.uuid4().hex[:12]}")
    sc.setJobGroup(scope.group_id, label)
    s0, io0 = cpu_stat()
    t0 = time.perf_counter()
    try:
        yield scope
        wall = time.perf_counter() - t0
        s1, io1 = cpu_stat()
    finally:
        for k, v in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)
    steal = s1 - s0 if s0 >= 0 and s1 >= 0 else -1
    io = io1 - io0 if io0 >= 0 and io1 >= 0 else -1
    scope.record = _group_totals(spark, scope.group_id, wall, steal, io)


def _group_totals(spark: SparkSession, gid: str, wall: float, steal: int, io: int) -> Profile:
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # stage metrics arrive through the listener bus after the action returns
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    jvm = sc._jvm
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(gid)
    rd = wr = mem = disk = peak = 0
    run_ms = cpu_ns = 0
    seen: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
            except Py4JJavaError:  # a skipped stage never ran
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                rd += s.shuffleReadBytes()
                wr += s.shuffleWriteBytes()
                mem += s.memoryBytesSpilled()
                disk += s.diskBytesSpilled()
                peak = max(peak, s.peakExecutionMemory())
                run_ms += s.executorRunTime()
                cpu_ns += s.executorCpuTime()
    return Profile(
        wall_s=wall, jobs=len(jobs),
        shuffle_read_bytes=rd, shuffle_write_bytes=wr,
        spill_memory_bytes=mem, spill_disk_bytes=disk,
        peak_execution_memory_bytes=peak,
        executor_run_s=run_ms / 1e3, executor_cpu_s=cpu_ns / 1e9,
        steal_jiffies=steal, io_stall_us=io,
    )
