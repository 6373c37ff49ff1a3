"""Runtime metric taps over Spark's AppStatusStore (the store behind the
UI / REST status API — public monitoring surface, no listener plumbing).

Used by bench.py to attribute shuffle bytes per query (plan regressions
show up as metric diffs even when wall-clock noise hides them) and by the
spill probe to prove external sort/agg carries constrained-memory runs.
:func:`cpu_stat` reads the host-noise channels the bench and the tools
attribute each timed phase with.

Reference parity note: the reference framework exposes the same class of
evidence through per-job counters (python/src/mapreduce/model.py
CounterMap, io-* counters); here the engine already meters every stage,
so the tap is read-only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


def cpu_stat() -> tuple[int, int, int]:
    """(steal jiffies, idle jiffies, PSI io full-stall µs) of the host,
    from ``/proc/stat`` and ``/proc/pressure/io``; -1 when a channel is
    unreadable. Diff two reads around a timed phase: steal bursts and
    disk-writeback stalls are distinct noise modes on a shared host."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        steal, idle = int(f[8]), int(f[4])
    except (OSError, IndexError, ValueError):
        steal, idle = -1, -1
    io_us = -1
    try:
        with open("/proc/pressure/io") as fh:
            for line in fh:
                if line.startswith("full"):
                    io_us = int(line.rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        pass
    return steal, idle, io_us


def total_shuffle_write_bytes(spark: SparkSession) -> int:
    """Monotonic total of shuffle bytes written across all executors
    since context start. Executor summaries are never evicted (unlike
    retained stages), so before/after diffs are exact per-query shuffle
    attribution even in long bench runs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    lst = store.executorList(True)
    return sum(lst.apply(i).totalShuffleWrite() for i in range(lst.size()))


@dataclass(frozen=True)
class StageTotals:
    n_stages: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    memory_spill_bytes: int
    disk_spill_bytes: int
    peak_execution_memory: int


def stage_totals(spark: SparkSession) -> StageTotals:
    """Sum stage-level metrics across all RETAINED stages (default
    retention 1000 — fine for one probe run; prefer
    :func:`total_shuffle_write_bytes` for long-lived diffs)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    sl = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    sw = sr = ms = ds = pm = 0
    n = sl.size()
    for i in range(n):
        s = sl.apply(i)
        sw += s.shuffleWriteBytes()
        sr += s.shuffleReadBytes()
        ms += s.memoryBytesSpilled()
        ds += s.diskBytesSpilled()
        pm = max(pm, s.peakExecutionMemory())
    return StageTotals(n, sw, sr, ms, ds, pm)
