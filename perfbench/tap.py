"""Measurement taps used from outside the engine.

- ``ProcTree``: the driver's process tree from ``/proc`` — resident
  memory (sampled by a background thread for the peak) and CPU split
  between the driver, the JVM and the Python workers.
- ``host_counters``: host steal jiffies and io-pressure stall, for
  attributing noise.
- ``SparkTap``: scopes Spark jobs to a span with a job group and reads the
  stage metrics of those jobs from Spark's status store (the store the
  engine's ``core.runtime_metrics`` reads).
- ``Tracer``: spans (name, start, end, parent, op id) kept in memory.
- ``recording``: wraps a module's functions for a while and records each
  call's arguments, result and duration.
"""

from __future__ import annotations

import inspect
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[2]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _kind(self, pid: int, comm: str) -> str:
        if pid == self.root:
            return "driver"
        if comm == "java":
            return "jvm"
        return "pyworker"

    def rss_bytes(self) -> dict[str, int]:
        """Resident bytes by process kind (driver, jvm, pyworker). Pages
        shared between processes (forked Python workers share most of
        theirs) are counted once, split among the sharers (PSS)."""
        out = {"driver": 0, "jvm": 0, "pyworker": 0}
        for pid in self.pids():
            st = _stat(pid)
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            if st is not None:
                out[self._kind(pid, st[0])] += pss_kb * 1024
        return out

    def cpu_seconds(self) -> dict[str, float]:
        """Cumulative CPU of the driver, the JVM and the Python workers.
        Workers that exited are counted in their parent's reaped-children
        time, so a worker's CPU is never lost between two readings."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            kind = self._kind(pid, st[0])
            out[kind] += (int(st[12]) + int(st[13])) / _HZ
            if kind == "pyworker":
                out[kind] += (int(st[14]) + int(st[15])) / _HZ
        return out

    def _sample(self, every: float) -> None:
        while not self._stop.wait(every):
            rss = self.rss_bytes()
            if sum(rss.values()) > self.peak_rss:
                self.peak_rss, self.peak_parts = sum(rss.values()), rss

    def start_sampling(self, every: float = 0.05) -> None:
        self.peak_parts = self.rss_bytes()
        self.peak_rss = sum(self.peak_parts.values())
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, args=(every,), daemon=True)
        self._thread.start()

    def stop_sampling(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_rss


def host_counters() -> dict[str, int]:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    stall = 0
    try:
        with open("/proc/pressure/io") as f:
            for line in f:
                if line.startswith("some"):
                    stall = int(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return {"steal_jiffies": steal, "io_stall_us": stall}


@dataclass
class StageSums:
    jobs: int = 0
    write_bytes: int = 0
    read_bytes: int = 0
    spill_mem_bytes: int = 0
    spill_disk_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0

    def add(self, other: "StageSums") -> None:
        for k in ("jobs", "write_bytes", "read_bytes", "spill_mem_bytes",
                  "spill_disk_bytes", "executor_run_s", "executor_cpu_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.peak_exec_mem_bytes = max(self.peak_exec_mem_bytes, other.peak_exec_mem_bytes)


class SparkTap:
    """Job-group scoping and per-group stage metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def sums(self, gid: str) -> StageSums:
        """Stage metrics of every job run under ``gid`` (all attempts)."""
        from py4j.protocol import Py4JJavaError

        # stage metrics arrive through the listener bus after the action returns
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        out = StageSums()
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(
                        sid, False, jvm.java.util.ArrayList(), False,
                        self.sc._gateway.new_array(jvm.double, 0),
                    )
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    out.write_bytes += s.shuffleWriteBytes()
                    out.read_bytes += s.shuffleReadBytes()
                    out.spill_mem_bytes += s.memoryBytesSpilled()
                    out.spill_disk_bytes += s.diskBytesSpilled()
                    out.peak_exec_mem_bytes = max(out.peak_exec_mem_bytes, s.peakExecutionMemory())
                    out.executor_run_s += s.executorRunTime() / 1e3
                    out.executor_cpu_s += s.executorCpuTime() / 1e9
        return out


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``spans`` is written out when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    @contextmanager
    def __call__(self, name: str, **attrs):
        parent = self._stack[-1].name if self._stack else None
        span = Span(name, self.op, time.perf_counter(), parent=parent, attrs=attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(span)

    def total(self, name: str, op: int | None = None) -> float:
        return sum(s.seconds for s in self.spans if s.name == name and (op is None or s.op == op))


@dataclass
class Call:
    args: dict  # parameter name -> value
    result: object
    seconds: float


@contextmanager
def recording(module, *names: str):
    """Replace ``module.<name>`` for each name by a wrapper that records
    every call as a ``Call``; yields ``{name: [Call, ...]}`` and puts the
    originals back on exit."""
    calls: dict[str, list[Call]] = {n: [] for n in names}
    saved = {n: getattr(module, n) for n in names}

    def wrap(name, fn):
        sig = inspect.signature(fn)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            calls[name].append(Call(dict(sig.bind(*args, **kwargs).arguments), out, dt))
            return out

        return wrapper

    for n, fn in saved.items():
        setattr(module, n, wrap(n, fn))
    try:
        yield calls
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)
