"""MapReduce engine benchmark: one closed-loop client, one op at a time.

    python3 perfbench/run.py --workload mr_index --seed 1 --seconds 24 --trace 0

Every run first sets up once, cold, as a caller would: start the session
(launching the JVM), import the package, and run one checked warm-up op.
``setup_s`` is the wall time of the three. ``SETTLE_OPS`` more checked
ops follow, untimed; measuring starts after them.

Modes:
- ``--trace 0`` (timed): run ops back to back until ``--seconds`` of op
  time is spent, checking every output outside the timed region. Prints
  the end-to-end metrics of ``BENCHMARK.json``.
- ``--trace 1`` (traced): run one untraced baseline op, then traced ops
  until ``--seconds`` is spent; each traced op times every layer from
  outside. Prints the per-layer metrics of ``BENCHMARK.json`` and writes
  the spans to ``.perfbench/trace-<workload>-<seed>.json``.
- ``--seconds 0`` (untimed): the warm-up op and one more checked op.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A wrong output exits with code 1 after
printing it; a missing engine or ``BENCHMARK.json`` exits with code 2
and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from tap import ProcTree, SparkTap, Tracer, host_counters  # noqa: E402
from workloads import CPUS, WORKLOADS, OpFailed, WrongOutput  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# The JIT compiler still speeds ops up after the warm-up op: on four
# cores an op's CPU time falls by ~40% over the next several ops, most
# of it in the first. One untimed op takes the steepest part away; the
# median over the measured window takes the rest.
SETTLE_OPS = 1
# The plain session's default heap: it bounds the JVM's growth, so
# peak_rss_mb repeats, and the inputs fill well under 1% of it.
API_DRIVER_MEM = "1g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """``(end_to_end, per_layer)``: metric name → unit, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def pin_environment() -> None:
    """Deployment settings, fixed before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = API_DRIVER_MEM
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* file: the run writes only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for d in (tmp, os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.spark = None
        self.tree = ProcTree()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: Counter = Counter()

    def setup(self) -> dict:
        """Start the session (the JVM launches here), import the package and
        run one checked warm-up op; returns the time of each."""
        t0 = time.perf_counter()
        self.spark = self.wl.start_session()
        t1 = time.perf_counter()
        self.wl.import_package()
        t2 = time.perf_counter()
        ok = self.attempt()
        warmup = ok[0] if ok else time.perf_counter() - t2
        out = {"session.start_s": t1 - t0, "plans.import_s": t2 - t1, "session.warmup_s": warmup}
        out["setup_s"] = sum(out.values())
        settle = []
        for _ in range(SETTLE_OPS):
            t0 = time.perf_counter()
            self.attempt()
            settle.append(round(time.perf_counter() - t0, 3))
        log("setup " + ", ".join(f"{k} {v:.3f}" for k, v in out.items()) + f"; settle ops {settle}")
        return out

    def fail(self, e: Exception) -> None:
        self.failed += 1
        if isinstance(e, OpFailed):
            self.errors.update(c.split(":", 1)[1] for c in e.classes)
        else:
            self.errors[type(e).__name__] += 1

    def wrong_output(self, e: WrongOutput) -> None:
        self.failed += 1
        self.wrong += 1
        print(f"WRONG OUTPUT: {e}", file=sys.stderr)

    def attempt(self) -> tuple[float, float] | None:
        """Run and check one op; returns its wall time and the CPU time the
        process tree spent on it, or None if it failed."""
        self.attempted += 1
        cpu0 = sum(self.tree.cpu_seconds().values())
        t0 = time.perf_counter()
        try:
            result = self.wl.op(self.spark)
        except Exception as e:  # an op that raised counts as failed, never retried
            self.fail(e)
            return None
        dt = time.perf_counter() - t0
        cpu = sum(self.tree.cpu_seconds().values()) - cpu0
        try:
            self.wl.check(result)
        except WrongOutput as e:
            self.wrong_output(e)
            return None
        return dt, cpu

    def timed(self, seconds: float, names) -> dict:
        setup = self.setup()
        times: list[float] = []
        cpus: list[float] = []
        spent = 0.0
        host0 = host_counters()
        self.tree.start_sampling()
        while True:
            t0 = time.perf_counter()
            ok = self.attempt()
            spent += time.perf_counter() - t0
            if ok is not None:
                times.append(ok[0])
                cpus.append(ok[1])
            if spent >= seconds:
                break
        peak = self.tree.stop_sampling()
        if not times:
            log("no op succeeded; nothing to report")
            return {}
        job = statistics.median(times)
        steal = host_counters()["steal_jiffies"] - host0["steal_jiffies"]
        parts = {k: round(v / 2**20) for k, v in self.tree.peak_parts.items()}
        log(f"job_s samples (n={len(times)}): {[round(t, 3) for t in times]}, "
            f"cpu_s samples: {[round(c, 2) for c in cpus]}, "
            f"host steal {steal} jiffies, peak rss MB by process {parts}")
        metrics = {
            "setup_s": setup["setup_s"],
            "job_s": job,
            "records_per_s": self.wl.records() / job,
            "peak_rss_mb": peak / 2**20,
        }
        return {k: metrics[k] for k in names}

    def traced(self, seconds: float, names) -> dict:
        tr = Tracer()
        setup = self.setup()
        cpu0 = self.tree.cpu_seconds()
        ok = self.attempt()
        base = ok[0] if ok else None
        cpu1 = self.tree.cpu_seconds()
        host0 = host_counters()
        tap = SparkTap(self.spark)
        per_op: list[dict] = []
        spent = base or 0.0
        while spent < seconds or not per_op:
            tr.op += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                per_op.append(self.wl.trace_op(self.spark, tr, tap))
            except WrongOutput as e:
                self.wrong_output(e)
            except Exception as e:  # counted in failed, never retried
                self.fail(e)
                log(f"traced op failed: {type(e).__name__}: {str(e)[:300]}")
            spent += time.perf_counter() - t0
            if not per_op and spent > 3 * seconds:
                break
        host1 = host_counters()
        if not per_op:
            return {}
        metrics = {k: 0.0 for k in names}
        metrics.update(setup)
        for key in per_op[0]:
            if not key.startswith("_"):
                metrics[key] = statistics.median(o[key] for o in per_op)
        ops = [o["_op_s"] for o in per_op]
        sums = [o["_sums"] for o in per_op]
        for field in ("write_bytes", "read_bytes", "spill_mem_bytes", "spill_disk_bytes",
                      "peak_exec_mem_bytes"):
            metrics[f"exchange.{field}"] = statistics.median(getattr(s, field) for s in sums)
        metrics["spark.executor_run_s"] = statistics.median(s.executor_run_s for s in sums)
        metrics["spark.executor_cpu_s"] = statistics.median(s.executor_cpu_s for s in sums)
        for o in per_op:
            o["_layer_sum_frac"] = o["_layer_s"] / o["_op_s"]
        metrics["trace.layer_sum_frac"] = statistics.median(o["_layer_sum_frac"] for o in per_op)
        metrics["trace.overhead_ratio"] = statistics.median(ops) / base if base else 0.0
        metrics["proc.driver_cpu_s"] = cpu1["driver"] - cpu0["driver"]
        metrics["proc.jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
        metrics["proc.pyworker_cpu_s"] = cpu1["pyworker"] - cpu0["pyworker"]
        metrics["host.steal_jiffies"] = host1["steal_jiffies"] - host0["steal_jiffies"]
        metrics["host.io_stall_us"] = host1["io_stall_us"] - host0["io_stall_us"]
        self.write_spans(tr)
        log(f"traced ops: {len(per_op)}, op_s {[round(x, 3) for x in ops]}, "
            f"layer_sum_frac {[round(o['_layer_sum_frac'], 3) for o in per_op]}")
        return {k: metrics[k] for k in names}

    def write_spans(self, tr) -> None:
        path = os.path.join(WORK, f"trace-{self.wl.name}-{self.wl.seed}.json")
        with open(path, "w") as f:
            json.dump([vars(s) for s in tr.spans], f, indent=0)

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for every child to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while len(self.tree.pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("BENCHMARK.json", "appengine_mapreduce_spark/core/job.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine not found: {need} is missing under {ROOT}")
            return 2
    end_to_end, per_layer = metric_units()
    os.makedirs(WORK, exist_ok=True)
    pin_environment()
    wl = WORKLOADS[args.workload](WORK, args.seed)

    t0 = time.perf_counter()
    wl.prepare()
    log(f"inputs+oracle {time.perf_counter() - t0:.2f}s: {json.dumps(wl.stats)}")
    runner = Runner(wl)
    try:
        units = per_layer if args.trace else end_to_end
        if args.trace:
            metrics = runner.traced(args.seconds, units)
        else:
            metrics = runner.timed(args.seconds, units)
    finally:
        runner.shutdown()
    log(f"attempted {runner.attempted}, failed {runner.failed} "
        f"(failed_frac {runner.failed / max(1, runner.attempted):.4f}), "
        f"wrong {runner.wrong}, errors {dict(runner.errors)}")
    correct = runner.wrong == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
