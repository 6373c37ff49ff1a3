"""The benchmark's workloads.

Each workload knows how to make its seeded inputs and their expected
output (outside any timed region), start its session, import the
package, run one op, check an op's output, and run one traced op whose
layers are timed from outside by materialising successive prefixes of
the op's plan with Spark's ``noop`` writer.

A traced op returns its per-layer values by metric name, plus
``_op_s`` (the wall time of the real op, timed on its own), ``_layer_s``
(the layer times that should add up to it) and ``_sums`` (the stage
metrics of the real op's Spark jobs).
"""

from __future__ import annotations

import hashlib
import importlib
import os
import sys
from collections import Counter

import pyarrow.parquet as pq

import inputs
import udfs
from tap import SparkTap, StageSums, Tracer, recording

try:
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(udfs)
except ImportError:  # checked by run.py before any workload runs
    pass

CPUS = len(os.sched_getaffinity(0))


class WrongOutput(AssertionError):
    """An op's output disagreed with the replay of its inputs."""


class OpFailed(RuntimeError):
    """Some queries of a multi-query op raised; ``classes`` names them."""

    def __init__(self, classes: list[str]):
        super().__init__(", ".join(classes))
        self.classes = classes


def purge_package() -> None:
    """Forget the package so the next set-up imports it afresh."""
    for name in list(sys.modules):
        if name == "__spark_entry__" or name.startswith("appengine_mapreduce_spark"):
            del sys.modules[name]


def noop(df) -> None:
    """Run ``df``'s whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _prefix_self_times(tr: Tracer, prefixes) -> dict[str, float]:
    """Materialise each prefix (name → DataFrame, in plan order) with a
    noop write; a layer's self time is its prefix's time minus the
    previous prefix's."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, df in prefixes:
        with tr(name) as sp:
            noop(df)
        out[name] = sp.seconds - prev
        prev = sp.seconds
    return out


def _dir_files(path: str) -> tuple[int, int]:
    files = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")]
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    name = ""

    def __init__(self, cache: str, seed: int):
        self.cache = cache
        self.seed = seed
        self.out_dir = os.path.join(cache, "out", self.name)
        self.stats: dict = {}

    # --- set-up ---------------------------------------------------------

    def start_session(self):
        raise NotImplementedError

    def import_package(self) -> None:
        raise NotImplementedError

    # --- the op ------------------------------------------------------------

    def prepare(self) -> None:
        """Make inputs and the expected output; fills ``self.stats``."""
        raise NotImplementedError

    def records(self) -> int:
        """Input records one op reads."""
        return self.stats["rows"]

    def op(self, spark):
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError

    def trace_op(self, spark, tr: Tracer, tap: SparkTap) -> dict:
        raise NotImplementedError


# --- MapReduceJob ----------------------------------------------------------------


class MrIndex(Workload):
    """``MapReduceJob.run``: the reference's Index demo over zipf text."""

    name = "mr_index"
    SIZE = {"lines": 16_000, "vocab": 1_000, "files": CPUS}

    def start_session(self):
        from appengine_mapreduce_spark.session import get_spark

        return get_spark(app_name=f"perfbench-{self.name}")

    def import_package(self) -> None:
        self.job = importlib.import_module("appengine_mapreduce_spark.core.job")
        self.files = importlib.import_module("appengine_mapreduce_spark.sinks.files")

    def prepare(self) -> None:
        self.path, st = inputs.corpus(os.path.join(self.cache, "inputs"), self.seed, **self.SIZE)
        n: Counter = Counter()
        first: dict[str, int] = {}
        recs = inputs.read_corpus(self.path)
        for off, line in recs:
            for w in set(line.split()):
                n[w] += 1
                if first.get(w, off) >= off:
                    first[w] = off
        self.expected = sorted((w, c, first[w]) for w, c in n.items())
        self.stats = dict(
            st, pairs=sum(n.values()), distinct_keys=len(n),
            hot_key_share=round(max(n.values()) / len(recs), 4),
        )

    def spec(self):
        j = self.job
        return (
            j.MapReduceSpecification.builder()
            .set_job_name("index")
            .set_input(j.TextLinesInput(os.path.join(self.path, "*.txt"), with_offsets=True))
            .set_mapper(udfs.index_mapper)
            .set_map_output_schema("word string, offset bigint")
            .set_reducer(udfs.index_reducer)
            .set_output_schema("word string, n_lines bigint, first_offset bigint")
            .set_output(self.files.FileOutput(self.out_dir, sort_by=["word"]))
            .build()
        )

    def op(self, spark):
        return self.job.MapReduceJob.run(spark, self.spec())

    def check(self, result) -> None:
        names = sorted(f for f in os.listdir(self.out_dir) if f.startswith("part-"))
        got = []
        for f in names:
            t = pq.read_table(os.path.join(self.out_dir, f))
            got.extend(zip(*(t.column(c).to_pylist() for c in ("word", "n_lines", "first_offset"))))
        if got != self.expected:
            raise WrongOutput(
                f"mr_index: {len(got)} rows vs {len(self.expected)} expected "
                f"(sorted={got == sorted(got)}, same set={sorted(got) == self.expected})"
            )

    def trace_op(self, spark, tr, tap) -> dict:
        """Let ``MapReduceJob.plan`` build the op's DataFrame while the
        package functions it calls are recorded; their inputs and outputs
        are the plan's prefixes. The reduce output is cached as it is
        timed, so the sink is then timed on its own; the real op follows
        under its own job group."""
        spec = self.spec()
        with recording(self.job, "ensure_parallelism", "run_mapper", "run_reducer") as calls:
            with tr("core.job.plan") as plan:
                reduced = self.job.MapReduceJob.plan(spark, spec)
        (ensure,), (mapper,), (reducer,) = (
            calls["ensure_parallelism"], calls["run_mapper"], calls["run_reducer"]
        )
        src = next(iter(mapper.args.values()))
        shuffle_in = next(iter(reducer.args.values()))
        rows_in = src.count()
        prefixes = [
            ("sources.scan", src),
            ("core.adapters.map", mapper.result),
            ("exchange", shuffle_in.repartition(reducer.args["key_col"])),
            ("core.adapters.reduce", reduced),
        ]
        reduced.persist()
        try:
            layer = _prefix_self_times(tr, prefixes)
            with tr("sinks.write") as sink:
                spec.output.write(reduced, spec.job_name)
        finally:
            reduced.unpersist(blocking=True)
        gid = tap.group("op")
        try:
            with tr("op") as op_span:
                result = self.op(spark)
        finally:
            tap.clear()
        sums = tap.sums(gid)
        self.check(result)
        files, nbytes = _dir_files(self.out_dir)
        keys = self.stats["distinct_keys"]
        return {
            "core.job.plan_s": plan.seconds,
            "core.partitioning.ensure_s": ensure.seconds,
            "sources.scan_s": layer["sources.scan"],
            "sources.rows_out": rows_in,
            "core.adapters.map_s": layer["core.adapters.map"],
            "core.adapters.map_rows_per_s": rows_in / max(layer["core.adapters.map"], 1e-9),
            "exchange.self_s": layer["exchange"],
            "core.adapters.reduce_s": layer["core.adapters.reduce"],
            "core.adapters.reduce_groups_per_s": keys / max(layer["core.adapters.reduce"], 1e-9),
            "sinks.write_s": sink.seconds,
            "sinks.files_written": files,
            "sinks.bytes_written": nbytes,
            "sinks.spark_jobs": sums.jobs,
            "core.counters.mapper_calls_per_row": result.counters.get("mapper-calls", 0) / rows_in,
            "core.counters.reducer_calls_per_key": result.counters.get("reducer-calls", 0) / keys,
            "_sums": sums,
            "_op_s": op_span.seconds,
            "_layer_s": plan.seconds + sum(layer.values()) + sink.seconds,
        }


# --- the driver contract --------------------------------------------------------

QUERIES = {
    "q1": "q1_pricing_summary",
    "q9": "q9_profit_by_nation",
    "q11": "q11_important_stock",
    "q20": "q20_promotion_suppliers",
    "q21": "q21_waiting_suppliers",
}


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, as the parity sweep computes it:
    columns sorted by name, doubles to 9 significant digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for row in rows:
        cells = []
        for i in order:
            v = row[i]
            cells.append(f"{v:.9g}" if isinstance(v, float) else str(v))
        lines.append("|".join(cells))
    lines.sort()
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class SqlDriver(Workload):
    """One pass of ``__spark_entry__.queries()`` over five TPC-H queries,
    collected, on the driver's plain session. The five are the flagship
    scan-aggregate (q1) and the plan-fold family (q9, q11, q20, q21); a pass
    over all eight TPC-H queries the engine tunes costs ~11 s warm and
    ~30 s cold on four cores, which two workloads' runs cannot afford."""

    name = "sql_driver"
    SIZE = {"sf_milli": 10}

    def start_session(self):
        """The driver contract's plain session, with Spark's defaults."""
        from pyspark.sql import SparkSession

        return SparkSession.builder.master(f"local[{CPUS}]").getOrCreate()

    def import_package(self) -> None:
        entry = importlib.import_module("__spark_entry__")
        fns = entry.queries()
        self.fns = {short: fns[full] for short, full in QUERIES.items()}

    def prepare(self) -> None:
        import duckdb

        self.path, st = inputs.tpch(os.path.join(self.cache, "inputs"), self.seed, **self.SIZE)
        entry = importlib.import_module("__spark_entry__")
        oracles = entry.oracle_sql()
        purge_package()
        con = duckdb.connect()
        try:
            for t in st["table_rows"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.path}/{t}.parquet')")
            self.expected = {}
            for short, full in QUERIES.items():
                res = con.sql(oracles[full])
                rows = res.fetchall()
                self.expected[short] = (sorted(res.columns), len(rows), value_hash(res.columns, rows))
        finally:
            con.close()
        self.stats = dict(
            st, rows=st["table_rows"]["lineitem"], distinct_keys=st["table_rows"]["orders"],
            hot_key_share=0.0,
            result_rows={q: e[1] for q, e in self.expected.items()},
            weakly_checked=sorted(q for q, e in self.expected.items() if e[1] == 0),
        )

    def op(self, spark):
        out, errors = {}, []
        for short, fn in self.fns.items():
            try:
                df = fn(spark, self.path)
                out[short] = (df.columns, df.collect())
            except Exception as e:  # counted in failed_frac by class, never retried
                errors.append(f"{short}:{type(e).__name__}")
        if errors:
            raise OpFailed(errors)
        return out

    def check(self, result) -> None:
        bad = []
        for short, (cols, rows) in result.items():
            got = (sorted(cols), len(rows), value_hash(cols, rows))
            if got != self.expected[short]:
                bad.append(f"{short}: {got[:2]} vs {self.expected[short][:2]}")
        if bad:
            raise WrongOutput("sql_driver: " + "; ".join(bad))

    def trace_op(self, spark, tr, tap) -> dict:
        """Per query: build the plan, force the physical plan, run it into
        the JVM (``collectToPython``, what ``DataFrame.collect`` calls),
        then move the rows to Python. These four layers should add up to
        the pass, which is timed around them."""
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
        from pyspark.sql.classic.dataframe import _load_from_socket

        out: dict = {}
        result, errors, groups = {}, [], []
        with tr("op") as op_span:
            for short, fn in self.fns.items():
                groups.append(tap.group(short))
                try:
                    with tr("plans.build", query=short):
                        df = fn(spark, self.path)
                    with tr("plans.optimize", query=short):
                        df._jdf.queryExecution().executedPlan()
                    with tr(f"plans.{short}.exec") as ex:
                        sock = df._jdf.collectToPython()
                    with tr("driver.collect", query=short):
                        rows = list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
                except Exception as e:
                    errors.append(f"{short}:{type(e).__name__}")
                    continue
                finally:
                    tap.clear()
                result[short] = (df.columns, rows)
                out[f"plans.{short}.exec_s"] = ex.seconds
        if errors:
            raise OpFailed(errors)
        self.check(result)
        sums = StageSums()
        for gid in groups:
            sums.add(tap.sums(gid))
        for layer in ("plans.build", "plans.optimize", "driver.collect"):
            out[f"{layer}_s"] = tr.total(layer, tr.op)
        out["_layer_s"] = sum(out.values())
        out["_sums"] = sums
        out["_op_s"] = op_span.seconds
        return out


WORKLOADS = {w.name: w for w in (MrIndex, SqlDriver)}
