"""Streaming sort-merge reducer, exact values on the Arrow seam, and the
single materialized pass.

The reducer sees ``(key, lazy value iterator)`` streamed off a sorted
shuffle (≙ java ReducerInput / impl/MergingReader.java:89-138); mapper
rows and reducer keys and values are read from Arrow exactly; and
``MapReduceJob.run`` / ``run_map`` run the job exactly once whatever the
sink does — counters are exact (≙ end_to_end_test.py counter assertions).
Each case runs the full job and is checked against a pure-Python replay
of the same input. The last block covers ``map_rows``, the same reader
and emitter under the built-in per-row operators, including the
operators whose row functions yield nothing.
"""

from __future__ import annotations

import dataclasses
import datetime
import math
import re
import zipfile
from collections import Counter, defaultdict
from types import SimpleNamespace

import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core import job as job_mod
from appengine_mapreduce_spark.core.adapters import (
    _EMIT_BATCH_ROWS,
    map_rows,
    run_mapper,
    run_reducer,
)
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.job import (
    DataFrameInput,
    MapReduceJob,
    MapReduceSpecification,
    MapSpecification,
)
from appengine_mapreduce_spark.core.worker import Mapper, Reducer
from appengine_mapreduce_spark.sinks.files import FileOutput
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput, NoOutput
from appengine_mapreduce_spark.sinks.mutation import MutationPoolOutput
from tests.conftest import SF_SMOKE
from tests.test_api import SumReducer, WordCountMapper, _wc_spec


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")


@pytest.fixture
def tiny_batches(spark):
    """Seven rows per Arrow batch, so key runs span batch boundaries."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    yield
    spark.conf.set(conf, old)


@pytest.fixture
def job_counters(monkeypatch):
    """The ``Counters`` objects ``MapReduceJob`` creates, in order."""
    made: list[Counters] = []

    class Recorded(Counters):
        def __init__(self, sc):
            super().__init__(sc)
            made.append(self)

    monkeypatch.setattr(job_mod, "Counters", Recorded)
    return made


class _Emit(Mapper):
    """Pass rows of the input frame through as (key, value...) tuples."""

    def __call__(self, ctx, row):
        yield tuple(row)


def _job(spark, rows, schema, reducer, out_schema, **kw):
    """Run ``reducer`` over ``rows`` (already key, value... unless ``kw``
    names another mapper and map output schema) and collect."""
    kw = {"mapper": _Emit(), "map_output_schema": schema, **kw}
    spec = MapReduceSpecification(
        job_name="stream",
        input=DataFrameInput(spark.createDataFrame(rows, schema)),
        reducer=reducer,
        output_schema=out_schema,
        output=InMemoryOutput(),
        **kw,
    )
    return MapReduceJob.run(spark, spec)


def _groups(rows) -> dict:
    """Replay: key → values, grouped as Spark's ``groupBy`` groups them
    (every NaN in one group, -0.0 with 0.0)."""
    out: dict = defaultdict(list)
    for k, *v in rows:
        if isinstance(k, float):
            k = "NaN" if math.isnan(k) else k + 0.0
        out[k].append(v[0] if len(v) == 1 else tuple(v))
    return out


def _count_sum(ctx, key, values):
    vals = list(values)
    yield (key, len(vals), sum(vals))


def _sink(name, tmp_path):
    return {
        "in_memory": InMemoryOutput(),
        "none": NoOutput(),
        "sorted_files": FileOutput(str(tmp_path / "out"), sort_by=["word"]),
        "mutation_pool": MutationPoolOutput(apply_batch=lambda batch: None),
    }[name]


_SINKS = ["in_memory", "none", "sorted_files", "mutation_pool"]


@pytest.mark.parametrize("sink", _SINKS)
def test_counters_exact_for_every_sink(spark, docs, tmp_path, job_counters, sink):
    """One reduce pass whatever the sink runs, and a re-collect of
    ``output_df`` does not re-run the job."""
    rows = docs.collect()
    words = {w for r in rows for w in r.text.split() if w}
    result = MapReduceJob.run(
        spark, dataclasses.replace(_wc_spec(docs), output=_sink(sink, tmp_path))
    )
    assert result.counters["reducer-calls"] == len(words)
    assert result.counters["mapper-calls"] == len(rows)
    assert result.output_df.count() == len(words)
    assert len(result.output_df.collect()) == len(words)
    [counters] = job_counters
    assert counters.to_dict() == result.counters


@pytest.mark.parametrize("sink", _SINKS)
def test_map_only_counters_exact_for_every_sink(spark, docs, tmp_path, job_counters, sink):
    """A map-only job also runs its mapper once whatever the sink runs.
    Its ``output_df`` is not materialized: a re-collect runs the mapper
    again and leaves ``result.counters`` as the sink left it."""
    rows = docs.collect()
    n_words = sum(1 for r in rows for w in r.text.split() if w)
    spec = MapSpecification(
        job_name="map-only",
        input=DataFrameInput(docs),
        mapper=WordCountMapper(),
        output_schema="word string, n bigint",
        output=_sink(sink, tmp_path),
    )
    result = MapReduceJob.run_map(spark, spec)
    assert result.counters["mapper-calls"] == len(rows)
    [counters] = job_counters
    assert counters.to_dict() == result.counters
    assert len(result.output_df.collect()) == n_words
    assert counters.to_dict()["mapper-calls"] == 2 * len(rows)
    assert result.counters["mapper-calls"] == len(rows)


def test_hot_key_spans_batches(spark, tiny_batches):
    rows = [("hot", i) for i in range(500)] + [(f"k{i % 13}", i) for i in range(91)]
    result = _job(spark, rows, "k string, v bigint", _count_sum, "k string, n bigint, s bigint")
    expected = {(k, len(v), sum(v)) for k, v in _groups(rows).items()}
    assert set(result.output) == expected
    assert result.counters["reducer-calls"] == len(expected)


def test_reducer_reading_only_first_value(spark, tiny_batches):
    """Unread values are skipped; the next key still gets only its own."""
    rows = [(f"k{i % 5}", f"k{i % 5}:{i}") for i in range(200)]

    def first_only(ctx, key, values):
        yield (key, next(values))

    result = _job(spark, rows, "k string, v string", first_only, "k string, first string")
    groups = _groups(rows)
    assert sorted(k for k, _ in result.output) == sorted(groups)
    for k, first in result.output:
        assert first in groups[k]


def test_null_keys(spark, tiny_batches):
    rows = [(None if i % 4 == 0 else f"k{i % 6}", i) for i in range(120)]
    result = _job(spark, rows, "k string, v bigint", _count_sum, "k string, n bigint, s bigint")
    assert set(result.output) == {(k, len(v), sum(v)) for k, v in _groups(rows).items()}


def test_null_integral_keys_stay_integers(spark, tiny_batches):
    rows = [(None if i % 5 == 0 else i % 9, i) for i in range(90)]

    def typed(ctx, key, values):
        assert key is None or type(key) is int, repr(key)
        yield from _count_sum(ctx, key, values)

    result = _job(spark, rows, "k bigint, v bigint", typed, "k bigint, n bigint, s bigint")
    assert set(result.output) == {(k, len(v), sum(v)) for k, v in _groups(rows).items()}


def test_bigint_keys_past_float_precision(spark, tiny_batches):
    """Neighbouring bigints above 2**53 stay apart, also in a batch that
    holds a null key."""
    keys = [None, 2**53, 2**53 + 1, 2**62, 2**62 + 1]
    rows = [(keys[i % len(keys)], i) for i in range(35)]
    result = _job(spark, rows, "k bigint, v bigint", _count_sum, "k bigint, n bigint, s bigint")
    assert sorted(result.output, key=repr) == sorted(
        ((k, len(v), sum(v)) for k, v in _groups(rows).items()), key=repr
    )
    assert result.counters["reducer-calls"] == len(keys)


def test_mapper_reads_bigints_with_nulls_exactly(spark, tiny_batches):
    """A null in a bigint input column leaves the mapper's other values
    ``int`` in the same batch, 2**53 + 1 included."""
    vals = [None, 2**53 + 1, 2**53, 7]
    rows = [(f"k{i % 3}", vals[i % len(vals)]) for i in range(35)]

    class Typed(Mapper):
        def __call__(self, ctx, row):
            assert row.v is None or type(row.v) is int, repr(row.v)
            yield (row.k, row.v)

    def nulls_and_sum(ctx, key, values):
        vals = list(values)
        yield (key, sum(v is None for v in vals), sum(v for v in vals if v is not None))

    result = _job(
        spark, rows, "k string, v bigint", nulls_and_sum, "k string, nulls bigint, s bigint",
        mapper=Typed(),
    )
    assert set(result.output) == {
        (k, sum(x is None for x in v), sum(x for x in v if x is not None))
        for k, v in _groups(rows).items()
    }


def test_mapper_yielded_nan_stays_nan(spark, tiny_batches):
    """A NaN the mapper yields reaches the reducer as NaN, apart from the
    nulls it yields."""
    rows = [(f"k{i % 3}", i) for i in range(42)]

    def half(v):
        return float("nan") if v % 4 == 0 else None if v % 4 == 1 else v / 2

    class Half(Mapper):
        def __call__(self, ctx, row):
            yield (row.k, half(row.v))

    def kinds(ctx, key, values):
        vals = list(values)
        yield (key, sum(v is None for v in vals), sum(v is not None and v != v for v in vals))

    result = _job(
        spark, rows, "k string, v bigint", kinds, "k string, nulls bigint, nans bigint",
        mapper=Half(), map_output_schema="k string, x double",
    )
    replay = _groups([(k, half(v)) for k, v in rows])
    assert set(result.output) == {
        (k, sum(x is None for x in v), sum(x is not None and x != x for x in v))
        for k, v in replay.items()
    }


def test_integral_values_with_nulls_stay_integers(spark, tiny_batches):
    """A null in one key's values must not turn its batch-mates' integers
    into floats."""
    rows = [(f"k{i % 3}", None if i % 10 == 0 else i) for i in range(60)]

    def typed(ctx, key, values):
        vals = list(values)
        assert all(v is None or type(v) is int for v in vals), vals
        yield (key, len(vals), sum(v for v in vals if v is not None))

    result = _job(spark, rows, "k string, v bigint", typed, "k string, n bigint, s bigint")
    expected = {
        (k, len(v), sum(x for x in v if x is not None)) for k, v in _groups(rows).items()
    }
    assert set(result.output) == expected


def test_nan_keys_form_one_group(spark, tiny_batches):
    """Spark's ``groupBy`` puts every NaN in one group, apart from null.
    The reducer names its key, so that the NaN group's row compares
    equal to its replay."""
    keys = [float("nan"), None, 1.5, -0.0, 0.0, 2.5]
    rows = [(keys[i % len(keys)], i) for i in range(96)]

    def named(ctx, key, values):
        for _, n, s in _count_sum(ctx, key, values):
            yield (repr(key), n, s)

    result = _job(spark, rows, "k double, v bigint", named, "k string, n bigint, s bigint")
    expected = {
        ("nan" if k == "NaN" else repr(k), len(v), sum(v)) for k, v in _groups(rows).items()
    }
    kv = spark.createDataFrame(rows, "k double, v bigint")
    assert kv.groupBy("k").count().count() == len(expected) == 5
    assert sorted(result.output) == sorted(expected)
    assert result.counters["reducer-calls"] == 5


def test_float_values_keep_null_apart_from_nan(spark, tiny_batches):
    vals = [None, float("nan"), 2.5]
    rows = [(f"k{i % 3}", vals[i // 3 % 3]) for i in range(42)]

    def kinds(ctx, key, values):
        vals = list(values)
        yield (key, sum(v is None for v in vals), sum(v is not None and v != v for v in vals))

    result = _job(spark, rows, "k string, v double", kinds, "k string, nulls bigint, nans bigint")
    assert set(result.output) == {
        (k, sum(x is None for x in v), sum(x is not None and x != x for x in v))
        for k, v in _groups(rows).items()
    }


def test_key_only_map_output(spark, tiny_batches):
    """With no value columns each map output row still reaches the
    reducer, as an empty record."""
    rows = [(f"k{i % 4}",) for i in range(30)]

    def count(ctx, key, values):
        yield (key, sum(1 for _ in values))

    result = _job(spark, rows, "k string", count, "k string, n bigint")
    assert set(result.output) == {(k, len(v)) for k, v in _groups(rows).items()}


def test_decimal_keys(spark, tiny_batches):
    from decimal import Decimal

    rows = [(None if i % 7 == 0 else Decimal(i % 4) / 4, i) for i in range(56)]
    result = _job(
        spark, rows, "k decimal(10,2), v bigint", _count_sum, "k decimal(10,2), n bigint, s bigint"
    )
    assert set(result.output) == {(k, len(v), sum(v)) for k, v in _groups(rows).items()}


def test_multi_column_values_are_namedtuples(spark, tiny_batches):
    rows = [(f"k{i % 4}", i, float(i) / 2) for i in range(60)]

    def stats(ctx, key, values):
        vals = list(values)
        yield (key, sum(v.a for v in vals), sum(v.b for v in vals))

    result = _job(
        spark, rows, "k string, a bigint, b double", stats, "k string, a bigint, b double"
    )
    expected = {(k, sum(a for a, _ in v), sum(b for _, b in v)) for k, v in _groups(rows).items()}
    assert set(result.output) == expected


def test_num_reducers_fixes_partitions_with_one_exchange(spark, tiny_batches):
    rows = [(f"k{i % 17}", i) for i in range(170)]
    result = _job(
        spark, rows, "k string, v bigint", _count_sum, "k string, n bigint, s bigint",
        num_reducers=3,
    )
    assert set(result.output) == {(k, len(v), sum(v)) for k, v in _groups(rows).items()}
    assert result.output_df.rdd.getNumPartitions() == 3
    spec = MapReduceSpecification(
        job_name="stream-plan",
        input=DataFrameInput(spark.createDataFrame(rows, "k string, v bigint")),
        mapper=_Emit(),
        map_output_schema="k string, v bigint",
        reducer=_count_sum,
        output_schema="k string, n bigint, s bigint",
        output=None,
        num_reducers=3,
    )
    plan = MapReduceJob.plan(spark, spec)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert re.search(r"Exchange hashpartitioning\(k#\d+, 3\)", plan), plan


def test_reducer_lifecycle_hooks(spark, docs):
    class ShardedSum(SumReducer):
        def begin_shard(self, ctx):
            ctx.increment("reducer-shards-begun", 1)

        def end_shard(self, ctx):
            ctx.increment("reducer-shards-ended", 1)

    spec = dataclasses.replace(_wc_spec(docs), reducer=ShardedSum())
    result = MapReduceJob.run(spark, spec)
    assert result.counters["reducer-shards-begun"] == result.counters["reducer-shards-ended"] > 0


def test_wordcount_plan_streams_through_one_key_exchange(spark, docs):
    plan = MapReduceJob.plan(spark, _wc_spec(docs))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(word#" in plan


def test_non_scalar_key_is_rejected(spark):
    with pytest.raises(ValueError, match="scalar"):
        _job(spark, [([1], 1)], "k array<bigint>, v bigint", _count_sum, "k string, n bigint, s bigint")


def test_reducer_row_of_wrong_width_is_rejected(spark):
    def short(ctx, key, values):
        yield (key, sum(values))

    with pytest.raises(Exception, match="reducer yielded 2-field rows for the 3-column"):
        _job(spark, [("a", 1)], "k string, v bigint", short, "k string, n bigint, s bigint")


def test_mapper_row_of_wrong_width_is_rejected(spark):
    class Wide(Mapper):
        def __call__(self, ctx, row):
            yield (row.k, row.v, row.v)

    with pytest.raises(Exception, match="mapper yielded 3-field rows for the 2-column"):
        _job(spark, [("a", 1)], "k string, v bigint", _count_sum, "k string, n bigint, s bigint",
             mapper=Wide())


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), True, "7", 2**63])
def test_mapper_value_its_column_cannot_hold_is_rejected(spark, bad):
    """Yielded values are not cast: a NaN, an infinity, a bool, a string
    or an out-of-range int in a bigint column fails, naming the stage and
    the column."""

    class Bad(Mapper):
        def __call__(self, ctx, row):
            yield (row.k, bad)

    with pytest.raises(Exception, match=r"mapper yielded a value the output column 'v' \(bigint\)"):
        _job(spark, [("a", 1)], "k string, v bigint", _count_sum, "k string, n bigint, s bigint",
             mapper=Bad())


def test_mapper_reads_timestamp_array_struct_and_map_values(spark):
    """A map-only job's rows hold the documented Python types: a
    timestamp is a tz-aware ``datetime`` in the session time zone (UTC
    here), an array a ``list``, a struct a ``dict``, a map a list of
    ``(key, value)`` pairs."""
    t0 = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), [i, None], (i, f"s{i}"), {"x": i})
        for i in range(20)
    ]

    class Describe(Mapper):
        def __call__(self, ctx, row):
            types = (type(row.ts), type(row.arr), type(row.st), type(row.m))
            assert types == (datetime.datetime, list, dict, list), types
            yield (row.i, row.ts.isoformat(), repr(row.arr), repr(row.st), repr(row.m))

    spec = MapSpecification(
        job_name="map-types",
        input=DataFrameInput(spark.createDataFrame(
            rows, "i bigint, ts timestamp, arr array<bigint>, st struct<a:bigint,b:string>, "
            "m map<string,bigint>",
        )),
        mapper=Describe(),
        output_schema="i bigint, ts string, arr string, st string, m string",
        output=InMemoryOutput(),
    )
    result = MapReduceJob.run_map(spark, spec)
    assert sorted(result.output) == [
        (i, ts.isoformat(), repr(arr), repr({"a": a, "b": b}), repr(list(m.items())))
        for i, ts, arr, (a, b), m in rows
    ]


# --- map_rows: the built-in per-row operators' seam (same reader and emitter)


class _Frame:
    """Stands in for a DataFrame: ``map_rows``, ``run_mapper`` and
    ``run_reducer`` hand it the per-partition function, which the test
    then runs on Arrow batches in-process."""

    def __init__(self, columns, schema=None):
        self.columns = columns
        self.schema = schema

    def repartition(self, *cols):
        return self

    sortWithinPartitions = select = repartition

    def mapInArrow(self, fn, schema):
        return fn


def _nan_safe(rows):
    return sorted(
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r) for r in rows
    )


def test_map_rows_reads_exact_values(spark, tiny_batches):
    """A null in a bigint column leaves its batch-mates ``int``, 2**53 + 1
    included, and a NaN read and yielded stays NaN, apart from null. The
    plan names the stage after the row function."""
    vals = [None, 2**53 + 1, 2**53, 7]
    xs = [float("nan"), None, 2.5]
    rows = [(i, vals[i % len(vals)], xs[i % len(xs)]) for i in range(30)]

    def describe(row):
        yield row.i, type(row.v).__name__, row.v, row.x

    out = map_rows(
        spark.createDataFrame(rows, "i bigint, v bigint, x double"),
        describe,
        "i bigint, t string, v bigint, x double",
    )
    assert _nan_safe(out.collect()) == _nan_safe(
        (i, type(v).__name__, v, x) for i, v, x in rows
    )
    assert "MapInArrow describe(" in out._jdf.queryExecution().executedPlan().toString()


def test_map_rows_one_row_spans_output_blocks(spark):
    """Output is cut into ``_EMIT_BATCH_ROWS`` blocks within one input row."""
    n = 2 * _EMIT_BATCH_ROWS + 3

    def explode(row):
        for j in range(row.n):
            yield row.n, j

    out = map_rows(spark.createDataFrame([(n,)], "n bigint"), explode, "n bigint, j bigint")
    assert sorted(out.collect()) == [(n, j) for j in range(n)]

    run = map_rows(_Frame(["n"]), explode, "n bigint, j bigint")
    blocks = list(run(iter([pa.record_batch([pa.array([n])], names=["n"])])))
    assert [b.num_rows for b in blocks] == [_EMIT_BATCH_ROWS, _EMIT_BATCH_ROWS, 3]
    assert [j for b in blocks for j in b.column("j").to_pylist()] == list(range(n))


class _Explode(Mapper):
    def __call__(self, ctx, row):
        for j in range(row.n):
            yield row.n, j


class _ExplodeKey(Reducer):
    def __call__(self, ctx, key, values):
        for n in values:
            for j in range(n):
                yield key, j


def test_mapper_and_reducer_one_input_spans_output_blocks():
    """Like ``map_rows``, the mapper and the reducer cut what one input
    row or key yields into ``_EMIT_BATCH_ROWS`` blocks as it is yielded."""
    n = 2 * _EMIT_BATCH_ROWS + 3
    out = StructType.fromDDL("n bigint, j bigint")
    counts: Counter = Counter()
    acc = SimpleNamespace(add=counts.update)
    mapper = run_mapper(_Frame(["n"]), _Explode(), out, acc)
    reducer = run_reducer(
        _Frame(["n", "v"], StructType.fromDDL("n bigint, v bigint")),
        _ExplodeKey(), out, acc, key_col="n", value_cols=["v"],
    )
    for run, batch in (
        (mapper, pa.record_batch([pa.array([n])], names=["n"])),
        (reducer, pa.record_batch([pa.array([7]), pa.array([n])], names=["n", "v"])),
    ):
        blocks = list(run(iter([batch])))
        assert [b.num_rows for b in blocks] == [_EMIT_BATCH_ROWS, _EMIT_BATCH_ROWS, 3]
        assert [j for b in blocks for j in b.column("j").to_pylist()] == list(range(n))
    assert counts == {"mapper-calls": 1, "reducer-calls": 1}


def test_map_rows_value_its_column_cannot_hold_is_rejected(spark):
    def to_text(row):
        yield row.k, "seven"

    out = map_rows(spark.createDataFrame([("a",)], "k string"), to_text, "k string, v bigint")
    with pytest.raises(Exception, match=r"to_text yielded a value the output column 'v' \(bigint\)"):
        out.collect()


def _empty(df, ddl):
    """``df`` has the declared schema and no rows."""
    assert df.schema.simpleString() == StructType.fromDDL(ddl).simpleString()
    assert df.collect() == []


def test_sample_video_frames_with_zero_durations_is_empty(spark):
    from appengine_mapreduce_spark.operators.multimodal import sample_video_frames

    rows = [(i, bytes([i]), 0) for i in range(5)]
    df = spark.createDataFrame(rows, "id bigint, content binary, duration_ms bigint")
    _empty(sample_video_frames(df), "id bigint, frame_ts_ms bigint, frame binary")


def test_zip_of_only_a_directory_is_empty(spark, tmp_path):
    from appengine_mapreduce_spark.sources.zipsource import zip_member_lines, zip_members

    path = tmp_path / "dirs.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("only/", b"")
    _empty(
        zip_members(spark, str(path)),
        "zip_path string, member_index int, member_name string, content binary",
    )
    _empty(
        zip_member_lines(spark, str(path)),
        "zip_path string, member_index int, offset bigint, line string",
    )


def test_empty_record_file_is_empty(spark, tmp_path):
    from appengine_mapreduce_spark.sources.records import records_input, write_records_file

    path = tmp_path / "shard-00000.rec"
    write_records_file(str(path), [])
    assert path.stat().st_size == 0
    _empty(records_input(spark, str(path)), "file string, record binary")
