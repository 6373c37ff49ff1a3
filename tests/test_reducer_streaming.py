"""Streaming sort-merge reducer and the single materialized reduce pass.

The reducer sees ``(key, lazy value iterator)`` streamed off a sorted
shuffle (≙ java ReducerInput / impl/MergingReader.java:89-138), and
``MapReduceJob.run`` runs the reducer exactly once whatever the sink does
— counters are exact (≙ end_to_end_test.py counter assertions).
Each case is checked against a pure-Python replay of the same input.
"""

from __future__ import annotations

import dataclasses
import math
import re
from collections import defaultdict

import pytest
from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core import job as job_mod
from appengine_mapreduce_spark.core.adapters import run_reducer
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.job import (
    DataFrameInput,
    MapReduceJob,
    MapReduceSpecification,
)
from appengine_mapreduce_spark.core.worker import Mapper, as_reducer
from appengine_mapreduce_spark.sinks.files import FileOutput
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput, NoOutput
from tests.conftest import SF_SMOKE
from tests.test_api import SumReducer, _wc_spec


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
    """Run ``reducer`` over ``rows`` (already key, value...) and collect."""
    spec = MapReduceSpecification(
        job_name="stream",
        input=DataFrameInput(spark.createDataFrame(rows, schema)),
        mapper=_Emit(),
        map_output_schema=schema,
        reducer=reducer,
        output_schema=out_schema,
        output=InMemoryOutput(),
        **kw,
    )
    return MapReduceJob.run(spark, spec)


def _reduce(spark, rows, schema, reducer, out_schema):
    """Run ``run_reducer`` alone over ``rows`` (key, value...), so the
    reducer sees the values exactly as given: a mapper's pandas batches
    read an integer column holding a null as float64 and turn a NaN it
    yields into null. Returns the output rows and ``reducer-calls``."""
    kv = spark.createDataFrame(rows, schema)
    counters = Counters(spark.sparkContext)
    out = run_reducer(
        kv, as_reducer(reducer), StructType.fromDDL(out_schema),
        counters.accumulator, kv.columns[0], kv.columns[1:],
    ).collect()
    return [tuple(r) for r in out], counters.get("reducer-calls")


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


@pytest.mark.parametrize("sink", ["in_memory", "none", "sorted_files"])
def test_counters_exact_for_every_sink(spark, docs, tmp_path, job_counters, sink):
    """One reduce pass whatever the sink runs, and a re-collect of
    ``output_df`` does not re-run the job."""
    output = {
        "in_memory": InMemoryOutput(),
        "none": NoOutput(),
        "sorted_files": FileOutput(str(tmp_path / "out"), sort_by=["word"]),
    }[sink]
    rows = docs.collect()
    words = {w for r in rows for w in r.text.split() if w}
    result = MapReduceJob.run(spark, dataclasses.replace(_wc_spec(docs), output=output))
    assert result.counters["reducer-calls"] == len(words)
    assert result.counters["mapper-calls"] == len(rows)
    assert result.output_df.count() == len(words)
    assert len(result.output_df.collect()) == len(words)
    [counters] = job_counters
    assert counters.to_dict() == result.counters


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
    out, calls = _reduce(spark, rows, "k bigint, v bigint", _count_sum, "k bigint, n bigint, s bigint")
    assert sorted(out, key=repr) == sorted(
        ((k, len(v), sum(v)) for k, v in _groups(rows).items()), key=repr
    )
    assert calls == len(keys)


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

    out, calls = _reduce(spark, rows, "k double, v bigint", named, "k string, n bigint, s bigint")
    expected = {
        ("nan" if k == "NaN" else repr(k), len(v), sum(v)) for k, v in _groups(rows).items()
    }
    kv = spark.createDataFrame(rows, "k double, v bigint")
    assert kv.groupBy("k").count().count() == len(expected) == 5
    assert sorted(out) == sorted(expected)
    assert calls == 5


def test_float_values_keep_null_apart_from_nan(spark, tiny_batches):
    vals = [None, float("nan"), 2.5]
    rows = [(f"k{i % 3}", vals[i // 3 % 3]) for i in range(42)]

    def kinds(ctx, key, values):
        vals = list(values)
        yield (key, sum(v is None for v in vals), sum(v is not None and v != v for v in vals))

    out, _ = _reduce(spark, rows, "k string, v double", kinds, "k string, nulls bigint, nans bigint")
    assert set(out) == {
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
    assert "MapInPandas" in plan and "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(word#" in plan


def test_non_scalar_key_is_rejected(spark):
    with pytest.raises(ValueError, match="scalar"):
        _job(spark, [([1], 1)], "k array<bigint>, v bigint", _count_sum, "k string, n bigint, s bigint")



def test_reducer_row_of_wrong_width_is_rejected(spark):
    def short(ctx, key, values):
        yield (key, sum(values))

    with pytest.raises(Exception, match="2-field rows for the 3-column"):
        _reduce(spark, [("a", 1)], "k string, v bigint", short, "k string, n bigint, s bigint")
