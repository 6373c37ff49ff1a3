"""Tests for job-level parity features: path filter, expand_parameters,
processing rate, job status registry; plus hypothesis property tests for
the record codec and as-of join."""

from __future__ import annotations

import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from appengine_mapreduce_spark.core import status
from appengine_mapreduce_spark.core.job import (
    DataFrameInput,
    MapReduceJob,
    MapReduceSpecification,
)
from appengine_mapreduce_spark.sinks.inmemory import InMemoryOutput
from appengine_mapreduce_spark.sources.filtered import filtered_file_input, list_files


@pytest.fixture(scope="module")
def files_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pf")
    for name, body in [
        ("data-1.txt", "a\nb"),
        ("data-2.txt", "c"),
        ("skip-3.txt", "d"),
        ("data-4.log", "e"),
    ]:
        (d / name).write_text(body)
    return str(d)


def test_list_files_glob(spark, files_dir):
    got = [p.rsplit("/", 1)[-1] for p in list_files(spark, f"{files_dir}/*.txt")]
    assert got == ["data-1.txt", "data-2.txt", "skip-3.txt"]


def test_filtered_file_input(spark, files_dir):
    df = filtered_file_input(
        spark,
        f"{files_dir}/*.txt",
        path_filter=lambda p: not p.rsplit("/", 1)[-1].startswith("skip"),
    )
    assert sorted(r.value for r in df.collect()) == ["a", "b", "c"]


def test_filtered_file_input_missing(spark, files_dir):
    with pytest.raises(FileNotFoundError):
        filtered_file_input(spark, f"{files_dir}/*.parquet")
    df = filtered_file_input(
        spark, f"{files_dir}/*.parquet", fail_on_missing_input=False
    )
    assert df.count() == 0


def _spec(df, mapper_fn, **kw) -> MapReduceSpecification:
    return MapReduceSpecification(
        job_name=kw.pop("job_name", "feature-test"),
        input=DataFrameInput(df),
        mapper=mapper_fn,
        map_output_schema="key string, value bigint",
        reducer=lambda ctx, key, values: [(key, sum(values))],
        output_schema="key string, total bigint",
        output=InMemoryOutput(),
        **kw,
    )


def test_expand_parameters(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "k string, v bigint")

    def multi_arg_mapper(ctx, k, v):  # reference expand_parameters mode
        yield (k, v * 10)

    result = MapReduceJob.run(
        spark, _spec(df, multi_arg_mapper, expand_parameters=True)
    )
    assert dict(result.output) == {"a": 40, "b": 20}


def test_processing_rate_throttles(spark):
    df = spark.range(0, 400).select(F.col("id").cast("string").alias("k"), F.lit(1).alias("v"))

    def m(ctx, row):
        yield (row.k, row.v)

    # Warm-up run (untimed): absorbs Python-worker spawn + first-job JIT so
    # the timed run below measures throttling, not session warm-up. The old
    # fast-vs-slow delta assertion was wall-clock-noise flaky on a busy VM.
    MapReduceJob.run(spark, _spec(df, m, job_name="warmup"))

    slow = _spec(df, m, job_name="slow", processing_rate=200)
    t0 = time.monotonic()
    MapReduceJob.run(spark, slow)
    slow_t = time.monotonic() - t0
    # Absolute floor: 400 records at 200/sec job-wide ⇒ every partition
    # settles its budget (adapters.run_mapper throttle()), so wall-clock
    # must be ≥ records/rate − ε regardless of machine noise.
    assert slow_t >= 400 / 200 - 0.2, slow_t


def test_job_status_registry(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v bigint")

    def m(ctx, row):
        yield (row.k, row.v)

    result = MapReduceJob.run(spark, _spec(df, m, job_name="status-probe"))
    assert result.job_id is not None
    jobs = status.list_jobs()
    assert any(j["job_id"] == result.job_id and j["state"] == "done" for j in jobs)
    detail = status.get_job_detail(result.job_id)
    assert detail["counters"]["mapper-calls"] == 1
    assert detail["state"] == "done"


def test_job_status_failure(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v bigint")

    def boom(ctx, row):
        raise RuntimeError("mapper exploded")

    with pytest.raises(Exception):
        MapReduceJob.run(spark, _spec(df, boom, job_name="failing-job"))
    failed = [j for j in status.list_jobs() if j["name"] == "failing-job"]
    assert failed and failed[0]["state"] == "failed"


def test_job_status_registry_is_bounded():
    """After more ended runs than the registry keeps, it holds every running
    job plus the newest ``_KEEP_FINISHED`` ended ones."""
    running = status.start_job("still-running")
    ids = [status.start_job(f"bounded-{i}") for i in range(status._KEEP_FINISHED + 25)]
    for i, job_id in enumerate(ids):
        status.finish_job(job_id, {"mapper-calls": i})
    status.fail_job(status.start_job("bounded-failed"), RuntimeError("boom"))
    assert len(status.list_jobs()) <= status._KEEP_FINISHED + 1
    assert status.get_job_detail(running)["state"] == status.RUNNING
    assert status.get_job_detail(ids[-1])["counters"] == {"mapper-calls": len(ids) - 1}
    assert ids[0] not in {j["job_id"] for j in status.list_jobs()}
    status.finish_job(running, {})
    assert status.get_job_detail(running)["state"] == status.DONE


# --- property tests ---------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(records=st.lists(st.binary(min_size=0, max_size=70000), max_size=8))
def test_records_roundtrip_property(records):
    import io

    from appengine_mapreduce_spark.sources.records import RecordReader, RecordWriter

    buf = io.BytesIO()
    w = RecordWriter(buf)
    for r in records:
        w.write(r)
    buf.seek(0)
    assert list(RecordReader(buf)) == records


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=20
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 9)),
        max_size=20,
    ),
)
def test_as_of_join_matches_bruteforce(spark_global, lefts, rights):
    import datetime as dt

    from appengine_mapreduce_spark.operators.joins import as_of_join

    spark = spark_global
    base = dt.datetime(2024, 1, 1)
    # dedupe right on (key, ts) — as_of_join's documented precondition
    rmap = {}
    for k, t, p in rights:
        rmap[(k, t)] = p
    rights_d = [(k, t, p) for (k, t), p in rmap.items()]

    left_df = spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=t), i) for i, (k, t) in enumerate(lefts)],
        "k bigint, ts timestamp, lid bigint",
    )
    if rights_d:
        right_df = spark.createDataFrame(
            [(k, base + dt.timedelta(minutes=t), p) for k, t, p in rights_d],
            "k bigint, rts timestamp, payload bigint",
        )
    else:
        right_df = spark.createDataFrame([], "k bigint, rts timestamp, payload bigint")

    got = {
        r.lid: r.payload
        for r in as_of_join(left_df, right_df, "k", "ts", "rts").collect()
    }
    for i, (k, t) in enumerate(lefts):
        candidates = [(rt, p) for rk, rt, p in rights_d if rk == k and rt <= t]
        expected = max(candidates)[1] if candidates else None
        assert got[i] == expected, (i, k, t, candidates)


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark
