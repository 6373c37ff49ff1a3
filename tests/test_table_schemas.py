"""``plans/tables.load`` infers each fixture table's schema once per process.

A read that infers launches one Spark job; a read given the schema
launches none. Each case counts the jobs a call launches under its own
job group and checks what ``load`` returns against a fresh inferring
read of the same file.
"""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from appengine_mapreduce_spark.plans import all_queries
from appengine_mapreduce_spark.plans.tables import load
from tests.conftest import SF_SMOKE

_groups = itertools.count()


def _jobs(spark, fn):
    """``(jobs launched, result)`` of calling ``fn()``."""
    sc = spark.sparkContext
    group = f"table-schemas-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def test_second_load_of_an_unchanged_table_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/orders.parquet", tmp_path / "orders.parquet")
    path = str(tmp_path / "orders.parquet")
    first_jobs, first = _jobs(spark, lambda: load(spark, str(tmp_path), "orders"))
    second_jobs, second = _jobs(spark, lambda: load(spark, str(tmp_path), "orders"))
    assert (first_jobs, second_jobs) == (1, 0)
    assert first.schema == second.schema == _inferred(spark, path)
    assert sorted(second.collect()) == sorted(spark.read.parquet(path).collect())


def test_second_build_of_the_driver_queries_launches_no_job(spark):
    specs = all_queries()
    names = (
        "q1_pricing_summary", "q9_profit_by_nation", "q11_important_stock",
        "q20_promotion_suppliers", "q21_waiting_suppliers",
    )

    def build():
        return [specs[n].fn(spark, SF_SMOKE).schema for n in names]

    _, first = _jobs(spark, build)
    jobs, second = _jobs(spark, build)
    assert jobs == 0
    assert second == first


def _write(path, table):
    pq.write_table(table, path)
    return os.stat(path)


def test_a_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": pa.array([1, 2, 3], pa.int32())}))
    assert load(spark, str(tmp_path), "t").dtypes == [("a", "int")]

    _write(path, pa.table({"a": pa.array([1, 2, 3], pa.int64())}))
    df = load(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint")]
    assert df.schema == _inferred(spark, path)

    # same size and same mtime: only the footer's bytes tell the files apart
    before = _write(path, pa.table({"a": pa.array([4, 5, 6], pa.int32())}))
    assert load(spark, str(tmp_path), "t").dtypes == [("a", "int")]
    after = _write(path, pa.table({"b": pa.array([4, 5, 6], pa.int32())}))
    os.utime(path, ns=(after.st_atime_ns, before.st_mtime_ns))
    assert os.stat(path).st_size == before.st_size
    assert os.stat(path).st_mtime_ns == before.st_mtime_ns
    df = load(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "int")]
    assert df.schema == _inferred(spark, path)
    assert df.collect() == spark.read.parquet(path).collect()


@pytest.fixture
def nanos_as_long(spark):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf, None)
    yield conf
    if old is None:
        spark.conf.unset(conf)
    else:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_is_a_session_utc_timestamp_on_hit_and_miss(spark, tmp_path, unit, nanos_as_long):
    """The fixture's microsecond ``ts`` and a TIMESTAMP(NANOS) copy both
    load as a session-UTC ``timestamp`` with the same values, whether the
    schema was inferred or reused, and after ``nanosAsLong`` is flipped
    between calls."""
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(events, tmp_path / "events.parquet")

    expected = sorted(load(spark, SF_SMOKE, "events").select("event_id", "ts").collect())
    for flip in ("true", "false", "true"):
        spark.conf.set(nanos_as_long, flip)
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert sorted(df.select("event_id", "ts").collect()) == expected
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "events"))[0] == 0


def test_flipping_an_inference_conf_infers_again(spark, tmp_path, nanos_as_long):
    """A TIMESTAMP(NANOS) column infers as ``bigint`` under ``nanosAsLong``
    and is refused without it: a reused schema must not hide the refusal."""
    path = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}), path)
    spark.conf.set(nanos_as_long, "true")
    assert load(spark, str(tmp_path), "n").dtypes == [("ts", "bigint")]
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "n"))[0] == 0
    spark.conf.set(nanos_as_long, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        _inferred(spark, path)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        load(spark, str(tmp_path), "n")
