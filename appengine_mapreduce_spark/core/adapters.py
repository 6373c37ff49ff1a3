"""Generator-UDF adapters: user Mapper/Reducer/Combiner code and the
built-in per-row operators → Arrow-batched Spark plans.

This is the performance-critical seam the reference never had: its workers
ran interpreted Python per record over task-queue slices
(handlers.py:534-648 _process_inputs/_process_datum). Here every Python
stage crosses the same way, through ``mapInArrow``: one column reader,
``_pylist``, turns each Arrow column into Python values (through numpy
for strings, binaries and null-free numbers, which is where a seam
spends its time), user generators run per row, and one emitter builds the
output rows back into Arrow batches.
Python touches each row exactly once, and everything before/after the
adapter stays JVM-side. The reader and emitter have three users:

- ``run_mapper``: the map stage, with shard lifecycle, counters, map-side
  combine and rate throttling;
- ``run_reducer``: the streaming sort-merge reduce stage;
- ``map_rows``: a plain per-row generator with none of that — the seam
  of the built-in per-blob operators (media decoders, zip and record
  sources, parquet footer stats).

Every worker body, here and in the sinks, sources and pandas operators,
first calls ``drop_zip_finders``, so a reused worker does not re-read
pyspark.zip and the Spark jar before each task.

Scale notes:
- map-side combine buffers per partition with a bounded flush
  (``_COMBINE_FLUSH_KEYS``), mirroring Hadoop's combiner spill — a hot
  partition cannot OOM the worker.
- the reducer is a streaming sort-merge: ``repartition(key)`` →
  ``sortWithinPartitions(key)`` → ``mapInArrow``. The worker walks the
  sorted Arrow batches, finds where the key changes with one Arrow
  comparison per batch, reads one key per run and the batch's values
  once, and hands each run of equal keys to the user generator as a lazy
  iterator over list slices (the ``ReducerInput`` contract, java
  impl/MergingReader.java:89-138). A run may span any number of batches,
  so a hot key costs one batch of memory, not one group; values the
  reducer leaves unread are skipped. Spark's sort spills to disk like the
  reference's merge.
- rows are read straight from Arrow as Python values, so mapper and
  ``map_rows`` rows and reducer keys and values arrive exact: null is
  ``None``, a bigint stays an ``int`` at any size, NaN stays apart from
  null, a timestamp is a tz-aware ``datetime`` in the session time zone,
  an array a ``list``, a map a list of ``(key, value)`` pairs. Output
  goes straight to Arrow: a NaN the user code yields stays NaN, and a
  value its column's type cannot hold fails the task, naming the stage
  and column. Reducer keys must be scalar types (string, numeric,
  boolean, date, timestamp, binary): runs are grouped on Python ``==``.
  NaN keys form one group, as in Spark's ``groupBy``.
"""

from __future__ import annotations

import collections
import itertools
import sys
import time
import zipimport
from collections.abc import Iterable, Iterator
from operator import itemgetter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import AtomicType, DoubleType, FloatType, StructType

from appengine_mapreduce_spark.core import counters as C
from appengine_mapreduce_spark.core.counters import CounterContext
from appengine_mapreduce_spark.core.pickling import register_self
from appengine_mapreduce_spark.core.worker import Combiner, Mapper, Reducer

# Executor workers may lack this package (see core.pickling); worker
# closures reach into the counter and worker modules as well as this one.
for _module in (C.__name__, Mapper.__module__, __name__):
    register_self(_module)

_EMIT_BATCH_ROWS = 10_000
_COMBINE_FLUSH_KEYS = 100_000


def drop_zip_finders() -> None:
    """Remove the ``zipimport.zipimporter`` finders from this Python
    worker's ``sys.path_importer_cache``; every engine worker body calls
    it first.

    A reused Spark Python worker calls ``importlib.invalidate_caches()``
    before each task, and on CPython 3.11 every cached zipimporter then
    re-reads its archive's whole directory in pure Python. Spark puts
    pyspark.zip, the py4j zip and the spark-core jar on each worker's
    path, so that re-read cost 145 ms of CPU per task on an idle core
    (145-420 ms under 4-way load). Entries of the cache may be removed to
    force re-discovery: a later import makes a new finder from
    ``zipimport._zip_directory_cache`` without reading the archive.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)


def _record_type(names: list[str]) -> type:
    """The namedtuple user code gets rows as (see ``Mapper``)."""
    return collections.namedtuple("Pandas", names, rename=True)


def _pylist(col: pa.Array) -> list:
    """``col.to_pylist()``, the same values of the same Python types, at
    numpy's speed where numpy gives them: string and binary columns (a
    null reads as ``None``) and null-free integer, float32/64 and boolean
    columns. Every other column goes through ``to_pylist()``: a number
    column with nulls (numpy would read its integers as floats), float16
    (whose ``to_pylist`` values are numpy scalars) and every non-flat or
    temporal type."""
    t = col.type
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or col.null_count == 0 and (
            pa.types.is_integer(t)
            or pa.types.is_float32(t)
            or pa.types.is_float64(t)
            or pa.types.is_boolean(t)
        )
    ):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def _records(columns: list[pa.Array], record: type, num_rows: int) -> Iterator[tuple]:
    """The rows of ``columns`` as ``record`` namedtuples, each value as
    ``_pylist`` (so ``to_pylist()``) reads it; an empty record per row
    when there are no columns."""
    if not columns:
        return itertools.repeat(record(), num_rows)
    return map(record._make, zip(*map(_pylist, columns)))


def _emitter(stage: str, out_schema: StructType):
    """Build the function that turns a block of yielded rows into one
    Arrow batch of ``out_schema``, rejecting rows of the wrong width and
    values their column's type cannot hold (a NaN or a bool yielded into
    a bigint column raises; Arrow truncates a finite float there)."""
    arrow_schema = pa.schema([(f.name, to_arrow_type(f.dataType)) for f in out_schema.fields])

    def column(values: tuple, i: int) -> pa.Array:
        try:
            return pa.array(values, type=arrow_schema.types[i])
        except (pa.ArrowException, OverflowError) as e:
            f = out_schema.fields[i]
            raise TypeError(
                f"{stage} yielded a value the output column {f.name!r} "
                f"({f.dataType.simpleString()}) cannot hold: {e}"
            ) from e

    def emit(rows: list[tuple]) -> pa.RecordBatch:
        cols = list(zip(*rows, strict=True))
        if len(cols) != len(arrow_schema):
            raise ValueError(
                f"{stage} yielded {len(cols)}-field rows for the "
                f"{len(arrow_schema)}-column output schema {out_schema.simpleString()}"
            )
        arrays = [column(c, i) for i, c in enumerate(cols)]
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return emit


def _blocks(outputs: Iterator[Iterable[tuple]], emit) -> Iterator[pa.RecordBatch]:
    """Cut the rows of ``outputs`` (one iterable per user call: what one
    input row or key yielded) into ``_EMIT_BATCH_ROWS``-row Arrow batches
    with ``emit``. The bound is checked after every row, so one call that
    yields many rows still gives bounded blocks."""
    buf: list[tuple] = []
    for rows in outputs:
        for row in rows:
            buf.append(row)
            if len(buf) == _EMIT_BATCH_ROWS:
                yield emit(buf)
                buf = []
    if buf:
        yield emit(buf)


def _shard(
    ctx: CounterContext, walltime: str, counts: dict[str, int], outputs, emit
) -> Iterator[pa.RecordBatch]:
    """The Arrow blocks of one shard's ``outputs`` (see ``_blocks``), then,
    once the last block is out, the shard's counters: ``counts`` (which
    ``outputs`` fills as it ends), the rows written and the shard's wall
    time in ms under ``walltime``."""
    t0 = time.monotonic()
    written = 0
    for block in _blocks(outputs, emit):
        written += block.num_rows
        yield block
    counts[C.IO_RECORDS_WRITTEN] = written
    counts[walltime] = round((time.monotonic() - t0) * 1000)
    for name, n in counts.items():
        ctx.increment(name, n)


def map_rows(df: DataFrame, fn, out_schema: str | StructType) -> DataFrame:
    """Run the generator ``fn(row)`` over each row of ``df`` and return
    the rows it yields as a DataFrame of ``out_schema`` (a DDL string or
    ``StructType``).

    ``row`` is a namedtuple of ``df``'s columns with values as ``Mapper``
    reads them; each yielded tuple is one output row, and a value its
    column cannot hold fails the task, naming ``fn`` and the column. Input
    batches are bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
    and output blocks by ``_EMIT_BATCH_ROWS``, whatever one row yields.
    """
    if isinstance(out_schema, str):
        out_schema = StructType.fromDDL(out_schema)
    columns = df.columns
    emit = _emitter(fn.__qualname__, out_schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        record = _record_type(columns)
        rows = (r for b in batches for r in _records(b.columns, record, b.num_rows))
        return _blocks(map(fn, rows), emit)

    run.__name__ = fn.__name__  # the name the plan shows for the stage
    return df.mapInArrow(run, schema=out_schema)


def run_mapper(
    df: DataFrame,
    mapper: Mapper,
    out_schema: StructType,
    acc,
    combiner: Combiner | None = None,
    expand_parameters: bool = False,
    rate_per_sec: int | None = None,
) -> DataFrame:
    """Map stage: per-partition lifecycle (begin/end shard), per-row
    generator dispatch, optional map-side combine on the first output
    column (the key).

    ``expand_parameters`` ≙ the reference's multi-arg handler mode
    (input_readers.py:127-130): call ``mapper(ctx, *row)`` instead of
    ``mapper(ctx, row)``.
    ``rate_per_sec`` ≙ processing_rate throttling (handlers.py:1008-1027,
    default cap parameters.py:222): the job-wide records/sec budget is
    split evenly across partitions; each worker sleeps when ahead.
    """
    if combiner is not None and len(out_schema.fields) != 2:
        raise ValueError(
            "map-side combine requires a 2-column (key, value) map output "
            f"schema; got {len(out_schema.fields)} columns "
            f"({[f.name for f in out_schema.fields]}) — drop the combiner or "
            "pack values into a struct column"
        )
    per_part_rate = None
    if rate_per_sec is not None:
        per_part_rate = max(1.0, rate_per_sec / max(1, df.rdd.getNumPartitions()))
    columns = df.columns
    emit = _emitter("mapper", out_schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        tc = TaskContext.get()
        ctx = CounterContext(acc, shard_id=tc.partitionId() if tc else -1)
        record = _record_type(columns)
        pending: dict = {}  # key -> [values] for map-side combine
        counts: dict[str, int] = {}
        n_calls = 0
        t0 = time.monotonic()

        def flush_combine() -> Iterator[tuple]:
            for k, vals in pending.items():
                for v in combiner(ctx, k, iter(vals)):
                    yield k, v
            pending.clear()

        def throttle() -> None:
            if per_part_rate is not None and n_calls > 0:
                ahead = n_calls / per_part_rate - (time.monotonic() - t0)
                if ahead > 0:
                    time.sleep(ahead)

        def outputs() -> Iterator[Iterable[tuple]]:
            nonlocal n_calls
            mapper.begin_shard(ctx)
            for batch in batches:
                throttle()
                for row in _records(batch.columns, record, batch.num_rows):
                    n_calls += 1
                    out = mapper(ctx, *row) if expand_parameters else mapper(ctx, row)
                    if out is None:
                        continue
                    if combiner is None:
                        yield map(tuple, out)
                        continue
                    for item in out:
                        pending.setdefault(item[0], []).append(item[1])
                    if len(pending) >= _COMBINE_FLUSH_KEYS:
                        yield flush_combine()
            if combiner is not None:
                yield flush_combine()
            throttle()  # settle the rate budget before finishing the shard
            mapper.end_shard(ctx)
            counts[C.MAPPER_CALLS] = counts[C.IO_RECORDS_READ] = n_calls

        return _shard(ctx, C.MAPPER_WALLTIME_MS, counts, outputs(), emit)

    return df.mapInArrow(fn, schema=out_schema)


_NAN = float("nan")  # the one object every NaN key is mapped to


def run_reducer(
    kv_df: DataFrame,
    reducer: Reducer,
    out_schema: StructType,
    acc,
    key_col: str,
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Reduce stage: hash-partition on the key (into ``num_partitions``
    when given), sort each partition on it, and stream each run of equal
    keys to the user generator as a value iterator. Per-partition
    lifecycle (begin/end shard) as on the map side.

    Single value column → values iterate as scalars; multiple → as
    namedtuples (parity with multi-property entity reducers); none → one
    empty namedtuple per map output row.
    """
    key_type = kv_df.schema[key_col].dataType
    if not isinstance(key_type, AtomicType):
        raise ValueError(
            f"reducer key column {key_col!r} has type {key_type.simpleString()}; "
            "keys must be scalar — serialize composite keys to a string"
        )
    shuffled = (
        kv_df.repartition(key_col)
        if num_partitions is None
        else kv_df.repartition(num_partitions, key_col)
    ).sortWithinPartitions(key_col).select(key_col, *value_cols)
    float_key = isinstance(key_type, (FloatType, DoubleType))
    emit = _emitter("reducer", out_schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        drop_zip_finders()
        tc = TaskContext.get()
        ctx = CounterContext(acc, shard_id=tc.partitionId() if tc else -1)
        record = _record_type(value_cols)
        counts: dict[str, int] = {C.IO_RECORDS_READ: 0}

        def pieces() -> Iterator[tuple]:
            """``(key, values)`` per run of equal keys in a batch, where
            two nulls are equal and, for float keys, two NaNs (Arrow's
            ``equal`` gives null and false there). A key that spans a
            batch edge comes in two pieces; the caller merges them."""
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                counts[C.IO_RECORDS_READ] += n
                col = batch.column(0)
                a, b = col[1:], col[:-1]
                same = pc.fill_null(pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b)))
                if float_key:
                    same = pc.or_(same, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
                starts = [0, *(i + 1 for i in _pylist(pc.indices_nonzero(pc.invert(same))))]
                keys = _pylist(col.take(starts))
                if float_key:
                    # Spark's sort puts every NaN in one run and -0.0 with
                    # 0.0; ``itertools.groupby`` compares with
                    # ``PyObject_RichCompareBool``, which treats an object
                    # as equal to itself, so all NaNs become ``_NAN``
                    keys = [k if k is None else (_NAN if k != k else k + 0.0) for k in keys]
                if len(value_cols) == 1:
                    values = _pylist(batch.column(1))
                else:
                    values = list(_records(batch.columns[1:], record, n))
                for key, a, b in zip(keys, starts, [*starts[1:], n]):
                    yield key, values[a:b]

        def outputs() -> Iterator[Iterable[tuple]]:
            reducer.begin_shard(ctx)
            n_calls = 0
            values_of = itemgetter(1)
            for key, run in itertools.groupby(pieces(), itemgetter(0)):
                n_calls += 1
                values = itertools.chain.from_iterable(map(values_of, run))
                yield map(tuple, reducer(ctx, key, values) or ())
            reducer.end_shard(ctx)
            counts[C.REDUCER_CALLS] = n_calls

        return _shard(ctx, C.REDUCER_WALLTIME_MS, counts, outputs(), emit)

    return shuffled.mapInArrow(fn, schema=out_schema)
