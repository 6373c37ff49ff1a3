"""MapReduceJob: the reference's public job API compiled to DataFrame plans.

Reference shape reproduced (java MapReduceSpecification.java:24,
MapSpecification.java:18, MapReduceJob.java:87-95; python
control.start_map control.py:37-57 and MapreducePipeline
mapreduce_pipeline.py:194-243):

    spec = (MapReduceSpecification.builder()
        .set_job_name("wordcount")
        .set_input(DataFrameInput(df))
        .set_mapper(WordCountMapper())
        .set_map_output_schema("key string, value bigint")
        .set_combiner(SumCombiner())          # optional
        .set_reducer(WordCountReducer())
        .set_output_schema("word string, n bigint")
        .set_output(InMemoryOutput())
        .build())
    result = MapReduceJob.run(spark, spec)
    result.output, result.counters

Everything the reference's job machinery did between submit and done —
kickoff tasks, shard splitting, slice checkpoints, lease fencing, the
controller loop (handlers.py:157-289, 1360-1581; ShardedJobRunner.java) —
is deleted: Spark's scheduler, task retry and lineage provide those
guarantees. What remains is exactly the user-visible contract: specs,
workers, counters, outputs, and job chaining (plain Python sequencing,
≙ ChainedMapReduceJob.java).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from appengine_mapreduce_spark.core.adapters import run_mapper, run_reducer
from appengine_mapreduce_spark.core.counters import Counters
from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
from appengine_mapreduce_spark.core.worker import (
    Combiner,
    Mapper,
    Reducer,
    as_combiner,
    as_mapper,
    as_reducer,
)


def _ddl(schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


@dataclass
class MapReduceResult:
    """≙ java MapReduceResult.java / impl/MapReduceResultImpl.java:
    the sink's result value + final counters (+ the output DataFrame,
    a Spark-native extra for chaining)."""

    output: Any
    counters: dict[str, int]
    output_df: DataFrame | None = None
    job_id: str | None = None


@dataclass
class MapSpecification:
    """Map-only job spec (java MapSpecification.java:18 /
    MapOnlyMapper.java:15): input → mapper → output, no shuffle."""

    job_name: str
    input: Any  # object with .read(spark) -> DataFrame
    mapper: Mapper
    output_schema: str | StructType
    output: Any  # object with .write(df, job_name) -> Any


@dataclass
class MapReduceSpecification:
    """Full MR job spec (java MapReduceSpecification.java:24).

    ``map_output_schema``'s FIRST column is the shuffle key, remaining
    columns are the value (the reference's KeyValue contract,
    kv_pb.py:24). The key must be a scalar type. The reducer receives a
    lazy iterator streamed off the sorted shuffle, so a huge single key
    needs no pre-chunking: its values are never held in memory at once.
    ``num_reducers`` fixes the reduce partition count (≙ the reference's
    shard count); None lets Spark/AQE decide.
    """

    job_name: str
    input: Any
    mapper: Mapper
    reducer: Reducer
    output_schema: str | StructType
    output: Any
    map_output_schema: str | StructType = "key string, value string"
    combiner: Combiner | None = None
    num_reducers: int | None = None
    expand_parameters: bool = False  # ≙ input_readers.py:127-130
    processing_rate: int | None = None  # records/sec cap ≙ parameters.py:222

    class _Builder:
        def __init__(self):
            self._kw: dict[str, Any] = {}

        def __getattr__(self, name: str):
            if not name.startswith("set_"):
                raise AttributeError(name)

            def setter(value):
                self._kw[name[4:]] = value
                return self

            return setter

        def build(self) -> "MapReduceSpecification":
            return MapReduceSpecification(**self._kw)

    @classmethod
    def builder(cls) -> "MapReduceSpecification._Builder":
        return cls._Builder()


class MapReduceJob:
    """Run specs. ≙ MapReduceJob.start / MapJob / control.start_map."""

    @staticmethod
    def plan(
        spark: SparkSession, spec: MapReduceSpecification, counters: Counters | None = None
    ) -> DataFrame:
        """Build the full map→shuffle→reduce DataFrame without running it —
        usable for chaining / oracle checks; ``run`` adds the sink action.
        Every action on the returned frame re-runs the job and adds to
        ``counters`` again."""
        counters = counters or Counters(spark.sparkContext)
        df = ensure_parallelism(spec.input.read(spark))

        map_schema = _ddl(spec.map_output_schema)
        mapped = run_mapper(
            df, as_mapper(spec.mapper), map_schema, counters.accumulator,
            combiner=as_combiner(spec.combiner),
            expand_parameters=spec.expand_parameters,
            rate_per_sec=spec.processing_rate,
        )

        key_col = map_schema.fields[0].name
        value_cols = [f.name for f in map_schema.fields[1:]]
        return run_reducer(
            mapped, as_reducer(spec.reducer), _ddl(spec.output_schema),
            counters.accumulator, key_col, value_cols,
            num_partitions=spec.num_reducers,
        )

    @staticmethod
    def run(spark: SparkSession, spec: MapReduceSpecification) -> MapReduceResult:
        """Run the job into its sink. The reduce output is materialized
        once (``localCheckpoint``), so a sink that runs several Spark jobs,
        or a later action on ``output_df``, reads the checkpointed blocks
        instead of re-running the job, and counters stay exact. The blocks
        live until ``output_df`` is dropped; a limited ``InMemoryOutput``
        reduces every key before it truncates."""

        def plan(counters: Counters) -> DataFrame:
            return MapReduceJob.plan(spark, spec, counters).localCheckpoint(eager=True)

        return _run(spark, spec, plan)

    @staticmethod
    def run_map(spark: SparkSession, spec: MapSpecification) -> MapReduceResult:
        """Run a map-only job into its sink. Map output is about as large
        as its input, so it is not materialized: the sink's action runs
        the mapper (once; a sorted ``FileOutput`` checkpoints its own
        input), and every later action on ``output_df`` runs it again.
        ``result.counters`` is the snapshot taken when the sink returns."""

        def plan(counters: Counters) -> DataFrame:
            df = ensure_parallelism(spec.input.read(spark))
            return run_mapper(
                df, as_mapper(spec.mapper), _ddl(spec.output_schema), counters.accumulator
            )

        return _run(spark, spec, plan)


def _run(
    spark: SparkSession,
    spec: MapSpecification | MapReduceSpecification,
    plan: Callable[[Counters], DataFrame],
) -> MapReduceResult:
    """Run the job ``plan`` builds into the spec's sink, recording its
    status and counters."""
    from appengine_mapreduce_spark.core import status

    counters = Counters(spark.sparkContext)
    job_id = status.start_job(spec.job_name)
    try:
        out = plan(counters)
        result_value = spec.output.write(out, spec.job_name)
    except BaseException as e:
        status.fail_job(job_id, e)
        raise
    status.finish_job(job_id, counters.to_dict(), result_value)
    return MapReduceResult(result_value, counters.to_dict(), out, job_id)


# --- Inputs (job-level wrappers over sources/) -------------------------------


@dataclass
class DataFrameInput:
    """≙ InMemoryInput / any pre-built DataFrame."""

    df: DataFrame

    def read(self, spark: SparkSession) -> DataFrame:
        return self.df


@dataclass
class TextLinesInput:
    """≙ BlobstoreLineInputReader / GoogleCloudStorageLineInput
    (sources/text.py): rows of (offset, line) or just (line)."""

    path: str
    with_offsets: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        from appengine_mapreduce_spark.sources.text import line_input

        return line_input(spark, self.path, with_offsets=self.with_offsets)
