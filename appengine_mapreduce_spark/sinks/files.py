"""File outputs.

| Reference | Here |
|---|---|
| _GoogleCloudStorageOutputWriter — one file per shard (output_writers.py:669-848) | one file per partition, Spark commit protocol |
| SizeSegmentedGoogleCloudStorageFileOutput (java :21) — roll every N bytes | ``maxRecordsPerFile`` / ``maxPartitionBytes`` roll |
| ShardingOutputWriter (java :25) — route records by key sharder | ``partitionBy`` (layout) or ``repartition(n, key)`` (file-per-bucket) |
| StringOutput (java :33) — toString + terminator | ``df.write.text`` of a single string column |
| GoogleCloudStorageLevelDbOutput — LevelDB framing | Parquet (columnar replaces record framing) |
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class FileOutput:
    """Write the result as files under ``path``; returns the path.

    ``format``: parquet (default — replaces the reference's LevelDB record
    files), text (≙ StringOutput: single column written with line
    terminators), json, csv.
    ``shards``: exact output file count (≙ the reference's one-file-per-
    shard contract); None lets Spark/AQE decide.
    ``max_records_per_file``: size-segmented roll
    (≙ SizeSegmentingOutputWriter).
    """

    path: str
    format: str = "parquet"
    shards: int | None = None
    max_records_per_file: int | None = None
    mode: str = "overwrite"
    options: dict[str, str] = field(default_factory=dict)
    sort_by: list[str] | None = None

    def write(self, df: DataFrame, job_name: str = "") -> str:
        if self.sort_by:
            # Globally sorted shard files (shard i's keys all precede
            # shard i+1's) ≙ the reference's sorted shuffle output
            # (java SortJob/MergeJob, MapReduceJob.java:184-364):
            # range-partition then sort within each partition — Spark's
            # ExternalSorter spills/merges exactly like the reference's
            # tiered merge, no operator to build.
            cols = [F.col(c) for c in self.sort_by]
            # Sampling the range bounds is a Spark job of its own. A lazy
            # local checkpoint keeps the blocks it computes, so the write
            # reads them and an upstream mapper (and its counters) runs
            # once.
            df = df.localCheckpoint(eager=False)
            if self.shards is not None:
                df = df.repartitionByRange(self.shards, *cols)
            else:
                df = df.repartitionByRange(*cols)
            df = df.sortWithinPartitions(*cols)
        elif self.shards is not None:
            df = df.repartition(self.shards)
        writer = df.write.mode(self.mode)
        if self.max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", str(self.max_records_per_file))
        for k, v in self.options.items():
            writer = writer.option(k, v)
        getattr(writer, self.format)(self.path)
        return self.path


@dataclass
class ShardedByKeyOutput:
    """Route records to per-key-bucket files (≙ ShardingOutputWriter,
    outputs/ShardingOutputWriter.java:25): hash the key into
    ``num_shards`` buckets, one directory per bucket via partitionBy —
    downstream consumers get co-located keys."""

    path: str
    key: str
    num_shards: int = 32
    format: str = "parquet"
    mode: str = "overwrite"

    def write(self, df: DataFrame, job_name: str = "") -> str:
        from appengine_mapreduce_spark.functions.hashing import murmur3_bucket

        bucketed = df.withColumn("_shard", murmur3_bucket(F.col(self.key), self.num_shards))
        (
            bucketed.repartition(self.num_shards, "_shard")
            .write.mode(self.mode)
            .partitionBy("_shard")
            .format(self.format)
            .save(self.path)
        )
        return self.path
