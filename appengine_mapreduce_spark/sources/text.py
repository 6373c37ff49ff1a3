"""Newline-delimited text sources.

Reference: ``BlobstoreLineInputReader`` (input_readers.py:1286-1437) yields
``(byte_offset, line)`` per record, byte-range sharded with the
skip-first-partial-line rule (:1306-1344). Java
``GoogleCloudStorageLineInput.java:21`` + ``LineInputStream.java:35`` do
the same with a configurable separator.

Spark: Hadoop's ``TextInputFormat`` *is* that exact protocol (byte-range
splits, first-partial-line skip, ``\\n``/``\\r\\n``/``\\r`` terminators,
codecs), and its ``LineRecordReader`` key is the byte offset, so
``line_input(with_offsets=True)`` is bit-parity with the reference's
``(offset, line)`` stream. ``spark.read.text`` cannot replace it: its
reader drops those keys, and they cannot be rebuilt from the lines alone
(a line's terminator, ``\\n`` or ``\\r\\n``, is not kept).
``spark.read.text`` stays the fast path when offsets aren't needed (it
prunes/pushes down; the Hadoop-RDD path cannot).

The offset path never runs Python on a row. ``PythonRDD.newAPIHadoopFile``
reads the splits with the ``mapreduce`` (new-API) ``TextInputFormat``,
whose ``split.maxsize`` carries ``min_partitions`` (the ``mapred`` one
ignores it). Its pickled output is unpickled again in the JVM
(``SerDeUtil.pythonToJava`` → ``SerDeUtil.toJavaArray``) and turned into
rows of a declared schema (``SparkSession.applySchemaToPythonRDD``): the
route ``SparkSession.createDataFrame`` takes for an RDD, minus its Python
``map``. With the schema declared, nothing is inferred, so an empty input
gives an empty frame. Building the frame launches one small ``take`` job,
``newAPIHadoopFile``'s picklability check on the first record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

_OFFSET_LINE = StructType(
    [StructField("offset", LongType()), StructField("line", StringType())]
)


def line_input(
    spark: SparkSession,
    path: str,
    with_offsets: bool = False,
    min_partitions: int | None = None,
    line_sep: str | None = None,
) -> DataFrame:
    """Read text file(s) (glob ok) as lines.

    with_offsets=False → DataFrame[line: string]        (fast path)
    with_offsets=True  → DataFrame[offset: bigint, line: string]
                         (reference parity: input_readers.py:1327-1344),
                         read by Hadoop's TextInputFormat and converted
                         to rows in the JVM (see the module docstring);
                         an empty input gives 0 rows of that schema
    min_partitions     → offsets path only: cap each split at total
                         bytes / min_partitions (default
                         sc.defaultMinPartitions), so one file gives at
                         least that many byte ranges
    line_sep           → custom record separator (≙ Java
                         GoogleCloudStorageLineInput's configurable
                         separator, GoogleCloudStorageLineInput.java:21);
                         fast path only — Hadoop TextInputFormat's offset
                         protocol is newline-defined.
    """
    if line_sep is not None and with_offsets:
        raise ValueError("line_sep is supported on the fast path only")
    if not with_offsets:
        reader = spark.read
        if line_sep is not None:
            reader = reader.option("lineSep", line_sep)
        return reader.text(path).withColumnRenamed("value", "line")
    sc = spark.sparkContext
    # Split at total / min_partitions bytes, the goal size sc.textFile
    # uses (same default).
    total = _input_bytes(sc, path)
    split = max(1, total // (min_partitions or sc.defaultMinPartitions))
    pickled = sc.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf={"mapreduce.input.fileinputformat.split.maxsize": str(split)} if total else None,
    )._jrdd
    serde = sc._jvm.SerDeUtil
    rows = serde.toJavaArray(serde.pythonToJava(pickled, True))
    jdf = spark._jsparkSession.applySchemaToPythonRDD(rows.rdd(), _OFFSET_LINE.json())
    return DataFrame(jdf, spark)


def _input_bytes(sc, path: str) -> int:
    """Bytes of the files Hadoop's ``FileInputFormat`` reads for ``path``
    (a file, a glob, or a directory, whose non-hidden files it reads;
    any scheme Hadoop knows), summed through Hadoop's ``FileSystem``;
    0 when nothing matches, which Hadoop itself then reports."""
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())

    def visible(st) -> bool:  # FileInputFormat's hidden-file filter
        return not st.getPath().getName().startswith(("_", "."))

    total = 0
    for st in filter(visible, fs.globStatus(hpath) or ()):
        for f in fs.listStatus(st.getPath()) if st.isDirectory() else (st,):
            if f.isFile() and visible(f):
                total += f.getLen()
    return total


def multi_file_line_input(
    spark: SparkSession, paths: list[str], fail_on_missing: bool = True
) -> DataFrame:
    """Multi-file scan with filename column — ≙
    _GoogleCloudStorageInputReader's file list + round-robin shard packing
    (input_readers.py:2247-2541); Spark's FilePartition packing replaces
    the round-robin. ``input_file_name()`` exposes provenance like the
    reference's per-file readers."""
    from pyspark.sql import functions as F

    reader = spark.read
    if not fail_on_missing:
        reader = reader.option("ignoreMissingFiles", "true")
    df = reader.text(list(paths))
    return df.select(
        F.input_file_name().alias("file_name"),
        F.col("value").alias("line"),
    )
