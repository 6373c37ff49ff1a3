"""Driver-gate oracle queries for the file-based sources.

``line_input`` offsets, zip members/lines, multi-file glob and the LevelDB
record roundtrip each get a full oracle row here, not only pytest cases.

The trick: fixtures are generated *driver-side with pyarrow* (not Spark, so
no partition-order nondeterminism) from ``documents.parquet``, as pure
functions of (doc_id, text). The DuckDB oracle then reproduces the exact
same lines — including byte offsets, via window sums of ``strlen(line)+1``
— straight from the parquet table, so the comparison is end-to-end:
bytes on disk → source operator → DataFrame vs. SQL prediction.

Reference parity targets:
- (offset, line) protocol: input_readers.py:1286-1437 (BlobstoreLineInputReader)
- zip TOC + ((member, offset), line): input_readers.py:1440-1601, :1604-1830
- multi-file listing: input_readers.py:2247-2541 (_GoogleCloudStorageInputReader)
- LevelDB records: input_readers.py:2544-2593 + records.py:15-121
"""

from __future__ import annotations

import os
import re
import shutil
import zipfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register

# Fixtures derive from documents rows with doc_id < _CAP so every scale
# factor ≥ the cap's worth of docs produces the same fixture, and the
# oracle can mirror the predicate exactly.
_CAP = 500
_N_FILES = 4

# Shared SQL fragment: the exact line content the fixture builder writes.
# Printable-ASCII filter keeps chars == bytes so strlen-based offsets are
# exact; the Python twin is _clean() below.
_LINES_CTE = """
    lines AS (
        SELECT doc_id,
               doc_id % 4 AS file_idx,
               doc_id || '|' ||
                 substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 50) AS line
        FROM documents WHERE doc_id < 500
    )
"""


def _clean(text: str) -> str:
    return re.sub(r"[^ -~]", "", text)[:50]


def _doc_lines(sf_dir: str) -> list[tuple[int, str]]:
    """(doc_id, line) sorted by doc_id — the single source of fixture truth."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = sorted(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    return [(d, f"{d}|{_clean(t)}") for d, t in rows if d < _CAP]


def _fixture_root(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join("/tmp", "amr_spark_fixtures", tag)


def _build_fixtures(sf_dir: str) -> str:
    """Idempotently (re)build the text/zip fixtures for one scale factor.

    Layout:
      all_lines.txt            every line, doc_id order, '\\n'-terminated
      parts/part-{0..3}.txt    lines split by doc_id % 4
      parts.zip                the four part files as members, TOC order 0..3
    """
    root = _fixture_root(sf_dir)
    tmp = root + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "parts"))

    lines = _doc_lines(sf_dir)
    with open(os.path.join(tmp, "all_lines.txt"), "w", encoding="ascii") as fh:
        fh.writelines(line + "\n" for _, line in lines)
    import gzip

    with gzip.open(os.path.join(tmp, "all_lines.txt.gz"), "wt", encoding="ascii") as fh:
        fh.writelines(line + "\n" for _, line in lines)

    # custom-separator twin: same lines joined by RS (0x1e) — a byte the
    # printable-ASCII line filter guarantees never appears in content
    with open(os.path.join(tmp, "all_lines.rs"), "w", encoding="ascii") as fh:
        fh.write("\x1e".join(line for _, line in lines))

    parts: list[list[str]] = [[] for _ in range(_N_FILES)]
    for doc_id, line in lines:
        parts[doc_id % _N_FILES].append(line)
    for i, plines in enumerate(parts):
        with open(
            os.path.join(tmp, "parts", f"part-{i}.txt"), "w", encoding="ascii"
        ) as fh:
            fh.writelines(line + "\n" for line in plines)

    with zipfile.ZipFile(os.path.join(tmp, "parts.zip"), "w") as zf:
        for i in range(_N_FILES):
            zf.write(
                os.path.join(tmp, "parts", f"part-{i}.txt"), arcname=f"part-{i}.txt"
            )

    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return root


@register(
    "line_input_offsets",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT CAST(COALESCE(sum(strlen(line) + 1) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS offset,
               line
        FROM lines
    """,
    description="(byte_offset, line) protocol of BlobstoreLineInputReader "
    "(input_readers.py:1286-1437) via Hadoop TextInputFormat, byte-range "
    "split into ≥4 shards; oracle predicts each offset with a window sum "
    "over the generating table.",
    tags=("sources", "line"),
)
def line_input_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.text import line_input

    root = _build_fixtures(sf_dir)
    df = line_input(
        spark, os.path.join(root, "all_lines.txt"), with_offsets=True, min_partitions=4
    )
    return df.select(F.col("offset").cast("long").alias("offset"), "line")


@register(
    "line_input_custom_sep",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT line FROM lines
    """,
    description="Custom record separator (RS 0x1e) line input — the Java "
    "GoogleCloudStorageLineInput's configurable-separator contract "
    "(GoogleCloudStorageLineInput.java:21, LineInputStream.java:35) via "
    "the text source's lineSep option; content identical to the "
    "newline-framed fixture, so the oracle is the generating table "
    "itself.",
    tags=("sources", "line", "separator"),
)
def line_input_custom_sep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.text import line_input

    root = _build_fixtures(sf_dir)
    return line_input(
        spark, os.path.join(root, "all_lines.rs"), line_sep="\x1e"
    ).select("line")


@register(
    "glob_file_lines",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT CAST(file_idx AS INT) AS file_idx, line FROM lines
    """,
    description="Multi-file glob scan with per-row file provenance "
    "(_GoogleCloudStorageInputReader's file list, input_readers.py:2247-2541); "
    "file index recovered from input_file_name().",
    tags=("sources", "glob"),
)
def glob_file_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.text import multi_file_line_input

    root = _build_fixtures(sf_dir)
    df = multi_file_line_input(spark, [os.path.join(root, "parts", "part-*.txt")])
    return df.select(
        F.regexp_extract("file_name", r"part-(\d+)\.txt", 1).cast("int").alias("file_idx"),
        "line",
    )


@register(
    "zip_toc_members",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT CAST(file_idx AS INT) AS member_index,
               'part-' || file_idx || '.txt' AS member_name,
               CAST(sum(strlen(line) + 1) AS BIGINT) AS n_bytes
        FROM lines GROUP BY file_idx
    """,
    description="Zip TOC enumeration (BlobstoreZipInputReader, "
    "input_readers.py:1440-1601): member index/name/size per archive member.",
    tags=("sources", "zip"),
)
def zip_toc_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.zipsource import zip_members

    root = _build_fixtures(sf_dir)
    df = zip_members(spark, os.path.join(root, "parts.zip"))
    return df.select(
        "member_index",
        "member_name",
        F.octet_length("content").cast("long").alias("n_bytes"),
    )


@register(
    "zip_line_records",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT CAST(file_idx AS INT) AS member_index,
               CAST(COALESCE(sum(strlen(line) + 1) OVER (
                   PARTITION BY file_idx ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS offset,
               line
        FROM lines
    """,
    description="((member_index, byte_offset), line) records of "
    "BlobstoreZipLineInputReader (input_readers.py:1604-1830); oracle "
    "predicts per-member offsets with a partitioned window sum.",
    tags=("sources", "zip", "line"),
)
def zip_line_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.zipsource import zip_member_lines

    root = _build_fixtures(sf_dir)
    df = zip_member_lines(spark, os.path.join(root, "parts.zip"))
    return df.select("member_index", "offset", "line")


@register(
    "line_input_gzip",
    oracle=f"""
        WITH {_LINES_CTE}
        SELECT line FROM lines
    """,
    description="Gzip-compressed text input: Hadoop's codec chain "
    "decompresses transparently (the reference reads gzip blobs the same "
    "way, input_readers.py line reader over zlib streams). Non-splittable "
    "— one task per .gz file, the known property; split upstream for "
    "parallelism.",
    tags=("sources", "line", "compression"),
)
def line_input_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.sources.text import line_input

    root = _build_fixtures(sf_dir)
    return line_input(spark, os.path.join(root, "all_lines.txt.gz"))


@register(
    "csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
    description="CSV sink→source roundtrip: distributed header-CSV write, "
    "schema-ful read back (no inference job), values bit-identical to the "
    "parquet original — doubles survive because Spark emits shortest-"
    "roundtrip decimal strings. ≙ the reference's text marshalling "
    "(output_writers.py text formats).",
    tags=("sources", "sinks", "csv"),
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.plans.tables import load

    out = os.path.join(_fixture_root(sf_dir), "csv_rt")
    shutil.rmtree(out, ignore_errors=True)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    cust.write.option("header", "true").csv(out)
    return spark.read.option("header", "true").schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double"
    ).csv(out)


@register(
    "json_lines_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    description="Newline-delimited JSON sink→source roundtrip with an "
    "explicit read schema — ≙ the reference's MarshallingOutput/"
    "UnmarshallingInput JSON path (Marshallers.java), minus the "
    "per-record framing Spark doesn't need.",
    tags=("sources", "sinks", "json"),
)
def json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.plans.tables import load

    out = os.path.join(_fixture_root(sf_dir), "json_rt")
    shutil.rmtree(out, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.json(out)
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(out)


@register(
    "records_roundtrip",
    oracle="""
        SELECT doc_id,
               n_chars,
               CAST(strlen(CAST(doc_id AS VARCHAR)) + 1 +
                    strlen(CAST(n_chars AS VARCHAR)) + 1 +
                    (n_chars * 137) % 90000 AS BIGINT) AS rec_len
        FROM documents WHERE doc_id % 5 = 0 AND doc_id < 500
    """,
    description="LevelDB record-file roundtrip (records.py:15-121, "
    "input_readers.py:2544-2593): distributed write of one record file per "
    "partition, distributed read back, with payloads up to ~90 KB so "
    "FIRST/MIDDLE/LAST block-spanning frames are exercised on the gate "
    "path, not just in pytest.",
    tags=("sources", "records"),
)
def records_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.plans.tables import load
    from appengine_mapreduce_spark.sources.records import records_input, records_output

    out_dir = os.path.join(_fixture_root(sf_dir), "records_rt")
    shutil.rmtree(out_dir, ignore_errors=True)

    docs = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < _CAP))
        .select(
            F.encode(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.col("n_chars").cast("string"),
                    F.repeat(F.lit("x"), (F.col("n_chars") * 137 % 90000).cast("int")),
                ),
                "UTF-8",
            ).alias("record")
        )
    )
    records_output(docs.repartition(4), out_dir)

    back = records_input(spark, os.path.join(out_dir, "*.rec"))
    fields = F.split(F.decode("record", "UTF-8"), r"\|", 3)
    return back.select(
        F.element_at(fields, 1).cast("long").alias("doc_id"),
        F.element_at(fields, 2).cast("long").alias("n_chars"),
        F.octet_length("record").cast("long").alias("rec_len"),
    )
