"""Zip-archive sources.

Reference: ``BlobstoreZipInputReader`` (input_readers.py:1440-1601) iterates
members of one zip by TOC index range; ``BlobstoreZipLineInputReader``
(:1604-1830) additionally splits members into lines keyed
``((file_index, offset), line)``.

Spark: ``binaryFile`` reads each archive whole into one row (an archive
is never split — the natural split unit, matching the reference's
TOC-range sharding), and ``core.adapters.map_rows`` opens it with the
stdlib ``zipfile``, yielding one row per member. Python is unavoidable
here (no JVM zip source). ``zip_member_lines`` splits each member with a
per-line Python loop over ``bytes.splitlines``, so its cost grows with
the line count.
"""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import DataFrame, SparkSession

from appengine_mapreduce_spark.core.adapters import map_rows
from appengine_mapreduce_spark.core.pickling import register_self

register_self(__name__)


_MEMBER_SCHEMA = "zip_path string, member_index int, member_name string, content binary"
_LINE_SCHEMA = "zip_path string, member_index int, offset bigint, line string"


def zip_members(spark: SparkSession, path: str) -> DataFrame:
    """One row per archive member: (zip_path, member_index, member_name,
    content bytes), members ordered by TOC index (reference parity:
    input_readers.py:1497-1510 iterates zipfile.infolist order)."""
    bins = spark.read.format("binaryFile").load(path)

    def extract(row):
        p, content = row
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            for idx, info in enumerate(zf.infolist()):
                if not info.is_dir():
                    yield p, idx, info.filename, zf.read(info)

    return map_rows(bins.select("path", "content"), extract, _MEMBER_SCHEMA)


def zip_member_lines(spark: SparkSession, path: str, encoding: str = "utf-8") -> DataFrame:
    """Per-member line records keyed (member_index, byte offset) —
    ≙ BlobstoreZipLineInputReader's ((file_num, offset), line)
    (input_readers.py:1604-1830)."""
    members = zip_members(spark, path)

    def split_lines(row):
        zp, idx, content = row
        offset = 0
        for raw in content.splitlines(keepends=True):
            yield zp, idx, offset, raw.rstrip(b"\r\n").decode(encoding)
            offset += len(raw)

    return map_rows(
        members.select("zip_path", "member_index", "content"), split_lines, _LINE_SCHEMA
    )
