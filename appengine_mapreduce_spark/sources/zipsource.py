"""Zip-archive sources.

Reference: ``BlobstoreZipInputReader`` (input_readers.py:1440-1601) iterates
members of one zip by TOC index range; ``BlobstoreZipLineInputReader``
(:1604-1830) additionally splits members into lines keyed
``((file_index, offset), line)``.

Spark: ``binaryFile`` reads each archive whole into one row (an archive
is never split — the natural split unit, matching the reference's
TOC-range sharding), and ``core.adapters.map_rows`` opens it with the
stdlib ``zipfile``, yielding one row per member. Python is unavoidable
here (no JVM zip source). ``zip_member_lines`` opens the archive and
splits each member with a per-line Python loop over ``bytes.splitlines``
in the same stage, so its cost grows with the line count.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from appengine_mapreduce_spark.core.adapters import map_rows
from appengine_mapreduce_spark.core.pickling import register_self

register_self(__name__)


_MEMBER_SCHEMA = "zip_path string, member_index int, member_name string, content binary"
_LINE_SCHEMA = "zip_path string, member_index int, offset bigint, line string"


def _files(content: bytes) -> Iterator[tuple[int, str, bytes]]:
    """``(member_index, member_name, bytes)`` for each file member of the
    archive ``content``, in TOC order (reference parity:
    input_readers.py:1497-1510 iterates zipfile.infolist order);
    directory entries are skipped but keep their index."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        for idx, info in enumerate(zf.infolist()):
            if not info.is_dir():
                yield idx, info.filename, zf.read(info)


def _archives(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format("binaryFile").load(path).select("path", "content")


def zip_members(spark: SparkSession, path: str) -> DataFrame:
    """One row per archive member: (zip_path, member_index, member_name,
    content bytes), members ordered by TOC index."""

    def extract(row):
        p, content = row
        for idx, name, data in _files(content):
            yield p, idx, name, data

    return map_rows(_archives(spark, path), extract, _MEMBER_SCHEMA)


def zip_member_lines(spark: SparkSession, path: str, encoding: str = "utf-8") -> DataFrame:
    """Per-member line records keyed (member_index, byte offset) —
    ≙ BlobstoreZipLineInputReader's ((file_num, offset), line)
    (input_readers.py:1604-1830). One Python stage opens each archive and
    splits its members, so member bytes never go back to the JVM."""

    def split_lines(row):
        zp, content = row
        for idx, _, data in _files(content):
            offset = 0
            for raw in data.splitlines(keepends=True):
                yield zp, idx, offset, raw.rstrip(b"\r\n").decode(encoding)
                offset += len(raw)

    return map_rows(_archives(spark, path), split_lines, _LINE_SCHEMA)
