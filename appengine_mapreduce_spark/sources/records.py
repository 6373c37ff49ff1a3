"""LevelDB log-format record codec — byte-compatible with the reference's
intermediate files.

The reference frames every intermediate byte stream in the public LevelDB
log format (python/src/mapreduce/records.py:15-121 and java
impl/util/LevelDbConstants.java describe the same layout, which originates
in LevelDB's doc/log_format.md):

    block   := record* trailer?          (blocks are 32768 bytes)
    record  := crc32c(4B LE, masked) length(2B LE) type(1B) data
    type    := FULL=1 | FIRST=2 | MIDDLE=3 | LAST=4
    trailer := zero-padding when < 7 bytes remain in the block
    mask(c) := ((c >> 15 | c << 17) + 0xa282ead8) mod 2^32, over
               crc32c(type || data)

Implemented here from that public specification. Inside the Spark engine
these files are replaced by Parquet/shuffle files; the codec exists so
byte-level fixtures written by the reference can be read (and vice versa)
— e.g. migrating a reference deployment's intermediate data.

Distributed read path: ``records_input`` decodes each file whole, in
one task. The format would allow splitting a file at BLOCK boundaries (a
record never starts mid-block), as the reference's GCS readers do
(input_readers.py:2544-2593); that split is not implemented.
"""

from __future__ import annotations

import io
import struct
from collections.abc import Iterator
from appengine_mapreduce_spark.core.pickling import register_self

register_self(__name__)


BLOCK_SIZE = 32768
HEADER_SIZE = 7
_FULL, _FIRST, _MIDDLE, _LAST = 1, 2, 3, 4
_MASK_DELTA = 0xA282EAD8

# --- CRC32C (Castagnoli), table-driven. Polynomial 0x1EDC6F41 reflected.
_CRC_TABLE: list[int] = []


def _build_table() -> None:
    poly = 0x82F63B78  # reflected Castagnoli polynomial
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        _CRC_TABLE.append(c)


_build_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    c = crc ^ 0xFFFFFFFF
    for b in data:
        c = _CRC_TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _masked_crc(type_byte: int, data: bytes) -> int:
    c = crc32c(bytes([type_byte]) + data)
    return ((c >> 15 | c << 17) + _MASK_DELTA) & 0xFFFFFFFF


class RecordWriter:
    """Append records to a file-like object in LevelDB log format."""

    def __init__(self, fh: io.RawIOBase):
        self._fh = fh
        self._block_pos = 0

    def write(self, data: bytes) -> None:
        first = True
        remaining = data
        while True:
            space = BLOCK_SIZE - self._block_pos
            if space < HEADER_SIZE:
                self._fh.write(b"\x00" * space)  # block trailer padding
                self._block_pos = 0
                space = BLOCK_SIZE
            payload_room = space - HEADER_SIZE
            chunk, remaining = remaining[:payload_room], remaining[payload_room:]
            done = not remaining
            if first and done:
                rtype = _FULL
            elif first:
                rtype = _FIRST
            elif done:
                rtype = _LAST
            else:
                rtype = _MIDDLE
            header = struct.pack("<IHB", _masked_crc(rtype, chunk), len(chunk), rtype)
            self._fh.write(header + chunk)
            self._block_pos += HEADER_SIZE + len(chunk)
            first = False
            if done:
                return


class RecordReader:
    """Iterate records from a file-like object in LevelDB log format."""

    def __init__(self, fh: io.RawIOBase, verify_crc: bool = True):
        self._fh = fh
        self._block_pos = 0
        self._verify = verify_crc

    def __iter__(self) -> Iterator[bytes]:
        pending: list[bytes] = []
        while True:
            space = BLOCK_SIZE - self._block_pos
            if space < HEADER_SIZE:
                if self._fh.read(space) != b"\x00" * space:
                    # tolerant of truncated trailer at EOF
                    return
                self._block_pos = 0
            header = self._fh.read(HEADER_SIZE)
            if len(header) < HEADER_SIZE:
                return
            crc, length, rtype = struct.unpack("<IHB", header)
            if rtype == 0 and length == 0 and crc == 0:
                # zero padding read as a header (trailer at block end)
                self._block_pos = (self._block_pos + HEADER_SIZE) % BLOCK_SIZE
                continue
            data = self._fh.read(length)
            if len(data) < length:
                return  # truncated tail
            self._block_pos = (self._block_pos + HEADER_SIZE + length) % BLOCK_SIZE
            if self._verify and _masked_crc(rtype, data) != crc:
                raise IOError(f"corrupt record: crc mismatch (type={rtype})")
            if rtype == _FULL:
                yield data
            elif rtype == _FIRST:
                pending = [data]
            elif rtype == _MIDDLE:
                pending.append(data)
            elif rtype == _LAST:
                pending.append(data)
                yield b"".join(pending)
                pending = []
            else:
                raise IOError(f"corrupt record: unknown type {rtype}")


def write_records_file(path: str, records: list[bytes]) -> None:
    with open(path, "wb") as fh:
        w = RecordWriter(fh)
        for r in records:
            w.write(r)


def read_records_file(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        return list(RecordReader(fh))


def records_output(df, out_dir: str, record_col: str = "record") -> int:
    """Distributed write: one LevelDB record file per partition
    (≙ the reference's one-file-per-shard writers,
    outputs/GoogleCloudStorageLevelDbOutput.java:17). ``record_col`` must
    be binary/string; returns the row count written, counted in the same
    single pass over ``df``."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows):
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else 0
        path = os.path.join(out_dir, f"shard-{pid:05d}.rec")
        n = 0
        with open(path, "wb") as fh:
            w = RecordWriter(fh)
            for row in rows:
                data = row[record_col]
                w.write(data if isinstance(data, bytes) else bytes(data))
                n += 1
        if not n:
            os.remove(path)  # no empty shard files
        yield n

    return df.select(record_col).rdd.mapPartitions(write_partition).sum()


def records_input(spark, path: str):
    """Distributed scan of LevelDB record files → DataFrame[file, record].

    Whole-file decode: ``binaryFile`` reads each file into one row and
    ``map_rows`` yields its records in file order. A file is never split,
    so one task decodes all of it (record files from the reference are
    one-per-shard and modest — 256 KB-aligned GCS uploads)."""
    from appengine_mapreduce_spark.core.adapters import map_rows

    bins = spark.read.format("binaryFile").load(path)

    def decode(row):
        p, content = row
        for rec in RecordReader(io.BytesIO(content)):
            yield p, rec

    return map_rows(bins.select("path", "content"), decode, "file string, record binary")
