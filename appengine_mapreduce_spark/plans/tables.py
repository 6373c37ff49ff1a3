"""Testdata table loading helpers shared by all registered queries."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


_INFER_FILTERS_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _exclude_infer_filters_from_generate(spark: SparkSession) -> None:
    """Disable Catalyst's InferFiltersFromGenerate for this session
    (a measured cost): the rule adds ``size(e) > 0 AND
    isnotnull(e)`` below every inner explode, and when ``e`` is an
    expensive computed array (per-position k-gram digests, shingle
    arrays) the filter re-materializes the ENTIRE expression per doc —
    and gets pushed below the widening exchange, so it also runs on the
    source's narrow split count. Measured on the substring-dedup
    explode: 3.57 s -> 0.62 s at sf0.1 with the rule off. The filter
    only skips empty/null arrays, which our generators handle anyway
    (outer-explode + notnull at the hottest sites keeps the operators
    fast even in sessions without this exclusion). Appended, not
    overwritten, so caller-set exclusions survive."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        cur = ""
    if _INFER_FILTERS_RULE not in cur:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            f"{cur},{_INFER_FILTERS_RULE}" if cur else _INFER_FILTERS_RULE,
        )


# The session confs that change the schema Spark infers from one
# parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# path -> (key, inferred schema); one entry per path, replaced on a miss.
# A hit needs the whole key to match, so a racing writer can only cost a
# second inference, never a stale schema.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _footer_digest(path: str) -> bytes | None:
    """SHA-256 of the parquet footer of the file at ``path`` (the
    metadata block that holds the schema, with its length and magic),
    or ``None`` when ``path`` is not a local single-file parquet (a
    directory, a URI, a truncated or encrypted file)."""
    try:
        with open(path, "rb") as f:
            size = f.seek(0, 2)
            if size < 12:
                return None
            f.seek(size - 8)
            tail = f.read(8)
            n = int.from_bytes(tail[:4], "little")
            if tail[4:] != b"PAR1" or n > size - 12:
                return None
            f.seek(size - 8 - n)
            return hashlib.sha256(f.read(n) + tail).digest()
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, given the schema Spark inferred for
    the same footer under the same inference confs when there is one."""
    digest = _footer_digest(path)
    if digest is None:
        return spark.read.parquet(path)
    key = (digest, *(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; Catalyst handles pushdown/pruning from here.

    Pins the session time zone to UTC so timestamp semantics match the
    DuckDB oracle (which reads parquet timestamps UTC-naive).

    The sf0.001/0.01/0.1 fixtures store ``events.ts`` as a UTC-naive
    TIMESTAMP(MICROS) (``timestamp[us]``), which Spark infers as
    TIMESTAMP_NTZ. A TIMESTAMP(NANOS) copy of the table reads as bigint
    nanoseconds under ``nanosAsLong`` (set here, since Spark refuses the
    column otherwise). Both are normalized to a session-UTC TIMESTAMP so
    every query sees one type (identical to DuckDB's ns→µs semantics
    under a UTC-naive read).

    Schema inference launches one Spark job per read, and a query reads
    up to six tables (q21 reads lineitem three times), so each table's
    inferred schema is kept for the process and later reads pass it to
    ``spark.read.schema(...)``, which launches none. The key is the path,
    a SHA-256 of the file's parquet footer and the session's values of
    the confs that change parquet inference (``_INFERENCE_CONFS``). The
    key is exact: Spark infers a single file's schema from its footer
    alone (the parquet schema and Spark's own schema in the footer's
    key-value metadata) under those confs, so the same key cannot infer
    another schema, and any rewrite that could changes the footer bytes.
    Size and mtime are not used: a same-size rewrite can land in the same
    mtime tick. A path that is a directory or has no parquet footer is
    inferred on every read, as before. Only the schema is kept, never the
    ``DataFrame``: queries load one table twice and join the copies, which
    needs two lineages. The other ``spark.read.parquet`` calls in
    ``queries_streaming``, ``queries_layout`` and ``queries_misc`` read
    directories staged by the query itself or Hive-partitioned, not these
    fixture files, and infer as before.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _exclude_infer_filters_from_generate(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)
