"""Distributed parquet footer statistics — table profiling WITHOUT a scan.

Every parquet file already carries per-row-group, per-column statistics
(row count, null count, min/max) in its footer; reading footers costs KB
per file instead of the file. ``parquet_footer_stats`` fans the FILE LIST
out across executors (one pyarrow ``read_metadata`` per file — the data
pages are never touched) and aggregates to per-column table stats. At
100 TB this is the difference between a stats refresh that reads
terabytes and one that reads megabytes — the same trick the engine's own
row-group pruning (see plans/queries_layout.py) exploits at planning
time, surfaced as a queryable operator.

Caveat carried from the format: writers may truncate long string min/max
values; use the stats for pruning-style reasoning, or keep profiled
string columns short (the gate query does).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.core.adapters import map_rows
from appengine_mapreduce_spark.core.pickling import register_self

register_self(__name__)


def _data_files(path: str) -> list[str]:
    from appengine_mapreduce_spark.operators.compaction import (
        _data_files as _walk,
    )

    if os.path.isfile(path):
        return [path]
    return sorted(_walk(path, ".parquet"))


def parquet_footer_stats(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    int_columns: list[str] | None = None,
) -> DataFrame:
    """Per-column table statistics aggregated from parquet footers only:
    (column, n_rows, n_nulls, min_s, max_s) with min/max stringified.

    The file listing happens driver-side (a manifest-sized operation —
    at production scale the table format's manifest replaces the walk);
    footer parsing is distributed over the path list on map_rows, one
    ``read_metadata`` per file and one row per (row group, column).
    Columns named in ``int_columns`` aggregate min/max NUMERICALLY before
    stringification (lexicographic min of stringified integers would rank
    "10" below "9"); everything else aggregates as strings.
    """
    files = _data_files(path)
    paths_df = spark.createDataFrame(
        [(f,) for f in files], "file_path string"
    ).repartition(min(len(files), 32) or 1)
    wanted = columns

    def read_footers(row):
        meta = pq.read_metadata(row.file_path)
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                name = col.path_in_schema
                if wanted is not None and name not in wanted:
                    continue
                st = col.statistics
                mn = mx = None
                nulls = 0
                if st is not None:
                    nulls = st.null_count or 0
                    if st.has_min_max:
                        mn = st.min
                        mx = st.max
                        if isinstance(mn, bytes):
                            mn = mn.decode("utf-8", "replace")
                        if isinstance(mx, bytes):
                            mx = mx.decode("utf-8", "replace")
                yield (
                    name,
                    group.num_rows,
                    nulls,
                    None if mn is None else str(mn),
                    None if mx is None else str(mx),
                )

    per_rg = map_rows(
        paths_df,
        read_footers,
        "column string, rg_rows bigint, rg_nulls bigint, rg_min string, rg_max string",
    )
    int_cols = list(int_columns or [])
    is_int = F.col("column").isin(int_cols) if int_cols else F.lit(False)
    min_int = F.min(F.when(is_int, F.col("rg_min").cast("bigint")))
    max_int = F.max(F.when(is_int, F.col("rg_max").cast("bigint")))
    min_str = F.min(F.when(~is_int, F.col("rg_min")))
    max_str = F.max(F.when(~is_int, F.col("rg_max")))
    return per_rg.groupBy("column").agg(
        F.sum("rg_rows").alias("n_rows"),
        F.sum("rg_nulls").alias("n_nulls"),
        F.coalesce(min_int.cast("string"), min_str).alias("min_s"),
        F.coalesce(max_int.cast("string"), max_str).alias("max_s"),
    )
