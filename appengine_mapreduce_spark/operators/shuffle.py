"""Shuffle-semantics operators: the reference's entire "query model".

The reference's shuffle (hash-partition → sort → tiered merge → grouped
reduce; python shuffler.py:673-708, java MapReduceJob.java:184-364) is one
Catalyst exchange here. These helpers express the reference's built-in
reducers as DataFrame ops:

- group_values        ≙ IdentityReducer (java reducers/IdentityReducer.java)
- group_values chunks ≙ IdentityReducer(maxGroupedValues)
- distinct_keys       ≙ KeyProjectionReducer (reducers/KeyProjectionReducer.java)
- value_projection    ≙ ValueProjectionReducer
- group_count         ≙ the wordcount-style reduce(len(values))
                        (python demo/main.py:195-208)

All of them run as partial+final hash aggregation (map-side combine is
automatic) — the reference's hand-built combiner path
(input_readers.py:2608-2662) is subsumed by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from appengine_mapreduce_spark.core.adapters import drop_zip_finders


def group_values(
    df: DataFrame,
    key: str | list[str],
    value: str | Column,
    *,
    sort: bool = True,
    max_grouped_values: int | None = None,
    alias: str = "values",
) -> DataFrame:
    """Collate all values per key: ``(key, [values...])``.

    ``sort=True`` makes the list deterministic (the reference's shuffle
    sorts by key bytes, but value order within a key is arrival order —
    we tighten that to sorted for reproducibility).
    ``max_grouped_values`` truncates each group like
    ``IdentityReducer(maxGroupedValues)`` chunks them.
    """
    keys = [key] if isinstance(key, str) else list(key)
    col = F.collect_list(value)
    if sort:
        col = F.sort_array(col)
    if max_grouped_values is not None:
        col = F.slice(col, 1, max_grouped_values)
    return df.groupBy(*keys).agg(col.alias(alias))


def distinct_keys(df: DataFrame, key: str | list[str]) -> DataFrame:
    """Emit each distinct key once, dropping values (≙ DISTINCT)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.select(*keys).distinct()


def value_projection(df: DataFrame, value: str | list[str]) -> DataFrame:
    """Emit all values, dropping keys."""
    vals = [value] if isinstance(value, str) else list(value)
    return df.select(*vals)


def group_count(df: DataFrame, key: str | list[str], alias: str = "n") -> DataFrame:
    """Count records per key — the canonical wordcount reduce."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def cogroup_apply(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    fn,
    schema,
) -> DataFrame:
    """Reduce-side co-group: ``fn(key_tuple, left_pdf, right_pdf) -> pdf``.

    This is the reference's ONLY join idiom made first-class: mappers
    tagged records by side, the reducer saw both sides' values per key
    (SURVEY.md §2.3; e.g. the word→files index, python/demo/main.py:211-224).
    Spark's ``cogroup`` shuffles each side once on the key and hands the
    user both groups as pandas DataFrames — use a real ``join`` for equi
    semantics; use this when per-key logic is genuinely custom
    (per-key reconciliation, asymmetric dedup, windowless merges).
    """
    keys = [key] if isinstance(key, str) else list(key)

    def apply(key_tuple, left_pdf, right_pdf):
        drop_zip_finders()
        return fn(key_tuple, left_pdf, right_pdf)

    return (
        left.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(apply, schema=schema)
    )
