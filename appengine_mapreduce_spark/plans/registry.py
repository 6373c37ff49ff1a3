"""Query registry — single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 (and every beyond-reference
training-data op) registers here with:

- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for
  genuinely non-SQL-expressible ops, which are checked for rows only)

``__spark_entry__.py``, ``bench.py`` and the pytest oracle harness
(``tests/test_oracle_parity.py``) all read from this registry, so a query
is implemented exactly once. ``all_queries()`` lists the ``bench=True``
anchors first, then every other query, each group in registration order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    description: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, description=description,
            bench=bench, tags=tuple(tags),
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules lazily to avoid import cycles; they self-register.
    from appengine_mapreduce_spark.plans import (  # noqa: F401
        queries_api,
        queries_mr,
        queries_analytics,
        queries_analytics2,
        queries_dedup,
        queries_dedup2,
        queries_dynamic,
        queries_files,
        queries_layout,
        queries_merge,
        queries_misc,
        queries_misc2,
        queries_misc3,
        queries_ops,
        queries_pipeline,
        queries_pipeline2,
        queries_sampling,
        queries_similarity,
        queries_sql,
        queries_streaming,
        queries_tpch3,
        queries_tpch4,
        queries_tpch5,
        queries_text,
        queries_text2,
        queries_text3,
        queries_timeseries,
    )

    ordered = {n: s for n, s in _REGISTRY.items() if s.bench}
    ordered.update(_REGISTRY)
    return ordered


def bench_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in all_queries().items() if v.bench}
