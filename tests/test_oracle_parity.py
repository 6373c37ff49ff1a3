"""Correctness gate for the whole registry: run every registered query in
Spark AND its DuckDB oracle on the same parquet tables, then compare row
count, column names, and values (order-insensitive). Queries without an
oracle must still run and return columns.

Catches alias mismatches, float drift, and SQL-dialect divergence.

Each test also checks the executed physical plan of the DataFrame it ran
against the engine's plan invariants:

- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only for 1-row scalar cross joins (tag
  ``scalar-cross`` or a crossJoin of an aggregate, the q22/q11/TF-IDF
  pattern);
- Python stages only in queries tagged with one of ``PY_OK_TAGS`` (the
  user-UDF seam and the binary decoders);
- no pandas stage (``...InPandas``): the MapReduce API and the built-in
  per-row operators cross into Python through ``core.adapters``'
  ``mapInArrow`` reader and emitter only.
"""

from __future__ import annotations

import pandas as pd
import pytest

from appengine_mapreduce_spark.plans import all_queries
from tests.conftest import SF_CORRECT, register_duck_views

PY_STAGES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)
PY_OK_TAGS = {"udf", "multimodal", "records", "zip", "sources", "streaming"}

QUERIES = all_queries()
ORACLED = sorted(n for n, s in QUERIES.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in QUERIES.items() if s.oracle is None)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    for col in s.columns:
        sc, dc = s[col], d[col]
        if pd.api.types.is_float_dtype(sc) or pd.api.types.is_float_dtype(dc):
            sc_f = pd.to_numeric(sc, errors="coerce")
            dc_f = pd.to_numeric(dc, errors="coerce")
            bad = ~(
                (sc_f.isna() & dc_f.isna())
                | (abs(sc_f - dc_f) <= 1e-9 + 1e-9 * abs(dc_f))
            )
            assert not bad.any(), (
                f"{name}.{col}: {int(bad.sum())} value mismatches, first: "
                f"spark={sc_f[bad].iloc[0]!r} duck={dc_f[bad].iloc[0]!r}"
            )
        else:
            eq = (sc == dc) | (sc.isna() & dc.isna())
            assert eq.all(), (
                f"{name}.{col}: {int((~eq).sum())} mismatches, first: "
                f"spark={sc[~eq].iloc[0]!r} duck={dc[~eq].iloc[0]!r}"
            )


def _check_plan(spec, df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    violations = []
    if "CartesianProduct" in plan:
        violations.append("CartesianProduct in plan")
    if (
        "BroadcastNestedLoopJoin" in plan
        and "scalar-cross" not in spec.tags
        and "crossJoin" not in spec.description
    ):
        violations.append("BroadcastNestedLoopJoin without scalar-cross tag")
    if any(s in plan for s in PY_STAGES) and not set(spec.tags) & PY_OK_TAGS:
        violations.append("Python stage outside the UDF seam")
    if "InPandas" in plan:
        violations.append("pandas Python stage: the per-row seam is core.adapters.map_rows")
    assert not violations, f"{spec.name}: {violations}\n{plan}"


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    register_duck_views(duck, SF_CORRECT)
    spec = QUERIES[name]
    df = spec.fn(spark, SF_CORRECT)
    spark_pdf = df.toPandas()
    _check_plan(spec, df)
    duck_pdf = duck.sql(spec.oracle).df()
    _compare(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_CORRECT)
    assert df.count() >= 0
    assert len(df.columns) > 0
    _check_plan(spec, df)
