"""Registry contract tests: every query is named, described and callable,
every oracle is well-formed, every operator family carries at least one
oracle-checked query, and ``queries()`` leads with the bench anchors."""

from __future__ import annotations

from appengine_mapreduce_spark.plans import all_queries

# tag → must be carried by at least one oracle-checked query
REQUIRED_FAMILIES = [
    "mr-parity", "api", "source", "sources", "zip", "records", "csv",
    "json", "merge", "scd2", "analytics", "tpch", "asof", "window",
    "sessionization", "text", "tfidf", "pipeline", "pii", "similarity",
    "ann", "ivf", "dedup", "minhash", "jaccard", "graph", "timeseries",
    "multimodal", "png", "jpeg", "dynamic-schema", "sampling", "sql",
]


def test_registry_names_unique_and_callable():
    qs = all_queries()
    assert len(qs) == len(set(qs))
    for name, spec in qs.items():
        assert callable(spec.fn), name
        assert spec.description, name


def test_oracled_queries_have_nonempty_sql():
    qs = all_queries()
    oracled = [s for s in qs.values() if s.oracle is not None]
    # the overwhelming majority must be oracle-checked (rows-only is the
    # documented exception for iterative / RNG / stub operators)
    rows_only = [s.name for s in qs.values() if s.oracle is None]
    assert len(rows_only) <= 6, rows_only
    for s in oracled:
        assert "SELECT" in s.oracle.upper(), s.name


def test_every_family_has_an_oracled_query():
    """tests/test_oracle_parity.py checks every oracled query, so a family
    tag carried by one of them has value-level evidence on every run."""
    covered = {t for s in all_queries().values() if s.oracle for t in s.tags}
    missing = [f for f in REQUIRED_FAMILIES if f not in covered]
    assert not missing, f"families with no oracle-checked query: {missing}"


def test_bench_anchors_lead_the_order():
    qs = all_queries()
    anchors = [n for n, s in qs.items() if s.bench]
    assert len(anchors) == 25, anchors
    assert list(qs)[:25] == anchors
