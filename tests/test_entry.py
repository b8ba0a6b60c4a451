"""Driver-contract smoke tests (`__spark_entry__.py`)."""

from __future__ import annotations

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["s_name", "total_trips", "total_revenue", "avg_quantity"]


def test_queries_and_oracles_consistent(spark):
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # every non-oracled query is one of the documented hash-based ops
    # Every registered query carries a DuckDB oracle: engine-specific
    # mechanisms (HLL sketches, seeded sampling, xxhash fingerprints,
    # GEMM float ordering) are wrapped in exact-value + bound-boolean
    # contract queries instead of going unchecked.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_every_query_runs_and_has_stable_schema(built):
    for name in E.queries():
        df = built(name).df
        assert df.columns, name
        # column names must be aliased (no auto-generated agg names)
        for c in df.columns:
            assert "(" not in c, f"{name}: unaliased column {c}"


def test_registry_is_name_ordered():
    from python_nyc_taxi_data_pipeline_spark import registry

    names = list(registry.all_queries())
    assert names == sorted(names)
