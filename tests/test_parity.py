"""Oracle parity for every registered query at sf0.001.

Each query's Spark result must equal its DuckDB oracle under
``tools.oracle_check.compare`` (row count, column names,
order-insensitive values, integer/float kinds), and must not be empty:
an empty result on both engines proves nothing about the query.
"""

from __future__ import annotations

import pytest

from python_nyc_taxi_data_pipeline_spark import registry

# Queries whose true answer on the sf0.001 fixtures is empty: the
# fixtures keep every foreign key intact, ship nothing between
# NATION_1 and NATION_2 in 1996-97, and every Q22-eligible customer
# ordered after 1999-01-01. Each must stay empty, so the list cannot
# outlive its reason.
EMPTY_AT_SF0001 = frozenset(
    {"fk_violations", "tpch_q7_volume_shipping", "tpch_q22_global_sales_opportunity"}
)


@pytest.mark.parametrize("name", list(registry.all_queries()))
def test_query_matches_oracle(name, parity):
    problems, n_rows = parity(name)
    assert not problems, f"{name}: {problems}"
    if name in EMPTY_AT_SF0001:
        assert n_rows == 0, f"{name} is no longer empty at sf0.001"
    else:
        assert n_rows > 0, f"{name} returned no rows"
