"""Checks every query module's test file runs over the queries that
module registers: oracle parity, plan antipatterns, the exact set of
registered names, and a scratch-registry registration round trip.

Parity and plans come from the session-scoped ``parity`` and ``built``
fixtures, so these add no query builds to the registry-wide tests."""

from __future__ import annotations

from types import ModuleType
from unittest import mock

import pytest

from python_nyc_taxi_data_pipeline_spark import registry


def registered_names(module: ModuleType) -> list[str]:
    """Names of the registered queries whose function ``module`` defines."""
    return [
        name
        for name, q in registry.all_queries().items()
        if q.fn.__module__ == module.__name__
    ]


def assert_parity(module: ModuleType, parity) -> None:
    """Every query of ``module`` matches its oracle with a non-empty result."""
    names = registered_names(module)
    assert names, f"{module.__name__} registers no query"
    for name in names:
        problems, n_rows = parity(name)
        assert not problems, f"{name}: {problems}"
        assert n_rows > 0, f"{name}: degenerate empty result"


def assert_plans_clean(module: ModuleType, built, sort_aggregate: bool = False) -> None:
    """No query of ``module`` plans a scale killer (``plan_antipatterns``);
    with ``sort_aggregate``, none plans a SortAggregate either."""
    from tests.test_plans import plan_antipatterns

    flagged = {}
    for name in registered_names(module):
        p = built(name).plan
        hits = plan_antipatterns(p)
        if sort_aggregate and "SortAggregate" in p:
            hits.append("SortAggregate")
        if hits:
            flagged[name] = hits
    assert flagged == {}


def assert_registers_exactly(module: ModuleType, names: tuple[str, ...]) -> None:
    """``module`` registers exactly ``names``: a query dropped from the
    module (and so from the registry-wide checks) fails by name."""
    assert len(set(names)) == len(names)
    assert sorted(registered_names(module)) == sorted(names)


def assert_register_round_trip(name: str) -> None:
    """Registering a query's function again, into a scratch registry,
    gives an identical (fn, oracle, tags) row, and a second
    registration of the name fails loudly. The live registry is left
    unchanged."""
    live = registry.all_queries()[name]
    pre = dict(registry._REGISTRY)
    scratch: dict = {}
    with mock.patch.object(registry, "_REGISTRY", scratch):
        registry.register(name, live.oracle, live.tags)(live.fn)
        row = scratch[name]
        assert row.fn is live.fn
        assert row.oracle == live.oracle
        assert row.tags == live.tags
        with pytest.raises(ValueError, match="duplicate"):
            registry.register(name, live.oracle, live.tags)(live.fn)
    assert registry._REGISTRY == pre
