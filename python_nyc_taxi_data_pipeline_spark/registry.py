"""Query registry backing ``__spark_entry__.py``.

Each implemented operator from SURVEY.md §2 registers itself here as a
named query: a ``(spark, sf_dir) -> DataFrame`` callable plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet fixture tables. The driver hash-compares the two per round.

Determinism contract (so Spark and DuckDB hash-match):
- money/measure sums accumulate in DECIMAL(18,2) (exact, order-free)
  and are cast back to DOUBLE in both engines;
- averages are ``round(sum_decimal::double / count, 2)``;
- every computed column is aliased identically on both sides;
- timestamps stay TIMESTAMP_NTZ end-to-end (naive in DuckDB too).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    tags: tuple[str, ...] = ()


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, tags)
        return fn

    return deco


def all_queries() -> dict[str, RegisteredQuery]:
    """Every registered query, in name order."""
    _ensure_loaded()
    return {name: _REGISTRY[name] for name in sorted(_REGISTRY)}


def queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracles() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent).

    Re-entrancy: ``_LOADED`` is set before the imports begin, so an
    ``all_queries()`` call made while a registering module is being
    imported sees the registry as populated so far instead of
    restarting the load (which would register names twice)."""
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    try:
        _load_all()
    except BaseException:
        # A failed load must stay retryable (and never present a
        # half-registered registry as complete on the NEXT call).
        _LOADED = False
        raise


def _load_all() -> None:
    # Imports are for their registration side effects; `all_queries()`
    # orders by name, so import order does not matter.
    from .llm import bpe, classifier, clusters, collocations, dedup, fusion  # noqa: F401
    from .llm import grouped, kmeans, lm, overlap, quality, retrieval  # noqa: F401
    from .llm import segdedup, semdedup, similarity, spans, text  # noqa: F401
    from .llm import multimodal  # noqa: F401

    multimodal.register_binary_features()
    from .plans import tpch_ext  # noqa: F401
    from .streaming import windows  # noqa: F401
    from .plans import curation, sampling, selection, skew, sqlport, textstats  # noqa: F401
    from .operators import merge_into  # noqa: F401
    from .plans import analytics, analytics2, core, tpch  # noqa: F401
    from .llm import staged_r7, staged_r8, staged_r9, staged_r10, staged_r11  # noqa: F401
    from .llm import staged_r14, staged_r15, staged_r16, staged_r17, staged_r18, staged_r19  # noqa: F401
