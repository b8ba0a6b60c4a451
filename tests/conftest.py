from __future__ import annotations

import contextlib
import io
import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_nyc_taxi_data_pipeline_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class Built(NamedTuple):
    df: object  # pyspark DataFrame
    plan: str  # explain("formatted"), taken before any action runs


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built(spark):
    """``built(name)``: the registered query's DataFrame on sf0.001 and
    its formatted plan, built once per session and shared by the schema,
    plan and oracle-parity checks. The plan is captured at build time
    because after an action the adaptive plan shows its final form."""
    from python_nyc_taxi_data_pipeline_spark import registry

    cache: dict[str, Built] = {}

    def get(name: str) -> Built:
        if name not in cache:
            df = registry.all_queries()[name].fn(spark, SF_DIR)
            cache[name] = Built(df, plan_of(df))
        return cache[name]

    return get


class Parity(NamedTuple):
    problems: list  # tools.oracle_check.compare findings; empty = match
    n_rows: int  # rows in the Spark result


@pytest.fixture(scope="session")
def parity(built):
    """``parity(name)``: the registered query's sf0.001 result compared
    with its DuckDB oracle under ``tools.oracle_check.compare``, computed
    once per session and shared by the registry-wide parity test and the
    per-module gates."""
    from python_nyc_taxi_data_pipeline_spark import registry
    from tools.oracle_check import compare, duck_connection

    con = duck_connection(SF_DIR)
    cache: dict[str, Parity] = {}

    def get(name: str) -> Parity:
        if name not in cache:
            oracle = registry.all_queries()[name].oracle
            assert oracle is not None, f"{name} has no DuckDB oracle"
            got = built(name).df.toPandas()
            cache[name] = Parity(
                compare(name, got, con.execute(oracle).fetchdf()), len(got)
            )
        return cache[name]

    yield get
    con.close()
