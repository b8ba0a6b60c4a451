"""Tests for sql runner, logger, skew operators, http source, the catalog
(incl. local_frame) and the package's input guards."""

from __future__ import annotations

import ast
import datetime
import decimal
import inspect
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_nyc_taxi_data_pipeline_spark.catalog import load, local_frame, register_views
from python_nyc_taxi_data_pipeline_spark.functions.scalars import case_decode
from python_nyc_taxi_data_pipeline_spark.operators.skew import (
    replicate_broadcast_join,
    salted_count_sum,
    with_salt,
)
from python_nyc_taxi_data_pipeline_spark.sources.http import (
    download_url_template,
    read_parquet_with_schema,
)
from python_nyc_taxi_data_pipeline_spark.sources.logging_util import custom_logging
from python_nyc_taxi_data_pipeline_spark.sources.schemas import BRONZE_TAXI_SCHEMA
from python_nyc_taxi_data_pipeline_spark.sources.sql_runner import (
    run_sql_file,
    split_sql_statements,
)

from tests.conftest import SF_DIR


def test_download_url_template():
    # parity with the reference's only unit test (test_download_url.py:13-15)
    assert download_url_template(2024, 1).endswith("yellow_tripdata_2024-01.parquet")
    assert download_url_template(2024, 11).endswith("yellow_tripdata_2024-11.parquet")


def test_split_sql_statements_quotes_and_comments():
    text = """
    -- a comment; with a semicolon
    SELECT 'a;b' AS x;
    SELECT 1 AS y
    """
    stmts = split_sql_statements(text)
    assert len(stmts) == 2
    assert "'a;b'" in stmts[0]


def test_run_sql_file(spark, tmp_path):
    register_views(spark, SF_DIR)
    f = tmp_path / "script.sql"
    f.write_text(
        "CREATE OR REPLACE TEMP VIEW t_orders AS SELECT * FROM orders;\n"
        "SELECT count(*) AS n FROM t_orders;"
    )
    result = run_sql_file(spark, f)
    assert result.collect()[0]["n"] == load(spark, SF_DIR, "orders").count()


def test_custom_logging(tmp_path):
    log = tmp_path / "x" / "p.log"
    logger = custom_logging(log, name="t-log")
    logger.info("hello-log")
    for h in logger.handlers:
        h.flush()
    assert "hello-log" in log.read_text()


def test_salted_agg_matches_plain(spark):
    li = load(spark, SF_DIR, "lineitem")
    salted = salted_count_sum(
        li,
        ["l_returnflag"],
        {"qty": F.sum(F.col("l_quantity").cast("decimal(18,2)"))},
        n_salts=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
    )
    a = {r["l_returnflag"]: (r["n_rows"], r["qty"]) for r in salted.collect()}
    b = {r["l_returnflag"]: (r["n_rows"], r["qty"]) for r in plain.collect()}
    assert a == b


def test_with_salt_deterministic_and_bounded(spark):
    o = load(spark, SF_DIR, "orders")
    s1 = with_salt(o, 16).select("__salt")
    assert s1.agg(F.max("__salt")).first()[0] < 16
    assert s1.agg(F.min("__salt")).first()[0] >= 0
    # deterministic across evaluations
    c1 = s1.groupBy("__salt").count().collect()
    c2 = with_salt(o, 16).groupBy("__salt").count().collect()
    assert sorted(map(tuple, c1)) == sorted(map(tuple, c2))


def test_replicate_broadcast_join_matches_plain(spark):
    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = o.join(c, "o_custkey").count()
    salted = replicate_broadcast_join(o, c, "o_custkey", n_salts=4).count()
    assert plain == salted


def test_read_parquet_with_schema_casts_and_fills(spark):
    # events parquet as a stand-in: missing taxi columns → typed NULLs
    df = read_parquet_with_schema(
        spark, f"{SF_DIR}/orders.parquet", BRONZE_TAXI_SCHEMA
    )
    assert [f.name for f in BRONZE_TAXI_SCHEMA.fields] == df.columns
    row = df.limit(1).collect()[0]
    assert row["vendorid"] is None  # absent in source → NULL of declared type

def test_catalog_load_events_handles_nanos_and_micros(spark, tmp_path):
    """The driver's events fixture has shipped both ways across rounds:
    parquet NANOSECOND timestamps (r2 — Spark's vectorized reader
    rejects them without the nanosAsLong shim) and plain micros (r3).
    catalog.load must normalize either to TIMESTAMP_NTZ with identical
    values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_nyc_taxi_data_pipeline_spark.catalog import load

    base = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1704067200_000_000, 1704070800_123_456], pa.timestamp("us")),
            "user_id": pa.array([10, 11], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        t = base.set_column(
            1, "ts", base.column("ts").cast(pa.timestamp(unit))
        )
        pq.write_table(t, str(d / "events.parquet"))
        out = load(spark, str(d), "events")
        assert out.schema["ts"].dataType.typeName() == "timestamp_ntz", unit
        got = sorted(r["ts"].isoformat() for r in out.select("ts").collect())
        assert got == [
            "2024-01-01T00:00:00",
            "2024-01-01T01:00:00.123456",
        ], unit


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(1, "a", 1.5), (2, None, None)], "k int, s string, d double"),
        ([], "k int, s string"),
        (
            [([{"c": 1, "v": [1.0, 2.0]}, {"c": 2, "v": [3.0]}],)],
            "cents array<struct<c:bigint,v:array<double>>>",
        ),
        (
            [(decimal.Decimal("1.25"), datetime.datetime(2020, 1, 2, 3, 4, 5, 6), True)],
            "x decimal(18,2), t timestamp_ntz, b boolean",
        ),
    ],
    ids=["flat", "empty", "nested", "decimal_ntz"],
)
def test_local_frame_matches_list_path(spark, rows, ddl):
    """``local_frame`` gives the list path's schema and rows, planned as a
    ``LocalRelation`` (no Python-RDD job per action)."""
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_local_frame_rejects_wrong_python_type(spark):
    """A float in a bigint column raises, as on the list path, instead of
    being truncated by the Arrow conversion."""
    with pytest.raises(TypeError):
        local_frame(spark, [(1.5,)], "k bigint")


def test_driver_rows_enter_spark_only_through_local_frame():
    """The package calls ``createDataFrame`` in one place: inside
    ``catalog.local_frame``. Checked on the source, because a plan rule
    against ``LogicalRDD`` would also flag ``localCheckpoint`` output."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "python_nyc_taxi_data_pipeline_spark"
    calls = [
        (path.relative_to(pkg).as_posix(), node.lineno)
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    src, first = inspect.getsourcelines(local_frame)
    helper = range(first, first + len(src))
    assert len(calls) == 1 and calls[0][0] == "catalog.py" and calls[0][1] in helper, calls


def test_package_has_no_assert_statements():
    """Guards raise ``ValueError``: ``python -O`` strips ``assert``
    statements, and a failed one says nothing about the bad input."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "python_nyc_taxi_data_pipeline_spark"
    asserts = [
        (path.relative_to(pkg).as_posix(), node.lineno)
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert asserts == [], asserts


def test_case_decode_rejects_empty_mapping(spark):
    with pytest.raises(ValueError, match="non-empty mapping"):
        case_decode("vendorid", {})


def test_orders_as_taxi_rejects_columns_out_of_schema_order(spark, monkeypatch):
    from python_nyc_taxi_data_pipeline_spark.sources import fixture_taxi

    reordered = T.StructType(list(reversed(BRONZE_TAXI_SCHEMA.fields)))
    monkeypatch.setattr(fixture_taxi, "BRONZE_TAXI_SCHEMA", reordered)
    with pytest.raises(ValueError, match="BRONZE_TAXI_SCHEMA order"):
        fixture_taxi.orders_as_taxi(spark, SF_DIR)


def test_bpe_vocab_curve_rejects_budget_above_n_merges(monkeypatch):
    from python_nyc_taxi_data_pipeline_spark.llm import staged_r14
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import N_MERGES

    monkeypatch.setattr(staged_r14, "BVC_BUDGETS", (0, N_MERGES + 1))
    with pytest.raises(ValueError, match="exceeds N_MERGES"):
        staged_r14._bpe_vocab_curve_oracle()
