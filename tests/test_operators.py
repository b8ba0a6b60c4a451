"""Unit tests for the operator library (dedup / upsert / watermark)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from python_nyc_taxi_data_pipeline_spark.catalog import load
from python_nyc_taxi_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_first,
    row_fingerprint,
)
from python_nyc_taxi_data_pipeline_spark.operators.upsert import (
    insert_if_absent,
    upsert_append,
)
from python_nyc_taxi_data_pipeline_spark.operators.watermark import (
    MonthWindow,
    month_window_of,
    next_watermark,
    read_watermark,
    split_by_watermark,
)

from tests.conftest import SF_DIR


def test_dedup_exact_removes_duplicates(spark):
    o = load(spark, SF_DIR, "orders")
    doubled = o.union(o)
    assert dedup_exact(doubled).count() == o.count()


def test_dedup_keep_first_latest_order_per_customer(spark):
    o = load(spark, SF_DIR, "orders")
    latest = dedup_keep_first(
        o, keys=["o_custkey"], order_by=["o_orderdate", "o_orderkey"], ascending=False
    )
    assert latest.count() == o.select("o_custkey").distinct().count()
    # spot-check one customer: kept row has the max orderdate
    row = latest.limit(1).collect()[0]
    mx = (
        o.filter(F.col("o_custkey") == row["o_custkey"])
        .agg(F.max("o_orderdate"))
        .first()[0]
    )
    assert row["o_orderdate"] == mx


def test_row_fingerprint_distinct_counts_match(spark):
    o = load(spark, SF_DIR, "orders")
    fp = row_fingerprint(o)
    assert fp.select("row_hash").distinct().count() == o.distinct().count()


def test_insert_if_absent_disjoint_and_overlap(spark):
    o = load(spark, SF_DIR, "orders")
    first_half = o.filter(F.col("o_orderkey") % 2 == 0)
    result = insert_if_absent(o, first_half, ["o_orderkey"])
    assert result.count() == o.count() - first_half.count()
    # fully-present incoming → nothing new
    assert insert_if_absent(first_half, o, ["o_orderkey"]).count() == 0


def test_upsert_append_idempotent(spark, tmp_path):
    o = load(spark, SF_DIR, "orders").limit(100)
    path = str(tmp_path / "target")
    n1 = upsert_append(path, o, ["o_orderkey"])
    n2 = upsert_append(path, o, ["o_orderkey"])
    assert n1 == 100
    assert n2 == 0
    assert spark.read.parquet(path).count() == 100


def test_month_window_of_year_boundary():
    w = month_window_of(datetime(2024, 12, 15, 10, 30))
    assert w.start == datetime(2024, 12, 1)
    assert w.end == datetime(2025, 1, 1)


def test_split_by_watermark_partitions_everything_fresh(spark):
    o = load(spark, SF_DIR, "orders")
    wm = datetime(1997, 6, 15)
    win = MonthWindow(datetime(1997, 6, 1), datetime(1997, 7, 1))
    in_win, out_win = split_by_watermark(o, "o_orderdate", wm, win)
    fresh = o.filter(F.col("o_orderdate") > F.lit(wm)).count()
    assert in_win.count() + out_win.count() == fresh
    assert in_win.filter(F.col("o_orderdate") >= F.lit(win.end)).count() == 0


def test_read_and_next_watermark(spark):
    assert read_watermark(None, datetime(2024, 1, 1)) == datetime(2024, 1, 1)
    o = load(spark, SF_DIR, "orders")
    win = MonthWindow(datetime(1997, 6, 1), datetime(1997, 7, 1))
    nw = next_watermark(o, "o_orderdate", win, datetime(1995, 1, 1))
    mx = (
        o.filter(
            (F.col("o_orderdate") >= F.lit(win.start))
            & (F.col("o_orderdate") < F.lit(win.end))
        )
        .agg(F.max("o_orderdate"))
        .first()[0]
    )
    assert nw == mx
    empty_win = MonthWindow(datetime(2030, 1, 1), datetime(2030, 2, 1))
    assert next_watermark(o, "o_orderdate", empty_win, datetime(1995, 1, 1)) == datetime(
        1995, 1, 1
    )


def test_fanout_guard_semantics(spark):
    """The r12 scale-adaptive fan-out guard: repartitions to the
    session parallelism ONLY when the source scan plans fewer splits
    than the session has cores (the single-row-group fixture regime);
    identity otherwise. Results must be row-identical either way
    (order-free check)."""
    from python_nyc_taxi_data_pipeline_spark.catalog import (
        fan_out_if_narrow,
        load_fanned,
    )

    par = spark.sparkContext.defaultParallelism
    plain = load(spark, SF_DIR, "orders")
    if plain.rdd.getNumPartitions() >= par:
        pytest.skip(
            f"defaultParallelism {par} <= the scan's "
            f"{plain.rdd.getNumPartitions()} splits: the guard has nothing "
            "to fan out on this runner"
        )
    fanned = load_fanned(spark, SF_DIR, "orders")
    assert fanned.rdd.getNumPartitions() == par
    assert fanned.count() == plain.count()
    # row-identical content, order-free
    a = {tuple(r) for r in plain.select("o_orderkey", "o_custkey").collect()}
    b = {tuple(r) for r in fanned.select("o_orderkey", "o_custkey").collect()}
    assert a == b

    # derived-frame variant fans on the SCAN's width, not its own
    derived = plain.select("o_orderkey")
    wide = fan_out_if_narrow(plain, derived)
    assert wide.rdd.getNumPartitions() == par

    # an already-wide frame passes through untouched (guard self-disables)
    prefanned = plain.repartition(par)
    assert fan_out_if_narrow(prefanned, derived) is derived
