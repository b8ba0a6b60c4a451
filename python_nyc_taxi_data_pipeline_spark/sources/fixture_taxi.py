"""Taxi-shaped frame derived from the orders fixture.

The engine's medallion layer is written against the bronze taxi schema
(`schemas.BRONZE_TAXI_SCHEMA`); the driver fixtures are TPC-H-shaped.
This mapping turns ``orders`` into deterministic taxi trips (every
value a pure function of fixture columns — no synthesis): 1995 order
dates remap onto 2024 months so the reference's 2024 window semantics
hold, and the awkward bronze quirks are exercised (text
passenger_count, "N.0"-style ratecodeid, unmatched vendorid 99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from .schemas import BRONZE_TAXI_SCHEMA


def orders_as_taxi(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """``copies > 1`` replicates every order with a per-copy second
    offset (rows stay distinct through silver dedup) — used by the
    bench to amortize fixed per-job cost the way the reference's 16.8M
    rows do."""
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    if copies > 1:
        o = o.withColumn(
            "__rep", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
        )
    else:
        o = o.withColumn("__rep", F.lit(0))
    vendor_ids = F.element_at(
        F.array(F.lit(1), F.lit(2), F.lit(6), F.lit(7), F.lit(99)),
        (F.col("o_orderkey") % 5 + 1).cast("int"),
    )
    pickup = F.to_timestamp_ntz(
        F.concat(
            F.lit("2024-"),
            F.date_format("o_orderdate", "MM-dd"),
            F.lit(" "),
            F.lpad((F.col("o_orderkey") % 24).cast("string"), 2, "0"),
            F.lit(":15:00"),
        )
    ) + F.make_dt_interval(secs=F.col("__rep").cast("int"))
    taxi = o.select(
        vendor_ids.cast("int").alias("vendorid"),
        pickup.alias("tpep_pickup_datetime"),
        (
            pickup
            + F.make_dt_interval(mins=(F.col("o_orderkey") % 90 + 1).cast("int"))
        ).alias("tpep_dropoff_datetime"),
        (F.col("o_custkey") % 5).cast("string").alias("passenger_count"),
        (F.col("o_totalprice") / 1000).cast("decimal(18,2)").alias("trip_distance"),
        F.concat(((F.col("o_orderkey") % 6) + 1).cast("string"), F.lit(".0")).alias(
            "ratecodeid"
        ),
        F.when(F.col("o_orderkey") % 7 == 0, "Y").otherwise("N").alias(
            "store_and_fwd_flag"
        ),
        (F.col("o_orderkey") % 200).cast("int").alias("pulocationid"),
        (F.col("o_custkey") % 200).cast("int").alias("dolocationid"),
        (F.col("o_orderkey") % 7).cast("int").alias("payment_type"),
        *[
            (F.col("o_totalprice") / d).cast("decimal(18,2)").alias(name)
            for name, d in [
                ("fare_amount", 10),
                ("extra", 100),
                ("mta_tax", 200),
                ("tip_amount", 50),
                ("tolls_amount", 400),
                ("improvement_surcharge", 500),
                ("total_amount", 8),
                ("congestion_surcharge", 300),
                ("airport_fee", 600),
            ]
        ],
    )
    if [f.name for f in BRONZE_TAXI_SCHEMA.fields] != taxi.columns:
        raise ValueError(f"taxi columns {taxi.columns} are not in BRONZE_TAXI_SCHEMA order")
    return taxi
