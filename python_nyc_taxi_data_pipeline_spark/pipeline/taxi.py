"""The NYC yellow-taxi medallion pipeline — the reference's exact
surface, Spark-first.

Maps (reference file:line → here):
- `src/etl_pipeline_run.py:9-24` month loop + silver + gold → ``run_pipeline``
- `src/sql/silver_full_refresh_transformation.sql:34-72` → ``silver_transform``
- `silver_full_refresh_transformation.sql:1-31` dims → ``build_dims``
- `src/sql/gold_aggregate_layer.sql:3-38` views → ``create_gold_views``
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_frame
from ..functions.scalars import case_decode, duration_minutes, month_name, text_to_int
from ..operators.dedup import dedup_exact
from ..pipeline.medallion import MedallionConfig, MedallionPipeline
from ..sources.schemas import (
    INVALID_RECORDS_KEY,
    PAYMENT_TYPE_ROWS,
    PAYMENT_TYPE_SCHEMA,
    RATECODE_ROWS,
    RATECODE_SCHEMA,
    VENDOR_DECODE,
)

DEFAULT_WATERMARK = datetime(2024, 1, 1)


def taxi_pipeline(spark: SparkSession, warehouse: str) -> MedallionPipeline:
    return MedallionPipeline(
        spark,
        MedallionConfig(
            warehouse=warehouse,
            ts_col="tpep_pickup_datetime",
            dead_letter_keys=INVALID_RECORDS_KEY,
            default_watermark=DEFAULT_WATERMARK,
        ),
    )


def silver_transform(bronze: DataFrame) -> DataFrame:
    """Dedup over all data columns (W1; implemented as the scale-path
    hash dedup — semantically identical because the window partitions
    by every column, SURVEY §2.5) + typed columns + derived duration
    (`silver_full_refresh_transformation.sql:34-72`)."""
    data_cols = [c for c in bronze.columns if c != "load_month"]
    deduped = dedup_exact(bronze.select(*data_cols))
    return deduped.select(
        "vendorid",
        "tpep_pickup_datetime",
        "tpep_dropoff_datetime",
        duration_minutes("tpep_pickup_datetime", "tpep_dropoff_datetime").alias(
            "minute_duration"
        ),
        "passenger_count",  # stays text (`db_setup.py:189`)
        "trip_distance",
        text_to_int("ratecodeid").alias("ratecodeid"),
        "store_and_fwd_flag",
        "pulocationid",
        "dolocationid",
        F.col("payment_type").cast("int").alias("payment_type"),
        "fare_amount",
        "extra",
        "mta_tax",
        "tip_amount",
        "tolls_amount",
        "improvement_surcharge",
        "total_amount",
        "congestion_surcharge",
        "airport_fee",
        # partition column (replaces the 12 Postgres range partitions, S6)
        F.date_format("tpep_pickup_datetime", "yyyy-MM").alias("pickup_month"),
    )


def build_dims(spark: SparkSession, bronze: DataFrame) -> dict[str, DataFrame]:
    """Vendor dim derived from fact DISTINCT + CASE decode (A7+F1, U2);
    static ratecode / payment_type dims (U3/U4)."""
    vendor = (
        bronze.select(F.col("vendorid").cast("int").alias("vendorid"))
        .distinct()
        .withColumn("vendor", case_decode("vendorid", VENDOR_DECODE))
    )
    ratecode = local_frame(spark, RATECODE_ROWS, RATECODE_SCHEMA)
    payment_type = local_frame(spark, PAYMENT_TYPE_ROWS, PAYMENT_TYPE_SCHEMA)
    return {"vendor": vendor, "ratecode": ratecode, "payment_type": payment_type}


def create_gold_views(
    spark: SparkSession,
    silver: DataFrame,
    dims: dict[str, DataFrame],
    padded_month: bool = False,
) -> None:
    """The three gold views (`gold_aggregate_layer.sql:3-38`), recomputed
    on read exactly like CREATE OR REPLACE VIEW. Dims broadcast.
    ``padded_month=True`` reproduces Postgres ``TO_CHAR('Month')``
    9-char padding (`gold_aggregate_layer.sql:17`) bit-for-bit; default
    stays the documented unpadded divergence (SURVEY §2.8 F4)."""
    yt = silver
    vendor = F.broadcast(dims["vendor"])

    vendor_metrics = (
        yt.join(vendor, "vendorid", "left")
        .groupBy("vendor")
        .agg(
            F.count(F.lit(1)).alias("total_trips"),
            F.sum("total_amount").cast("double").alias("total_revenue"),
            F.round(F.avg(F.col("minute_duration")), 2).alias("avg_duration_minutes"),
        )
        .orderBy(F.desc("total_revenue"))
    )

    monthly_metrics = (
        yt.groupBy(
            F.date_trunc("month", "tpep_pickup_datetime").alias("month_start"),
            month_name("tpep_pickup_datetime", padded=padded_month).alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("total_rides"),
            F.round(F.avg("trip_distance"), 2).alias("avg_trip_distance"),
            F.round(F.avg("minute_duration"), 2).alias("avg_duration_minutes"),
        )
        .orderBy(F.desc("total_rides"))
    )

    pt_dim = dims["payment_type"]
    payment_metrics = (
        yt.join(F.broadcast(pt_dim), yt.payment_type == pt_dim.payment_type_id, "left")
        .groupBy(pt_dim["payment_type"].alias("payment_type_name"))
        .agg(
            F.count(F.lit(1)).alias("total_trip_by_payment"),
            F.round(F.avg("total_amount"), 2).alias("avg_amount"),
        )
        .orderBy(F.desc("total_trip_by_payment"))
    )

    vendor_metrics.createOrReplaceTempView("gold_vendor_metrics")
    monthly_metrics.createOrReplaceTempView("gold_monthly_metrics")
    payment_metrics.createOrReplaceTempView("gold_payment_metrics")


def run_pipeline(
    spark: SparkSession,
    warehouse: str,
    monthly_batches: list[tuple[DataFrame, "MonthWindow"]],
) -> MedallionPipeline:
    """End-to-end: ingest each month incrementally, then silver full
    refresh, then gold views (`etl_pipeline_run.py:9-24`).

    A plain local ``warehouse`` path uses the driver-side pyarrow
    shortcuts for watermark reads and metadata appends; a
    ``scheme://`` warehouse (``file://`` included) runs the distributed
    code paths a real cluster takes."""
    pipe = taxi_pipeline(spark, warehouse)
    for batch, window in monthly_batches:
        pipe.ingest_batch(batch, window)
    pipe.silver_refresh(silver_transform, partition_col="pickup_month")
    silver = pipe.read_silver()
    bronze = pipe.bronze()
    dims = build_dims(spark, bronze)
    create_gold_views(spark, silver, dims)
    return pipe
