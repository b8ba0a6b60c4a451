"""The NYC yellow-taxi medallion pipeline — the reference's exact
surface, Spark-first.

Maps (reference file:line → here):
- `src/etl_pipeline_run.py:9-24` month loop + silver + gold → ``run_pipeline``
- `src/sql/silver_full_refresh_transformation.sql:34-72` → ``silver_transform``
- `silver_full_refresh_transformation.sql:1-31` dims → ``build_dims``
- `src/sql/gold_aggregate_layer.sql:3-38` views → ``create_gold_views``

The reference's gold views recompute on every read. Here gold is a
snapshot: each ``create_gold_views`` call computes all three views in one
aggregate over silver and registers their rows, so reads run no Spark
job. A silver refresh is visible in gold only after the next
``create_gold_views`` call; until then the views keep the old snapshot
(a lazy view would instead read the silver files the refresh deleted).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


# The three gold views, each one grouping set of the one-pass aggregate:
# (view, grouping columns, output columns, the ORDER BY ... DESC column).
_GOLD_VIEWS = (
    (
        "gold_vendor_metrics",
        ("vendor",),
        ("vendor", "total_trips", "total_revenue", "avg_duration_minutes"),
        "total_revenue",
    ),
    (
        "gold_monthly_metrics",
        ("month_start", "month"),
        ("month_start", "month", "total_rides", "avg_trip_distance", "avg_duration_minutes"),
        "total_rides",
    ),
    (
        "gold_payment_metrics",
        ("payment_type_name",),
        ("payment_type_name", "total_trip_by_payment", "avg_amount"),
        "total_trip_by_payment",
    ),
)
_GROUP_COLS = ("vendor", "month_start", "month", "payment_type_name")


def _grouping_id(group: tuple[str, ...]) -> int:
    """Spark's ``grouping_id()`` of one grouping set over ``_GROUP_COLS``:
    one bit per column, set when the column is aggregated away."""
    return sum(1 << (len(_GROUP_COLS) - 1 - i) for i, c in enumerate(_GROUP_COLS) if c not in group)


def _desc_nulls_last(rows: list, key: str) -> list:
    """``ORDER BY key DESC`` (Spark's NULLS LAST) on the driver."""
    present = sorted((r for r in rows if r[key] is not None), key=lambda r: r[key], reverse=True)
    return present + [r for r in rows if r[key] is None]


def create_gold_views(
    spark: SparkSession,
    silver: DataFrame,
    dims: dict[str, DataFrame],
    padded_month: bool = False,
) -> None:
    """The three gold views (`gold_aggregate_layer.sql:3-38`) as a
    snapshot of ``silver``: one grouping-sets aggregate over silver
    joined to the broadcast payment-type dim computes all three, the
    driver collects its rows (one per vendor, month and payment type),
    sorts each view as its ``ORDER BY ... DESC`` does and registers it
    over a local relation. Reading a view runs no Spark job; after a silver refresh,
    call this again. ``padded_month=True`` reproduces Postgres
    ``TO_CHAR('Month')`` 9-char padding (`gold_aggregate_layer.sql:17`)
    bit-for-bit; default stays the documented unpadded divergence
    (SURVEY §2.8 F4)."""
    payment_type = dims["payment_type"].select(
        "payment_type_id", F.col("payment_type").alias("payment_type_name")
    )
    # The vendor name is decoded from silver's own ids, with the decode
    # ``build_dims`` applies to bronze's distinct ids; silver derives from
    # bronze, so the result equals the dim join without scanning bronze.
    trips = (
        silver.join(F.broadcast(payment_type), F.col("payment_type") == F.col("payment_type_id"), "left")
        .select(
            case_decode("vendorid", VENDOR_DECODE).alias("vendor"),
            F.date_trunc("month", "tpep_pickup_datetime").alias("month_start"),
            month_name("tpep_pickup_datetime", padded=padded_month).alias("month"),
            "payment_type_name",
            "minute_duration",
            "trip_distance",
            "total_amount",
        )
    )
    trips_n = F.count(F.lit(1))  # one count; Catalyst computes it once
    agg = trips.groupingSets([list(group) for _, group, _, _ in _GOLD_VIEWS], *_GROUP_COLS).agg(
        F.grouping_id().alias("gid"),
        trips_n.alias("total_trips"),
        trips_n.alias("total_rides"),
        trips_n.alias("total_trip_by_payment"),
        F.sum("total_amount").cast("double").alias("total_revenue"),
        F.round(F.avg("minute_duration"), 2).alias("avg_duration_minutes"),
        F.round(F.avg("trip_distance"), 2).alias("avg_trip_distance"),
        F.round(F.avg("total_amount"), 2).alias("avg_amount"),
    )
    rows = agg.collect()
    for view, group, columns, order_key in _GOLD_VIEWS:
        # a grouping column is null within its own set only where its
        # input is, as in the per-view GROUP BY
        schema = T.StructType([trips.schema[c] if c in group else agg.schema[c] for c in columns])
        mine = _desc_nulls_last([r for r in rows if r["gid"] == _grouping_id(group)], order_key)
        local_frame(spark, [tuple(r[c] for c in columns) for r in mine], schema).createOrReplaceTempView(view)


def run_pipeline(
    spark: SparkSession,
    warehouse: str,
    monthly_batches: list[tuple[DataFrame, "MonthWindow"]],
) -> MedallionPipeline:
    """End-to-end: ingest each month incrementally, then silver full
    refresh, then the gold snapshot (`etl_pipeline_run.py:9-24`): the
    three gold views are computed here, so reading them runs no job.

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
