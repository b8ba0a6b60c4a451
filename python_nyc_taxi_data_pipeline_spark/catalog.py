"""Path-based parquet catalog.

The reference keeps its tables in PostgreSQL schemas (bronze/silver/
gold/meta — ``src/db_setup.py:76,108,146,281``). Here every table is a
parquet path; this module is the single place that maps logical table
names to files, so plans never hard-code paths.

Scale note: reads go through ``spark.read.parquet`` so Catalyst gets
predicate pushdown / column pruning / partition pruning for free; no
schema inference happens on the driver beyond parquet footer reads.

Rows built on the driver (dims, ladders, centroids, collected results)
enter Spark through ``local_frame`` alone, as an Arrow ``LocalRelation``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

# Driver-provided synthetic fixture tables (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Length of every ``embeddings.embedding`` vector in the fixtures.
EMB_DIM = 64


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``sf_dir``.

    ``events.ts`` has shipped as either parquet nanosecond timestamps
    (which the Spark vectorized reader rejects — PARQUET_TYPE_ILLEGAL)
    or plain microsecond timestamps, depending on the fixture
    generation. We normalize both to TIMESTAMP_NTZ at microsecond
    precision — the same truncation DuckDB applies, so the oracle sees
    identical values. For the nanos case the raw int64 is read via
    ``nanosAsLong`` and rebuilt; session tz is pinned to UTC for any
    instant→NTZ hop so the result is timezone-independent.
    """
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; options: {FIXTURE_TABLES}")
    if name == "events":
        from pyspark.sql import functions as F  # local import: keep module cheap
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # nanos read as raw int64
            return df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        if not isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_fanned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load()`` plus a scale-adaptive rebalance for HEAVY PER-ROW
    COMPUTE consumers (guide §2.5 "input skew: one huge unsplittable
    file … repartition immediately after the read").

    A parquet file with one row group is ONE scan split no matter the
    core count — every downstream per-row transform before the first
    exchange then serializes on a single core (the fixtures are exactly
    this shape; measured up to ~4 s of one-task compute at sf0.1 on
    32 idle cores). When the scan yields fewer splits than the session
    parallelism, repartition to ``defaultParallelism``; otherwise
    return the scan untouched. At production scale the table exceeds
    ``maxPartitionBytes × cores`` so the guard disables itself and NO
    shuffle is added — the rebalance only ever fires when the input is
    small enough that shuffling it is trivially cheap relative to the
    compute it parallelizes. (Same fix `hashed_shingle_table` has
    carried since r6, made conditional and reusable.)

    ``.rdd.getNumPartitions()`` on a bare scan only *plans* it (no job
    runs — FileScanRDD partitions come from the already-cached file
    listing), and is row-group-aware where a bytes/maxPartitionBytes
    estimate is not. Use on freshly loaded tables only: on a derived
    frame with exchanges the probe could trigger execution.
    """
    df = load(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def fan_out_if_narrow(scan_df: DataFrame, df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session parallelism when ``scan_df`` —
    the freshly loaded table its rows derive from — planned fewer scan
    splits than the session has cores (the ``load_fanned`` guard, for
    DERIVED frames whose partitioning follows the narrow scan through
    broadcast joins/filters). Fires only in the small-input regime
    where the added exchange is KB–MB; at production scale the scan is
    already wide and the frame passes through untouched."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if scan_df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql plans)."""
    for name in FIXTURE_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def arrow_table(rows: Iterable[Sequence], schema: T.StructType | str) -> pa.Table:
    """Driver-side rows as a ``pyarrow.Table`` whose column types are
    exactly ``schema``'s Spark types (a DDL string or ``StructType``).
    Each row passes the type check ``createDataFrame`` applies to a
    list, so a float in a ``bigint`` column raises ``TypeError``
    instead of truncating in ``pa.array``."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """The one way driver-side rows enter Spark: an Arrow
    ``LocalRelation`` (the rows travel inside the plan), never the
    Python-RDD ``LogicalRDD`` that ``createDataFrame`` plans for a list:
    every action on that one runs a Python-worker job (a ``collect`` of
    the 7-row payment_type dim took 0.25-0.31 s that way against
    0.007-0.015 s as Arrow, on a 4-core host). Same schema and rows as
    the list path, with or without
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
