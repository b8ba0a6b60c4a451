"""End-to-end medallion pipeline test on taxi-SHAPED data derived from
the orders fixture (no synthetic data generation — every value is a
deterministic function of fixture columns).

Covers: incremental watermark ingest (I1-I5), dead-letter routing with
cross-run dedup (U1/S8), idempotent re-runs, silver full refresh with
dedup + casts + derived duration (W1, F5-F7), dims (A7+F1, U2-U4), and
the three gold views (J1/J2, A1-A3, O1-O3).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from python_nyc_taxi_data_pipeline_spark.catalog import load
from python_nyc_taxi_data_pipeline_spark.operators.watermark import MonthWindow
from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import (
    build_dims,
    create_gold_views,
    silver_transform,
    taxi_pipeline,
)
from python_nyc_taxi_data_pipeline_spark.sources.fixture_taxi import orders_as_taxi

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def taxi_df(spark):
    df = orders_as_taxi(spark, SF_DIR).cache()
    df.count()
    yield df
    df.unpersist()


def month_batch(taxi_df, month: int):
    return taxi_df.filter(F.month("tpep_pickup_datetime") == month)


def win(month: int) -> MonthWindow:
    return MonthWindow(datetime(2024, month, 1), datetime(2024, month + 1, 1))


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["local", "cluster"])
def test_full_medallion_run(spark, taxi_df, tmp_path, scheme):
    # A plain path exercises the driver-side pyarrow/footer shortcuts;
    # a file:// warehouse takes the distributed Spark code paths a real
    # s3://-warehouse deployment runs (watermark read, footer-free
    # watermark recompute, Spark meta append) — same end-to-end
    # idempotency evidence on both.
    pipe = taxi_pipeline(spark, scheme + str(tmp_path / "wh"))

    jan = month_batch(taxi_df, 1)
    feb = month_batch(taxi_df, 2).cache()
    # month-1 batch with some stray february rows → dead-letter
    strays = feb.orderBy("tpep_pickup_datetime").limit(7).cache()
    batch1 = jan.union(strays)

    r1 = pipe.ingest_batch(batch1, win(1))
    jan_after_wm = jan.filter(
        F.col("tpep_pickup_datetime") > F.lit(datetime(2024, 1, 1))
    ).count()
    assert r1.loaded == jan_after_wm
    assert r1.dead_lettered == 7
    assert r1.watermark.month == 1

    # idempotent re-run of the same batch: watermark filters everything
    r2 = pipe.ingest_batch(batch1, win(1))
    assert r2.loaded == 0
    assert r2.dead_lettered == 0  # anti-join vs invalid_records (U1)
    assert r2.watermark == r1.watermark

    # month 2 loads incrementally (the 7 strays sit in invalid_records,
    # which does not block their later in-window bronze load — parity
    # with the reference's separate tables)
    r3 = pipe.ingest_batch(feb, win(2))
    assert r3.loaded == feb.count()
    assert r3.dead_lettered == 0
    assert r3.watermark.month == 2

    # meta has one row per run, all success
    meta = pipe.meta().orderBy("last_load_date").collect()
    assert len(meta) == 3
    assert all(m["status"] == "success" for m in meta)

    # silver full refresh: same batch ingested once → no dupes lost,
    # plus derived/cast columns behave
    n_silver = pipe.silver_refresh(silver_transform, partition_col="pickup_month")
    bronze_distinct = pipe.bronze().drop("load_month").distinct().count()
    assert n_silver == bronze_distinct

    silver = pipe.read_silver()
    row = silver.limit(1).collect()[0]
    assert isinstance(row["ratecodeid"], int)  # "3.0" → 3
    assert row["minute_duration"] >= 1
    sample = silver.filter(F.col("minute_duration").isNull()).count()
    assert sample == 0

    # gold views
    dims = build_dims(spark, pipe.bronze())
    create_gold_views(spark, silver, dims)
    vm = spark.sql("SELECT * FROM gold_vendor_metrics").collect()
    assert len(vm) == 5  # vendor ids {1,2,6,7,99}
    # vendorid 99 is unmatched by the CASE decode → NULL vendor name
    assert any(r["vendor"] is None for r in vm)
    pm = spark.sql("SELECT * FROM gold_payment_metrics").collect()
    assert len(pm) == 7
    mm = spark.sql("SELECT * FROM gold_monthly_metrics").collect()
    assert {r["month"] for r in mm} == {"January", "February"}

    # destroy() removes the warehouse for a plain path and a URI alike
    pipe.destroy()
    assert not (tmp_path / "wh").exists()


def test_fetch_month_to_bronze_offline(spark, taxi_df, tmp_path):
    """S1 seam end-to-end WITHOUT network: a real parquet month served
    over ``file://`` through ``fetch_month`` → schema-enforced read →
    bronze ingest → watermark advance — the full
    ``incremental_ingestion.py:25-60`` flow of the reference (format
    URL → fetch → stage → incremental load), idempotent on re-run."""
    import pyarrow.parquet as pq

    from python_nyc_taxi_data_pipeline_spark.sources.http import (
        fetch_month,
        read_parquet_with_schema,
    )
    from python_nyc_taxi_data_pipeline_spark.sources.schemas import (
        BRONZE_TAXI_SCHEMA,
    )

    # "Publish" month 1 the way the upstream does: one parquet file per
    # month, numeric columns numeric (the reference's text
    # passenger_count/ratecodeid are a BRONZE choice, not the file's).
    server = tmp_path / "server"
    server.mkdir()
    jan = month_batch(taxi_df, 1).toPandas()
    jan["passenger_count"] = jan["passenger_count"].astype(float)
    jan["ratecodeid"] = jan["ratecodeid"].astype(float)
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(jan, preserve_index=False),
        str(server / "yellow_tripdata_2024-01.parquet"),
        # upstream publishes micro-precision timestamps; pandas defaults
        # to nanos, which Spark's parquet reader rejects outright
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    template = f"file://{server}/yellow_tripdata_{{year}}-{{month:02d}}.parquet"

    staging = str(tmp_path / "staging")
    dest = fetch_month(2024, 1, staging, url_template=template)
    assert dest.endswith("yellow_tripdata_2024-01.parquet")
    import os

    mtime = os.path.getmtime(dest)
    assert fetch_month(2024, 1, staging, url_template=template) == dest
    assert os.path.getmtime(dest) == mtime  # idempotent: no re-download

    batch = read_parquet_with_schema(spark, dest, BRONZE_TAXI_SCHEMA)
    assert [f.name for f in batch.schema.fields] == [
        f.name for f in BRONZE_TAXI_SCHEMA.fields
    ]
    # bronze quirk preserved: numeric upstream → text in bronze
    r = batch.filter(F.col("ratecodeid").isNotNull()).limit(1).collect()[0]
    assert isinstance(r["ratecodeid"], str) and r["ratecodeid"].endswith(".0")

    pipe = taxi_pipeline(spark, str(tmp_path / "wh"))
    res = pipe.ingest_batch(batch, win(1))
    expected = batch.filter(
        F.col("tpep_pickup_datetime") > F.lit(datetime(2024, 1, 1))
    ).count()
    assert res.loaded == expected > 0
    assert res.watermark.month == 1
    meta = pipe.meta().collect()
    assert len(meta) == 1 and meta[0]["status"] == "success"

    # re-run the WHOLE flow (fetch → read → ingest): watermark filters
    # everything, matching the reference's idempotent re-run property
    batch2 = read_parquet_with_schema(
        spark, fetch_month(2024, 1, staging, url_template=template), BRONZE_TAXI_SCHEMA
    )
    res2 = pipe.ingest_batch(batch2, win(1))
    assert res2.loaded == 0 and res2.watermark == res.watermark


def test_failure_appends_failed_meta_row(spark, taxi_df, tmp_path):
    pipe = taxi_pipeline(spark, str(tmp_path / "wh2"))
    # the ts column is missing → the split inside ingest_batch raises
    bad = taxi_df.drop("tpep_pickup_datetime")
    with pytest.raises(Exception):
        pipe.ingest_batch(bad, win(1))
    meta = pipe.meta().collect()
    assert len(meta) == 1
    assert meta[0]["status"] == "failed"
    assert meta[0]["error_message"]


def test_watermark_never_advances_past_narrow_window_end(spark, taxi_df, tmp_path):
    """A caller-supplied window narrower than the calendar month must
    not pick up the footer-stats fast path: the month partition can
    hold rows beyond win.end (from a wider prior load or a crashed
    run), and an unclamped footer max would over-advance the watermark,
    silently skipping rows in (win.end, footer_max] on later loads."""
    pipe = taxi_pipeline(spark, str(tmp_path / "wh"))
    jan = month_batch(taxi_df, 1)
    narrow = MonthWindow(datetime(2024, 1, 1), datetime(2024, 1, 10))
    r1 = pipe.ingest_batch(jan, narrow)
    assert r1.watermark < datetime(2024, 1, 10)

    # poison the month partition with rows beyond the narrow window end
    late = jan.filter(
        F.col("tpep_pickup_datetime") >= F.lit("2024-01-20").cast("timestamp_ntz")
    ).limit(5)
    (
        late.withColumn("load_month", F.lit("2024-01"))
        .write.mode("append")
        .partitionBy("load_month")
        .parquet(pipe.bronze_path)
    )

    # empty batch → pure watermark recompute; must stay window-bounded
    r2 = pipe.ingest_batch(jan.limit(0), narrow)
    assert r2.watermark == r1.watermark
    assert r2.watermark < datetime(2024, 1, 10)

    # the full-month window still uses the footer fast path and sees the
    # late rows (they ARE committed bronze data for that month)
    r3 = pipe.ingest_batch(jan.limit(0), win(1))
    assert r3.watermark >= datetime(2024, 1, 20)


def test_gold_month_padding_flag(spark, taxi_df):
    """padded_month=True reproduces TO_CHAR('Month') 9-char padding."""
    silver = silver_transform(taxi_df)
    dims = build_dims(spark, taxi_df)
    create_gold_views(spark, silver, dims, padded_month=True)
    months = [r["month"] for r in spark.table("gold_monthly_metrics").collect()]
    assert months and all(len(m) == 9 for m in months)
    assert any(m != m.rstrip() for m in months)  # really padded, not truncated
    create_gold_views(spark, silver, dims)  # default: unpadded
    months = [r["month"] for r in spark.table("gold_monthly_metrics").collect()]
    assert any(len(m) != 9 for m in months)


def test_advisory_scope_releases_lock_when_conf_set_raises(spark, tmp_path, monkeypatch):
    """A failing advisory ``conf.set`` must not leak the class-level
    advisory lock: the next ``_advisory_scope()`` still enters."""
    pipe = taxi_pipeline(spark, str(tmp_path / "wh_lock"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    real_set = spark.conf.set

    def failing_set(k, v):
        if k == key:
            raise ValueError("rejected advisory value")
        return real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", failing_set)
    with pytest.raises(ValueError, match="rejected advisory value"):
        with pipe._advisory_scope():
            pass
    monkeypatch.undo()

    before = spark.conf.get(key, None)
    with pipe._advisory_scope():
        assert spark.conf.get(key) == pipe.cfg.write_advisory
    assert spark.conf.get(key, None) == before


def test_uri_warehouse_raises_on_corrupt_meta(spark, tmp_path):
    """A failed read of a ``scheme://`` table is not "table absent": a
    non-parquet file in ``meta/runs`` must raise, not reset the
    watermark to its default."""
    wh = tmp_path / "wh"
    pipe = taxi_pipeline(spark, "file://" + str(wh))
    assert pipe.current_watermark() == pipe.cfg.default_watermark  # absent
    runs = wh / "meta" / "runs"
    runs.mkdir(parents=True)
    (runs / "run-corrupt.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        pipe.current_watermark()


def test_uri_warehouse_empty_first_batch(spark, taxi_df, tmp_path):
    """An empty partitioned bronze write leaves only ``_SUCCESS``; that
    table reads as absent, so the ingest and the silver refresh succeed
    with zero rows on a ``scheme://`` warehouse."""
    pipe = taxi_pipeline(spark, "file://" + str(tmp_path / "wh"))
    res = pipe.ingest_batch(month_batch(taxi_df, 1).limit(0), win(1))
    assert res.loaded == 0 and res.dead_lettered == 0
    assert res.watermark == pipe.cfg.default_watermark
    assert pipe.bronze() is None
    assert pipe.silver_refresh(silver_transform) == 0


def test_uri_warehouse_absent_table_skips_reader(spark, tmp_path, monkeypatch):
    """Before the first batch, the tables of a ``scheme://`` warehouse
    read as None from a FileSystem existence check alone: Spark's reader,
    which logs a stack trace for a missing path, is never called."""
    pipe = taxi_pipeline(spark, "file://" + str(tmp_path / "wh"))

    def no_read(self):
        raise AssertionError("spark.read called for an absent table")

    monkeypatch.setattr(type(spark), "read", property(no_read))
    assert pipe.meta() is None
    assert pipe.invalid_records() is None
    assert pipe.bronze() is None


def _lazy_gold_views(silver, dims, padded_month):
    """The gold views as the per-view lazy DataFrames they were before
    ``create_gold_views`` computed them in one pass: the referee for its
    rows, order and schema."""
    from python_nyc_taxi_data_pipeline_spark.functions.scalars import month_name

    yt = silver
    vendor = (
        yt.join(F.broadcast(dims["vendor"]), "vendorid", "left")
        .groupBy("vendor")
        .agg(
            F.count(F.lit(1)).alias("total_trips"),
            F.sum("total_amount").cast("double").alias("total_revenue"),
            F.round(F.avg(F.col("minute_duration")), 2).alias("avg_duration_minutes"),
        )
        .orderBy(F.desc("total_revenue"))
    )
    monthly = (
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
    payment = (
        yt.join(F.broadcast(pt_dim), yt.payment_type == pt_dim.payment_type_id, "left")
        .groupBy(pt_dim["payment_type"].alias("payment_type_name"))
        .agg(
            F.count(F.lit(1)).alias("total_trip_by_payment"),
            F.round(F.avg("total_amount"), 2).alias("avg_amount"),
        )
        .orderBy(F.desc("total_trip_by_payment"))
    )
    return {
        "gold_vendor_metrics": (vendor, "total_revenue"),
        "gold_monthly_metrics": (monthly, "total_rides"),
        "gold_payment_metrics": (payment, "total_trip_by_payment"),
    }


@pytest.mark.parametrize("padded_month", [False, True], ids=["unpadded", "padded"])
def test_gold_views_equal_lazy_per_view_frames(spark, taxi_df, padded_month):
    """The one-pass gold views hold the rows, the order (where the sort
    key is distinct) and the schema of the per-view lazy frames."""
    silver = silver_transform(taxi_df)
    dims = build_dims(spark, taxi_df)
    create_gold_views(spark, silver, dims, padded_month=padded_month)
    for view, (lazy, key) in _lazy_gold_views(silver, dims, padded_month).items():
        got_df = spark.table(view)
        assert got_df.schema == lazy.schema, view
        got, want = got_df.collect(), lazy.collect()
        assert sorted(got, key=repr) == sorted(want, key=repr), view
        keys = [r[key] for r in want]
        if len(set(keys)) == len(keys):
            assert got == want, view
        else:
            assert [r[key] for r in got] == keys, view


def _jobs_run(spark, action) -> int:
    """Spark jobs started by ``action()``, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_gold_reads_run_no_spark_job(spark, taxi_df):
    silver = silver_transform(taxi_df)
    dims = build_dims(spark, taxi_df)
    create_gold_views(spark, silver, dims)
    assert _jobs_run(spark, lambda: silver.count()) > 0  # the probe counts jobs
    for view in ("gold_vendor_metrics", "gold_monthly_metrics", "gold_payment_metrics"):
        assert _jobs_run(spark, lambda: spark.sql(f"SELECT * FROM {view}").collect()) == 0, view


def _first_batch_warehouse(spark, taxi_df, warehouse):
    """A pipeline after one batch (with 7 dead-lettered strays) and a
    silver refresh."""
    pipe = taxi_pipeline(spark, warehouse)
    strays = month_batch(taxi_df, 2).orderBy("tpep_pickup_datetime").limit(7)
    res = pipe.ingest_batch(month_batch(taxi_df, 1).union(strays), win(1))
    assert res.loaded > 0 and res.dead_lettered == 7
    pipe.silver_refresh(silver_transform, partition_col="pickup_month")
    return pipe


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["local", "cluster"])
def test_pipeline_reads_skip_schema_inference(spark, taxi_df, tmp_path, scheme):
    """After the first batch, the bronze, dead-letter and silver reads
    run no Spark job (no footer-inference job) and give the schema a
    plain ``spark.read.parquet`` infers."""
    pipe = _first_batch_warehouse(spark, taxi_df, scheme + str(tmp_path / "wh"))
    silver_path = pipe.silver_path + "/fact"
    for read, path in (
        (pipe.bronze, pipe.bronze_path),
        (pipe.invalid_records, pipe.invalid_path),
        (pipe.read_silver, silver_path),
    ):
        frames = []
        assert _jobs_run(spark, lambda: frames.append(read())) == 0, path
        assert frames[0].schema == spark.read.parquet(path).schema, path
        # a second read goes through the schema taken from the first
        assert _jobs_run(spark, read) == 0, path
        assert read().schema == frames[0].schema, path


def test_fresh_pipeline_reads_equal_rows(spark, taxi_df, tmp_path):
    """A new pipeline object on the same warehouse, which has no schema
    remembered, reads the same rows and schemas."""
    warehouse = str(tmp_path / "wh")
    pipe = _first_batch_warehouse(spark, taxi_df, warehouse)
    fresh = taxi_pipeline(spark, warehouse)
    for name in ("bronze", "invalid_records", "read_silver"):
        old_df, new_df = getattr(pipe, name)(), getattr(fresh, name)()
        assert old_df.schema == new_df.schema, name
        assert sorted(old_df.collect(), key=repr) == sorted(new_df.collect(), key=repr), name
