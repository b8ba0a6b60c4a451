"""Structured Streaming jobs: the streamed windowed agg must equal the
batch result over the same bounded input (Trigger.AvailableNow)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_nyc_taxi_data_pipeline_spark.catalog import load
from python_nyc_taxi_data_pipeline_spark.streaming.jobs import (
    read_event_stream,
    run_to_memory_sink,
    run_to_parquet_sink,
    tumbling_counts,
)
from python_nyc_taxi_data_pipeline_spark.streaming.windows import window_tumbling_1h

from tests.conftest import SF_DIR


def _write_source(spark, tmp_path) -> str:
    src = str(tmp_path / "events_src")
    # micro-batch replay across several files
    load(spark, SF_DIR, "events").repartition(4).write.parquet(src)
    return src


def test_stream_tumbling_equals_batch(spark, tmp_path):
    src = _write_source(spark, tmp_path)
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    run_to_memory_sink(tumbling_counts(stream), "stream_tumbling")
    streamed = (
        spark.sql("SELECT * FROM stream_tumbling")
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    batch = window_tumbling_1h(spark, SF_DIR).select(
        "window_start", "event_type", "n_events"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_static_enrichment_join(spark, tmp_path):
    src = _write_source(spark, tmp_path)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.2), ("purchase", 10.0), ("signup", 5.0)],
        "event_type string, weight double",
    )
    stream = read_event_stream(spark, src)
    from python_nyc_taxi_data_pipeline_spark.streaming.jobs import enrich_with_dim

    enriched = enrich_with_dim(stream, dim, "event_type")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM enriched_events")
    assert out.count() == load(spark, SF_DIR, "events").count()
    # unmatched type ('error') keeps the row with NULL weight (left join)
    assert out.filter("event_type = 'error' AND weight IS NULL").count() > 0
    assert out.filter("event_type = 'click' AND weight = 1.0").count() > 0


def test_streaming_bronze_loader(spark, tmp_path):
    """foreachBatch bronze ingest: files landing in a directory flow
    through the SAME medallion ingest (watermark, dead-letter, meta);
    the checkpoint ensures already-processed files never replay."""
    from datetime import datetime

    from python_nyc_taxi_data_pipeline_spark.operators.watermark import MonthWindow
    from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import taxi_pipeline
    from python_nyc_taxi_data_pipeline_spark.sources.fixture_taxi import orders_as_taxi
    from python_nyc_taxi_data_pipeline_spark.sources.schemas import BRONZE_TAXI_SCHEMA
    from python_nyc_taxi_data_pipeline_spark.streaming.bronze_stream import (
        stream_ingest,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    pipe = taxi_pipeline(spark, str(tmp_path / "wh"))

    taxi = orders_as_taxi(spark, SF_DIR)
    jan = taxi.filter(F.month("tpep_pickup_datetime") == 1)
    feb = taxi.filter(F.month("tpep_pickup_datetime") == 2)

    jan.coalesce(1).write.mode("append").parquet(landing)
    win1 = MonthWindow(datetime(2024, 1, 1), datetime(2024, 2, 1))
    stream_ingest(spark, pipe, landing, BRONZE_TAXI_SCHEMA, ckpt, window=win1)
    n_after_jan = pipe.bronze().count()
    assert n_after_jan > 0

    # new file lands; the checkpoint processes ONLY it
    feb.coalesce(1).write.mode("append").parquet(landing)
    win2 = MonthWindow(datetime(2024, 2, 1), datetime(2024, 3, 1))
    stream_ingest(spark, pipe, landing, BRONZE_TAXI_SCHEMA, ckpt, window=win2)
    assert pipe.bronze().count() == n_after_jan + feb.count()
    # meta has one success row per non-empty micro-batch
    assert pipe.meta().filter(F.col("status") == "success").count() >= 2


def test_stream_parquet_sink_checkpoint_restart(spark, tmp_path):
    """append-mode parquet sink + checkpoint: a second availableNow run
    over the same input emits nothing new (exactly-once replay)."""
    src = _write_source(spark, tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = read_event_stream(spark, src)
    run_to_parquet_sink(tumbling_counts(stream), out, ckpt)
    n1 = spark.read.parquet(out).count()

    # restart over identical input: checkpoint replays nothing
    stream2 = read_event_stream(spark, src)
    run_to_parquet_sink(tumbling_counts(stream2), out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2


def test_stream_sessions_equal_batch(spark, tmp_path):
    from python_nyc_taxi_data_pipeline_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory_sink,
        session_counts,
    )
    from python_nyc_taxi_data_pipeline_spark.streaming.windows import (
        window_session_30m,
    )

    src = _write_source(spark, tmp_path)
    stream = read_event_stream(spark, src, max_files_per_trigger=2)
    run_to_memory_sink(session_counts(stream), "stream_sessions", "append")
    streamed = spark.sql("SELECT * FROM stream_sessions")
    batch = window_session_30m(spark, SF_DIR)
    # append mode emits only watermark-sealed sessions; every emitted
    # session must match the batch result exactly, and the bulk of
    # sessions must have been sealed (bounded input, 1h delay)
    assert streamed.count() > 0.8 * batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked, state-bounded) must
    produce exactly the rows of the same join run in batch."""
    from pyspark.sql import functions as F

    from python_nyc_taxi_data_pipeline_spark.catalog import load
    from python_nyc_taxi_data_pipeline_spark.streaming.jobs import (
        interval_join_streams,
        read_event_stream,
        run_to_memory_sink,
    )

    from tests.conftest import SF_DIR

    ev = load(spark, SF_DIR, "events").limit(400)
    clicks_dir = str(tmp_path / "clicks")
    views_dir = str(tmp_path / "views")
    clicks = ev.filter(F.col("event_type") == "click")
    others = ev.filter(F.col("event_type") != "click")
    clicks.repartition(2).write.parquet(clicks_dir)
    others.repartition(2).write.parquet(views_dir)

    joined = interval_join_streams(
        read_event_stream(spark, clicks_dir, max_files_per_trigger=1),
        read_event_stream(spark, views_dir, max_files_per_trigger=1),
    )
    run_to_memory_sink(joined, "ssjoin_sink", output_mode="append")
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM ssjoin_sink").collect()
    }

    # batch referee: identical semantics with plain DataFrames
    c = clicks.select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    v = others.select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    batch = c.join(
        v,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 10 minutes"))
        & (F.col("l_event_id") != F.col("r_event_id")),
    )
    expected = {
        (r.l_event_id, r.r_event_id) for r in batch.collect()
    }
    assert got == expected and len(expected) > 0


def test_streaming_neardup_candidates_cover_batch_lsh_pairs(spark, tmp_path):
    """Replaying the documents corpus through the stateful streaming
    LSH (micro-batched file source) must emit a candidate SUPERSET of
    the batch docs_minhash_lsh_pairs set — every batch pair collides in
    >=1 band, and banding expressions are shared verbatim. Estimated
    jaccard (16-perm matching fraction) must be higher on true pairs
    than the random-pair background."""
    import __spark_entry__ as E
    from python_nyc_taxi_data_pipeline_spark.streaming.neardup_stream import (
        neardup_candidates,
        read_document_stream,
    )

    src = str(tmp_path / "docs_src")
    load(spark, SF_DIR, "documents").repartition(4).write.parquet(src)
    stream = read_document_stream(spark, src, max_files_per_trigger=1)
    run_to_memory_sink(
        neardup_candidates(stream), "stream_neardup", output_mode="append"
    )
    cand = spark.sql(
        "SELECT DISTINCT doc_a, doc_b FROM stream_neardup"
    ).collect()
    cand_pairs = {(r.doc_a, r.doc_b) for r in cand}
    batch = E.queries()["docs_minhash_lsh_pairs"](spark, SF_DIR).collect()
    batch_pairs = {(r.doc_a, r.doc_b) for r in batch}
    missing = batch_pairs - cand_pairs
    assert not missing, f"batch LSH pairs absent from stream: {missing}"
    # est_jaccard sanity: true pairs' mean estimate dominates 0.5 —
    # fixture near-dups share most shingles; random collisions don't.
    ests = spark.sql(
        "SELECT doc_a, doc_b, max(est_jaccard) AS est FROM stream_neardup "
        "GROUP BY doc_a, doc_b"
    ).collect()
    true_ests = [
        r.est for r in ests if (r.doc_a, r.doc_b) in batch_pairs
    ]
    assert true_ests and sum(true_ests) / len(true_ests) > 0.5


def test_streaming_neardup_checkpoint_restart_incremental(spark, tmp_path):
    """Checkpointed restart semantics for the stateful LSH: run the
    stream over half the corpus, stop, add the rest, restart on the
    SAME checkpoint — the second run must (a) not re-emit any pair of
    the first run and (b) bring the union up to a superset of the batch
    LSH pair set (state survived the restart; only new docs paired)."""
    from python_nyc_taxi_data_pipeline_spark.streaming.neardup_stream import (
        neardup_candidates,
        read_document_stream,
    )
    import __spark_entry__ as E

    docs = load(spark, SF_DIR, "documents")
    half = docs.count() // 2
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") < half).repartition(2).write.mode(
        "append"
    ).parquet(src)

    from python_nyc_taxi_data_pipeline_spark.streaming.jobs import (
        run_to_parquet_sink,
    )

    run_to_parquet_sink(
        neardup_candidates(read_document_stream(spark, src)), out, ckpt
    )
    run1_rows = spark.read.parquet(out).select("doc_a", "doc_b").collect()
    first = {(r.doc_a, r.doc_b) for r in run1_rows}
    # first run saw only the low half
    assert all(a < half and b < half for a, b in first)

    docs.filter(F.col("doc_id") >= half).repartition(2).write.mode(
        "append"
    ).parquet(src)
    run_to_parquet_sink(
        neardup_candidates(read_document_stream(spark, src)), out, ckpt
    )
    rows2 = spark.read.parquet(out).select("doc_a", "doc_b").collect()
    all_pairs = {(r.doc_a, r.doc_b) for r in rows2}
    # EXACT no-replay: every run-2 emission involves a new (high) doc
    # — the checkpoint skips old files and the bucket state skips known
    # ids — so the low-low row multiset after run 2 is exactly run 1's.
    low_rows_2 = [r for r in rows2 if r.doc_a < half and r.doc_b < half]
    assert len(low_rows_2) == len(run1_rows)
    assert {(r.doc_a, r.doc_b) for r in low_rows_2} == first
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in E.queries()["docs_minhash_lsh_pairs"](spark, SF_DIR).collect()
    }
    assert batch_pairs - all_pairs == set()


def test_streaming_neardup_hot_bucket_cap_contract(spark, tmp_path, monkeypatch):
    """Pin the bounded-recall contract under cap pressure
    (`neardup_stream.neardup_candidates` docstring): drive one bucket
    past BAND_STATE_CAP with identical documents — (a) the first `cap`
    arrivals still pair completely (all C(cap,2) pairs), (b) overflow
    docs (in-batch AND late-batch) emit no pairs and are not added to
    state, (c) bucket_size plateaus at the cap."""
    from python_nyc_taxi_data_pipeline_spark.streaming import neardup_stream as ns

    cap = 8
    monkeypatch.setattr(ns, "BAND_STATE_CAP", cap)
    text = "the same boilerplate sentence repeated across every document here"
    n_first = cap + 4  # overflow within the first micro-batch
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, text) for i in range(n_first)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_to_parquet_sink(
        ns.neardup_candidates(ns.read_document_stream(spark, src)), out, ckpt
    )
    rows1 = spark.read.parquet(out).collect()
    got_pairs = {(r.doc_a, r.doc_b) for r in rows1}
    expected = {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    assert got_pairs == expected  # first cap members pair completely
    assert max(r.bucket_size for r in rows1) == cap  # plateau observable

    # late arrival to the (now hot) bucket: no new pairs, not in state
    spark.createDataFrame(
        [(1000, text)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_to_parquet_sink(
        ns.neardup_candidates(ns.read_document_stream(spark, src)), out, ckpt
    )
    rows2 = spark.read.parquet(out).collect()
    assert {(r.doc_a, r.doc_b) for r in rows2} == expected
    assert not any(r.doc_a == 1000 or r.doc_b == 1000 for r in rows2)


def test_stream_watermark_drop_parity_with_simulation(spark, tmp_path):
    """Watermark LATE-DATA DROP parity: a crafted out-of-order event
    replay (one file per micro-batch via processAllAvailable) through
    the REAL ``tumbling_counts`` watermarked aggregation must drop
    exactly the rows an exact simulation of Spark's watermark
    semantics predicts — wm := max(wm, batch_max_ts − delay) at batch
    boundaries, a row dropped iff its WINDOW END ≤ wm at arrival.
    This proves the engine actually drops what the watermark model
    says."""
    import time
    from datetime import datetime, timedelta

    from python_nyc_taxi_data_pipeline_spark.streaming.jobs import (
        read_event_stream,
        tumbling_counts,
    )

    base = datetime(2024, 3, 1, 0, 0, 0)
    delay_s = 3600  # 1h watermark on 1h tumbling windows
    win_s = 3600
    # arrival batches: batch 1 advances event time far ahead; batches
    # 2-4 mix on-time rows with stragglers 1-4 hours behind the max.
    batches = [
        [0, 600, 1200, 7200],                      # max ts = 2h
        [7800, 3600, 1800, 300],                   # 300/1800 are late-ish
        [14400, 9000, 4000, 100],                  # 100 is 4h behind
        [15000, 14990, 600, 10700],                # 600 is hours behind
    ]
    src = tmp_path / "wm_src"
    src.mkdir()

    stream = read_event_stream(spark, str(src))
    agg = tumbling_counts(stream, delay=f"{delay_s} seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_parity")
        .outputMode("update")
        .start()
    )
    try:
        eid = 0
        for i, offs in enumerate(batches):
            rows = []
            for o in offs:
                rows.append(
                    (eid, base + timedelta(seconds=o), 1, "click", 1.0, "{}")
                )
                eid += 1
            stage = tmp_path / f"stage_b{i}"
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp_ntz, user_id long,"
                " event_type string, value double, props string",
            ).coalesce(1).write.parquet(str(stage))
            part = next(stage.glob("part-*.parquet"))
            part.rename(src / f"b{i}.parquet")
            q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    got = (
        spark.sql(
            "SELECT window_start, max(n_events) AS n FROM wm_parity"
            " GROUP BY window_start"
        )
        .toPandas()
        .set_index("window_start")["n"]
        .to_dict()
    )

    # exact simulation of the engine's semantics
    wm = None  # watermark in seconds-offset space
    kept: dict[int, int] = {}
    dropped = 0
    for offs in batches:
        for o in offs:
            win_end = (o // win_s + 1) * win_s
            if wm is not None and win_end <= wm:
                dropped += 1
            else:
                kept[(o // win_s) * win_s] = kept.get((o // win_s) * win_s, 0) + 1
        batch_max = max(offs)
        wm = max(wm or -(10**9), batch_max - delay_s)

    want = {
        base + timedelta(seconds=ws): n for ws, n in kept.items()
    }
    assert {pd_ts.to_pydatetime(): int(n) for pd_ts, n in got.items()} == want
    # the scenario must actually exercise drops, or the test is vacuous
    assert dropped > 0
    assert sum(kept.values()) + dropped == sum(len(b) for b in batches)
