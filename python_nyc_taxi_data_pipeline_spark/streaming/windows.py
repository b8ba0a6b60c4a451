"""Event-time windowed aggregation over the ``events`` fixture.

The reference's incremental machinery is a batch high-water-mark loop
(SURVEY §2.9) — no true streams. These queries extend the engine with
the standard event-time window family (tumbling / sliding / session),
expressed with the same ``F.window``/``F.session_window`` operators that
Structured Streaming uses, so the identical plan runs over
``readStream`` (see ``streaming.jobs``).

Scale: windowed aggregation is a single shuffle on (window, key);
partial aggregation applies map-side. Session windows shuffle on the
grouping key then merge sorted runs per key — no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.scalars import decimal_sum
from ..registry import register


@register(
    "window_tumbling_1h",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window", "streaming"),
)
def window_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value", "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_sliding_1h_30m",
    oracle="""
    SELECT make_timestamp(((CAST(floor(epoch(ts) / 1800) AS BIGINT) - i) * 1800) * 1000000)
             AS window_start,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events, (SELECT unnest([0, 1]) AS i) offsets
    GROUP BY 1
    """,
    tags=("window", "streaming"),
)
def window_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — each event lands
    in exactly two windows (epoch-aligned, matching Spark's default
    startTime=0). The oracle replays the window assignment arithmetic."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value", "total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "window_session_30m",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS sess_id
      FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    tags=("window", "streaming", "session"),
)
def window_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user. Spark semantics:
    events merge while the next event starts strictly before
    previous_ts + gap; window end = last_ts + gap. The oracle replays
    this with the gaps-and-islands pattern."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum("value", "total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------
# Peak concurrent sessions per day (interval counting, banded prefix)
# --------------------------------------------------------------------

PCC_GAP_S = 1800  # the registered 30-minute session gap


def _peak_concurrency_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id, event_id,
             date_diff('microsecond',
                       TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
      FROM events
    ), marked AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  > {PCC_GAP_S} * 1000000 OR lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  IS NULL THEN 1 ELSE 0 END AS new_sess,
             event_id
      FROM e
    ), sess AS (
      SELECT user_id, ts_us,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    ), spans AS (
      SELECT user_id, sess_id,
             min(ts_us) AS t0, max(ts_us) + 1 AS t1
      FROM sess GROUP BY 1, 2
    ), bounds AS (
      SELECT t0 AS ts_us, 1 AS delta FROM spans
      UNION ALL
      SELECT t1 AS ts_us, -1 AS delta FROM spans
    ), cum AS (
      SELECT ts_us, delta,
             sum(delta) OVER (
               ORDER BY ts_us, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS conc
      FROM bounds
    )
    SELECT CAST(ts_us // 86400000000 AS BIGINT) AS day,
           CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS sessions_started,
           CAST(max(conc) AS BIGINT) AS peak_concurrent
    FROM cum GROUP BY 1
    """


@register(
    "events_peak_concurrency",
    oracle=_peak_concurrency_oracle(),
    tags=("events", "analytics", "timeseries", "sessions"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENT SESSIONS per day — the capacity-planning curve:
    sessions (the registered 30-minute-gap cut, event_id tie-broken)
    become [first event, last event] intervals, interval endpoints
    become a ±1 delta stream, and the running concurrency is the
    global cumulative sum over time — computed on the banded
    TWO-LEVEL PREFIX scaffold (intra-day keyed window + broadcast
    day offsets), never a single-partition global window; DuckDB's
    oracle uses its plain single-node cumulative, so the hash pins
    the decomposition exactly. Ties at identical microseconds order
    (−1 before +1) — the conservative convention, identical in both
    engines.

    Exactness: integer micros from the naive epoch anchor; counts
    and one max.

    Scale (100 TB): sessionization is the shared keyed window pass;
    the boundary stream is 2 rows per session (the corpus compressed
    by the events-per-session fold); the prefix machinery runs on
    that boundary frame with day-keyed bands. No collect."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        e.withColumn(
            "new_sess",
            F.when(
                F.lag("ts_us").over(w_order).isNull()
                | (
                    F.col("ts_us") - F.lag("ts_us").over(w_order)
                    > PCC_GAP_S * 1000000
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w_cum))
    )
    spans = sess.groupBy("user_id", "sess_id").agg(
        F.min("ts_us").alias("t0"),
        (F.max("ts_us") + 1).alias("t1"),
    )
    bounds = spans.select(
        F.col("t0").alias("ts_us"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(F.col("t1").alias("ts_us"), F.lit(-1).alias("delta"))
    )
    banded = bounds.withColumn(
        "band", F.expr("ts_us DIV 86400000000")
    )
    intra = banded.withColumn(
        "in_band_cum",
        F.sum("delta").over(
            Window.partitionBy("band")
            .orderBy("ts_us", "delta")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    band_tot = banded.groupBy("band").agg(F.sum("delta").alias("bd"))
    lower = band_tot.select(
        F.col("band").alias("l_band"), F.col("bd").alias("l_bd")
    )
    offsets = (
        band_tot.join(
            F.broadcast(lower), F.col("l_band") < F.col("band"), "left"
        )
        .groupBy("band")
        .agg(F.coalesce(F.sum("l_bd"), F.lit(0)).alias("offset"))
    )
    cum = intra.join(offsets, "band").withColumn(
        "conc", (F.col("offset") + F.col("in_band_cum")).cast("bigint")
    )
    return cum.groupBy(
        F.expr("CAST(ts_us DIV 86400000000 AS BIGINT)").alias("day")
    ).agg(
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("sessions_started"),
        F.max("conc").cast("bigint").alias("peak_concurrent"),
    )
