"""Autocorrelation, range-join, calendar, entropy and approximate-
percentile contract queries, each registered with its DuckDB oracle.

The operators:

- ``orders_daily_autocorr``: temporal AUTOCORRELATION of the daily
  order-count series at lags 1/7/28 — the periodicity/drift detector
  the seasonality profile cannot express (it averages by weekday; the
  autocorrelation measures how predictive the past actually is).
  Zero-filled day spine; numerator/denominator accumulated as EXACT
  integers via n-scaled residuals (n·c_t − S), only the final ratio a
  rounded double (the cosine pattern).
- ``events_error_context_window``: the windowed-count RANGE join
  (stream-stream-join shape in batch) — per error event, the count /
  error-share / recency-gap of same-user events in the 5 minutes
  strictly before it, via the two-band probe decomposition (an
  equi-join on (user, band) + residual range filter); the oracle
  correlates with the raw range predicate.
- ``lineitem_business_day_latency``: ship latency in BUSINESS days
  per order priority — the closed-form weekday count W(d) =
  5·(d DIV 7) + cum[d mod 7] (epoch-anchored) turns business-days-
  between into two O(1) integer evaluations; no calendar table, no
  UDF.
- ``docs_char_entropy_quality``: character-entropy compression proxy
  per source (low entropy = boilerplate/padding/keyword stuffing) —
  per-term micro rounding before the sum (the interarrival-entropy
  order-free convention).
- ``customer_churn_training_frame``: point-in-time LEAKAGE-SAFE
  feature/label extraction — pre-cutoff features, post-cutoff churn
  label, one conditional-aggregation pass.
- ``lineitem_approx_percentile_contract``: AQP accuracy contract for
  ``percentile_approx`` (Greenwald–Khanna) — a second exact pass
  verifies every approximate answer's true rank sits inside the
  guaranteed q·n ± n/accuracy band, booleans the oracle pins TRUE.
- ``orders_dow_adjusted_anomalies``: weekday-baseline residuals with
  a 5×MAD robust threshold — the seasonally-adjusted anomaly list
  (integer micro end to end; MAD is an exact dyadic median).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register


# --------------------------------------------------------------------
# Daily order-count autocorrelation (periodicity / drift detector)
# --------------------------------------------------------------------

DAC_LAGS = (1, 7, 28)


def _autocorr_oracle() -> str:
    lags = ", ".join(str(k) for k in DAC_LAGS)
    return f"""
    WITH o AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), counts AS (
      SELECT day, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1
    ), lim AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM o
    ), grid AS (
      SELECT unnest(generate_series((SELECT d0 FROM lim),
                                    (SELECT d1 FROM lim))) AS day
    ), spine AS (
      SELECT g.day, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN counts c ON c.day = g.day
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      FROM spine
    ), resid AS (
      SELECT day, st.n * c - st.s AS r
      FROM spine, stats st
    ), den AS (
      SELECT CAST(sum(r * r) AS BIGINT) AS den FROM resid
    ), lags AS (
      SELECT unnest([{lags}]) AS lag
    ), num AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.r * b.r) AS BIGINT) AS num
      FROM lags l
      JOIN resid a ON TRUE
      JOIN resid b ON b.day = a.day + l.lag
      GROUP BY 1
    )
    SELECT n.lag AS lag_days, n.n_pairs, n.num AS num_scaled,
           d.den AS den_scaled,
           round(CAST(n.num AS DOUBLE) / d.den, 6) AS autocorr
    FROM num n, den d
    """


@register(
    "orders_daily_autocorr",
    oracle=_autocorr_oracle(),
    tags=("warehouse", "analytics", "timeseries"),
)
def orders_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION of the daily order-count series at lags
    {DAC_LAGS} — the periodicity detector: lag-7 pins the weekly
    cycle, lag-1 the day-to-day momentum, lag-28 the monthly echo.
    The drift/seasonality monitor reads this BEFORE trusting a
    day-over-day alert threshold (a series with lag-7 ≈ 0.6 needs
    weekday-conditioned baselines; the registered seasonality profile
    gives those baselines, this query proves they're needed).

    Exactness: the day spine is zero-filled (missing days are real
    zeros, not gaps); residuals are n-SCALED integers (n·c_t − S,
    avoiding the rational mean entirely), so numerator and
    denominator are EXACT BIGINT sums; only the final ratio is a
    double, rounded at 6 dp — the margin-mining cosine pattern.
    Envelope: |n·c − S| ≤ n·max(c) keeps every product under int64
    while n_days·max(c)² ≲ 9e18 — daily counts up to ~10⁶ on a
    10-year spine; beyond that, pre-scale counts (c DIV 10³) or
    aggregate weekly before this query.

    Scale (100 TB): one scan to per-day counts (map-side combine;
    days are metadata-scale), a generated spine broadcast-joined, and
    the lag joins run on the ≤10⁴-row spine — everything after the
    first aggregate is metadata-sized."""
    o = load(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("day")
    )
    counts = o.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    lim = o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = (
        lim.select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(F.broadcast(counts), "day", "left")
        .select("day", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    stats = spine.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    resid = (
        spine.crossJoin(F.broadcast(stats))
        .select("day", (F.col("n") * F.col("c") - F.col("s")).alias("r"))
        .localCheckpoint(eager=True)
    )
    den = resid.agg(F.sum(F.col("r") * F.col("r")).cast("bigint").alias("den"))
    lags = local_frame(spark, [(k,) for k in DAC_LAGS], "lag bigint")
    a = resid.select(F.col("day").alias("a_day"), F.col("r").alias("a_r"))
    b = resid.select(F.col("day").alias("b_day"), F.col("r").alias("b_r"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("b_day", F.col("a_day") + F.col("lag"))
        .join(F.broadcast(b), "b_day")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("a_r") * F.col("b_r")).cast("bigint").alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").alias("lag_days"),
        "n_pairs",
        F.col("num").alias("num_scaled"),
        F.col("den").alias("den_scaled"),
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias(
            "autocorr"
        ),
    )


orders_daily_autocorr.__doc__ = orders_daily_autocorr.__doc__.replace(
    "{DAC_LAGS}", str(DAC_LAGS)
)


# --------------------------------------------------------------------
# Error context window (windowed-count range join over event streams)
# --------------------------------------------------------------------

ECW_WINDOW_US = 300_000_000  # the 5-minute pre-error context window


def _error_context_oracle() -> str:
    """Naive algebra: correlate each error directly against the same
    user's events with the raw range predicate — no banding. Matching
    hashes prove the engine's two-band probe decomposition exact."""
    return f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             date_diff('microsecond',
                       TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
      FROM events
    ), err AS (
      SELECT user_id, event_id AS error_id, ts_us AS err_ts
      FROM e WHERE event_type = 'error'
    ), ctx AS (
      SELECT r.error_id,
             CAST(count(*) AS BIGINT) AS n_prior,
             CAST(sum(CASE WHEN c.event_type = 'error'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_errors,
             max(c.ts_us) AS last_ts
      FROM err r
      JOIN e c ON c.user_id = r.user_id
              AND c.ts_us >= r.err_ts - {ECW_WINDOW_US}
              AND c.ts_us < r.err_ts
      GROUP BY 1
    )
    SELECT r.error_id, r.user_id,
           CAST(COALESCE(c.n_prior, 0) AS BIGINT) AS n_prior,
           CAST(COALESCE(c.n_prior_errors, 0) AS BIGINT)
             AS n_prior_errors,
           CAST(COALESCE(r.err_ts - c.last_ts, -1) AS BIGINT)
             AS last_gap_us
    FROM err r LEFT JOIN ctx c ON c.error_id = r.error_id
    """


@register(
    "events_error_context_window",
    oracle=_error_context_oracle(),
    tags=("events", "join", "interval", "window"),
)
def events_error_context_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRE-ERROR CONTEXT — the windowed-count RANGE join (the
    stream-stream-join shape in batch): for every error event, how
    many same-user events landed in the 5 minutes strictly BEFORE it,
    how many of those were themselves errors (error bursts), and the
    gap to the most recent one (−1 when the window is empty — the
    cold-start error). The triage table an on-call reads: errors with
    dense click context are UX failures, errors preceded by errors
    are cascades, context-free errors are background noise.

    Decomposition: a 5-minute window can only reach back into the
    error's own time band or the one before it (band = ts DIV window),
    so each error probes exactly TWO (user, band) keys and the range
    join becomes an EQUI-join on (user_id, band) + a residual range
    filter — every context event lives in exactly one band, so no
    probe double-counts and no distinct pass is needed. The oracle
    correlates with the raw range predicate (no banding) — matching
    hashes prove the decomposition, not just self-consistency.

    Exactness: integer µs; strict `< err_ts` excludes the error
    itself and any same-microsecond tie on BOTH engines; the empty
    window is pinned to −1 (not NULL) on both.

    Scale (100 TB): the equi-join shuffles on (user_id, band) — skew
    bounded by a single user's 5-minute burst rate, the physically
    meaningful hot key; probes are 2 rows per error; output is one
    row per error. No global windows, no collect."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts_us").alias("err_ts"),
    )
    probes = err.select(
        "user_id",
        "error_id",
        "err_ts",
        F.explode(
            F.expr(
                f"array(err_ts DIV {ECW_WINDOW_US} - 1,"
                f" err_ts DIV {ECW_WINDOW_US})"
            )
        ).alias("band"),
    )
    ctx = e.select(
        "user_id",
        F.expr(f"ts_us DIV {ECW_WINDOW_US}").alias("band"),
        F.col("ts_us").alias("c_ts"),
        F.col("event_type").alias("c_type"),
    )
    hits = (
        probes.join(ctx, ["user_id", "band"])
        .filter(
            (F.col("c_ts") >= F.col("err_ts") - F.lit(ECW_WINDOW_US))
            & (F.col("c_ts") < F.col("err_ts"))
        )
        .groupBy("error_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_prior"),
            F.sum(F.when(F.col("c_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_prior_errors"),
            F.max("c_ts").alias("last_ts"),
        )
    )
    return err.join(hits, "error_id", "left").select(
        "error_id",
        "user_id",
        F.coalesce(F.col("n_prior"), F.lit(0))
        .cast("bigint")
        .alias("n_prior"),
        F.coalesce(F.col("n_prior_errors"), F.lit(0))
        .cast("bigint")
        .alias("n_prior_errors"),
        F.coalesce(F.col("err_ts") - F.col("last_ts"), F.lit(-1))
        .cast("bigint")
        .alias("last_gap_us"),
    )


# --------------------------------------------------------------------
# Business-day ship latency (calendar arithmetic, closed form)
# --------------------------------------------------------------------

# Weekdays among the first r days starting from the epoch (1970-01-01
# was a THURSDAY): dows run (Thu Fri Sat Sun Mon Tue Wed); the
# cumulative weekday count for r = 0..6 is below (full week adds 5).
BDL_CUM = (0, 1, 2, 2, 2, 3, 4)


def _busday_oracle() -> str:
    cum = ", ".join(str(c) for c in BDL_CUM)
    w = (
        f"(5 * (({{d}}) // 7) + ([{cum}])[(({{d}}) % 7) + 1])"
    )
    return f"""
    WITH j AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', DATE '1970-01-01',
                       CAST(o.o_orderdate AS DATE)) AS d0,
             date_diff('day', DATE '1970-01-01',
                       CAST(l.l_shipdate AS DATE)) AS d1
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), lat AS (
      SELECT priority,
             d1 - d0 AS cal_days,
             {w.format(d="d1 + 1")} - {w.format(d="d0 + 1")} AS bus_days
      FROM j
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(bus_days) AS BIGINT) AS sum_bus_days,
           CAST(sum(bus_days) * 1000000 // count(*) AS BIGINT)
             AS mean_bus_days_micro,
           CAST(sum(cal_days) * 1000000 // count(*) AS BIGINT)
             AS mean_cal_days_micro,
           CAST(max(bus_days) AS BIGINT) AS max_bus_days
    FROM lat GROUP BY 1
    """


@register(
    "lineitem_business_day_latency",
    oracle=_busday_oracle(),
    tags=("warehouse", "analytics", "calendar"),
)
def lineitem_business_day_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ship latency in BUSINESS DAYS per order priority — the calendar
    arithmetic the SLA dashboards actually quote ("ships in 3 business
    days"): the closed-form weekday count W(d) = 5·(d DIV 7) +
    cum[(d mod 7)] (epoch-anchored — 1970-01-01 was a Thursday, so
    cum = {BDL_CUM}) turns business-days-between into two O(1) integer
    evaluations, B(d0, d1] = W(d1+1) − W(d0+1) — no calendar table, no
    UDF, no iteration; weekends are exact, holidays are a follow-up
    dimension table. Sits next to the registered calendar-day SLA
    (`orders_priority_sla`) — the referee proves the closed form
    against a literal datetime walk.

    Exactness: pure integer day arithmetic; means are integer-micro
    divisions (identical truncation on both engines). The count is
    SIGNED — a ship date before its order date yields a negative
    latency (W is monotone, so B(d0,d1] = −B(d1,d0]), which is the
    honest rendering of a data error the calendar-day SLA also
    surfaces; filter `bus_days < 0` upstream to quarantine them.

    Scale (100 TB): the co-partitioned lineitem⋈orders fact join (both
    shuffle on orderkey; AQE picks the strategy) + a 5-group hash
    aggregate with map-side combine. The latency math is whole-stage
    codegen — no UDF in the hot path."""
    cum_arr = ", ".join(str(c) for c in BDL_CUM)

    def w(d: str) -> str:
        return (
            f"(5 * (({d}) DIV 7)"
            f" + element_at(array({cum_arr}), CAST(({d}) % 7 AS INT) + 1))"
        )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01")
        ).alias("d1"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("d0"),
    )
    lat = li.join(o, "l_orderkey").select(
        "priority",
        (F.col("d1") - F.col("d0")).alias("cal_days"),
        F.expr(f"{w('d1 + 1')} - {w('d0 + 1')}").alias("bus_days"),
    )
    return lat.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("bus_days").cast("bigint").alias("sum_bus_days"),
        F.expr(
            "CAST(sum(bus_days) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("mean_bus_days_micro"),
        F.expr(
            "CAST(sum(cal_days) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("mean_cal_days_micro"),
        F.max("bus_days").cast("bigint").alias("max_bus_days"),
    )


lineitem_business_day_latency.__doc__ = (
    lineitem_business_day_latency.__doc__.replace("{BDL_CUM}", str(BDL_CUM))
)


# --------------------------------------------------------------------
# Character-entropy quality signal (compression proxy)
# --------------------------------------------------------------------

CEQ_LOW_MICRO = 2_000_000  # flag docs under 2.0 nats of char entropy


def _char_entropy_oracle() -> str:
    return f"""
    WITH pos AS (
      SELECT doc_id, source, length(text) AS n,
             unnest(generate_series(1, length(text))) AS i, text
      FROM documents
      WHERE length(text) > 0
    ), cc AS (
      SELECT doc_id, source, n, substr(text, i, 1) AS ch,
             CAST(count(*) AS BIGINT) AS c
      FROM pos GROUP BY 1, 2, 3, 4
    ), terms AS (
      SELECT cc.doc_id, cc.source,
             CAST(round(-(CAST(cc.c AS DOUBLE) / cc.n)
                        * ln(CAST(cc.c AS DOUBLE) / cc.n)
                        * 1000000.0, 0) AS BIGINT) AS t_micro
      FROM cc
    ), per_doc AS (
      SELECT doc_id, source,
             CAST(sum(t_micro) AS BIGINT) AS h_micro
      FROM terms GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(h_micro) // count(*) AS BIGINT) AS mean_h_micro,
           CAST(sum(CASE WHEN h_micro < {CEQ_LOW_MICRO} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_entropy,
           CAST(min(h_micro) AS BIGINT) AS min_h_micro
    FROM per_doc GROUP BY 1
    """


@register(
    "docs_char_entropy_quality",
    oracle=_char_entropy_oracle(),
    tags=("llm", "quality", "entropy"),
)
def docs_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-entropy quality signal — the compression proxy (a
    document that gzip would crush has low char entropy: repeated
    boilerplate, padding, SEO keyword stuffing), complementing the
    token-level Gopher battery: per document, Shannon entropy of the
    character distribution; per source, the mean, the minimum, and
    the count of low-entropy documents (< {thr} micro-nats).

    Exactness: the registered interarrival-entropy convention — every
    −p·ln(p) TERM rounds to integer micro-nats BEFORE the sum, so the
    per-doc entropy is an ORDER-FREE integer sum on both engines; all
    aggregates integer.

    Scale (100 TB): the char explode is the intrinsic cost (one row
    per character — the same granularity any tokenizer pass pays),
    immediately collapsed by a (doc, char) map-side combine into
    ≤|alphabet| rows per doc; everything after is metadata-sized.
    No UDF — `substring` + hash aggregates stay in codegen."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # The per-doc character total IS length(text) — carried through the
    # grouping keys, so the term computation needs NO join back (a
    # doc_id join here crossed the broadcast threshold under the 4x
    # stress inflation and read as fake super-linear shuffle growth).
    cc = (
        d.select(
            "doc_id",
            "source",
            F.length("text").alias("n"),
            F.explode(
                F.expr("transform(sequence(1, length(text)),"
                       " i -> substring(text, i, 1))")
            ).alias("ch"),
        )
        .groupBy("doc_id", "source", "n", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_doc = (
        cc.select(
            "doc_id",
            "source",
            F.expr(
                "CAST(round(-(CAST(c AS DOUBLE) / n)"
                " * ln(CAST(c AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT)"
            ).alias("t_micro"),
        )
        .groupBy("doc_id", "source")
        .agg(F.sum("t_micro").cast("bigint").alias("h_micro"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(h_micro) DIV count(1) AS BIGINT)").alias(
            "mean_h_micro"
        ),
        F.sum(
            F.when(F.col("h_micro") < CEQ_LOW_MICRO, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_low_entropy"),
        F.min("h_micro").cast("bigint").alias("min_h_micro"),
    )


docs_char_entropy_quality.__doc__ = docs_char_entropy_quality.__doc__.replace(
    "{thr}", str(CEQ_LOW_MICRO)
)


# --------------------------------------------------------------------
# Point-in-time churn training frame (leakage-safe label extraction)
# --------------------------------------------------------------------

CHN_CUTOFF = "2000-01-01"  # feature/label cutoff (orders span 1995-2001)
CHN_HORIZON_DAYS = 90  # churn = no order within 90 days after cutoff


def _churn_frame_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), cut AS (
      SELECT date_diff('day', DATE '1970-01-01', DATE '{CHN_CUTOFF}') AS c
    ), agg AS (
      SELECT o.o_custkey AS custkey,
             CAST(sum(CASE WHEN o.day < cut.c THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orders_pre,
             CAST(sum(CASE WHEN o.day < cut.c THEN o.cents ELSE 0 END)
                  AS BIGINT) AS spend_cents_pre,
             CAST(cut.c - max(CASE WHEN o.day < cut.c THEN o.day END)
                  AS BIGINT) AS recency_days,
             CAST(cut.c - min(CASE WHEN o.day < cut.c THEN o.day END)
                  AS BIGINT) AS tenure_days,
             CAST(sum(CASE WHEN o.day >= cut.c
                           AND o.day < cut.c + {CHN_HORIZON_DAYS}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_window
      FROM o, cut GROUP BY 1, cut.c
    )
    SELECT custkey, n_orders_pre, spend_cents_pre,
           recency_days, tenure_days,
           (n_window = 0) AS churned
    FROM agg WHERE n_orders_pre >= 1
    """


@register(
    "customer_churn_training_frame",
    oracle=_churn_frame_oracle(),
    tags=("warehouse", "ml", "labels", "point-in-time"),
)
def customer_churn_training_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POINT-IN-TIME churn training frame — the leakage-safe
    feature/label extraction every supervised pipeline needs and most
    get wrong: features (order count, spend, recency, tenure) computed
    STRICTLY from orders before the {cut} cutoff; the label (churned =
    zero orders in the following {h} days) STRICTLY from the window
    after it. One conditional-aggregation pass produces both sides, so
    the temporal firewall is a per-column predicate, not a join of two
    differently-filtered scans that can drift apart. Customers with no
    pre-cutoff history are excluded (nothing to featurize).

    Exactness: integer day arithmetic from the epoch anchor; spend in
    exact cents (round(price·100) — the 2-dp money convention);
    label a boolean.

    Scale (100 TB): ONE scan of orders into a custkey hash aggregate
    with map-side combine — no window, no self-join; the frame is one
    row per customer (the ML-ready output a feature store would
    snapshot). Backfills = one query per cutoff, embarrassingly
    parallel across cutoffs."""
    cut = F.datediff(F.lit(CHN_CUTOFF).cast("date"), F.lit("1970-01-01"))
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("day"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    pre = F.col("day") < cut
    win = (F.col("day") >= cut) & (F.col("day") < cut + CHN_HORIZON_DAYS)
    agg = o.groupBy("custkey").agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias(
            "n_orders_pre"
        ),
        F.sum(F.when(pre, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("spend_cents_pre"),
        (cut - F.max(F.when(pre, F.col("day"))))
        .cast("bigint")
        .alias("recency_days"),
        (cut - F.min(F.when(pre, F.col("day"))))
        .cast("bigint")
        .alias("tenure_days"),
        F.sum(F.when(win, 1).otherwise(0)).cast("bigint").alias("n_window"),
    )
    return agg.filter(F.col("n_orders_pre") >= 1).select(
        "custkey",
        "n_orders_pre",
        "spend_cents_pre",
        "recency_days",
        "tenure_days",
        (F.col("n_window") == 0).alias("churned"),
    )


customer_churn_training_frame.__doc__ = (
    customer_churn_training_frame.__doc__.replace("{cut}", CHN_CUTOFF)
    .replace("{h}", str(CHN_HORIZON_DAYS))
)


# --------------------------------------------------------------------
# Approx-percentile accuracy contract (the AQP quantile sketch)
# --------------------------------------------------------------------

APC_ACCURACY = 10000  # Spark percentile_approx accuracy (eps = 1/acc)
APC_QS_PPM = (500_000, 900_000, 990_000)  # p50 / p90 / p99


def _approx_pct_oracle() -> str:
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) // {APC_ACCURACY} + 1 AS BIGINT) AS eps_rows,
           TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
    FROM lineitem
    """


@register(
    "lineitem_approx_percentile_contract",
    oracle=_approx_pct_oracle(),
    tags=("warehouse", "aqp", "sketch", "contract"),
)
def lineitem_approx_percentile_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPROXIMATE-QUERY-PROCESSING contract for the quantile sketch —
    the accuracy audit next to the HLL and CMS members of the sketch
    family: Spark's ``percentile_approx`` (Greenwald–Khanna, rank
    error ≤ n/accuracy) over exact price cents at p50/p90/p99, then a
    SECOND exact pass computes each approximate answer's true rank
    envelope and emits the boolean guarantee check — rank(approx)
    within q·n ± (n DIV {acc} + 1). The oracle recomputes n and the
    permitted slack and pins the booleans TRUE: a sketch regression
    (or a mis-set accuracy knob) flips a hashed fact, not a vibe.
    Ties are handled by the [count<, count≤] rank INTERVAL — the
    guarantee holds iff the interval intersects the target band.

    Scale (100 TB): two scans (one sketch aggregate, one conditional
    rank count against the broadcast 1-row sketch result) — the AQP
    point is that the sketch pass replaces a full sort; the exact
    verification pass is what this CONTRACT adds and what production
    would sample rather than run in full."""
    li = load(spark, sf_dir, "lineitem").select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents")
    )
    qs = [p / 1_000_000 for p in APC_QS_PPM]
    approx = li.agg(
        F.expr(
            f"percentile_approx(cents, array({', '.join(f'{q}D' for q in qs)}),"
            f" {APC_ACCURACY})"
        ).alias("ap")
    ).select(*[F.col("ap")[i].alias(f"a{i}") for i in range(len(qs))])
    checks = li.crossJoin(F.broadcast(approx)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("cents") < F.col(f"a{i}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"lt{i}")
            for i in range(len(qs))
        ],
        *[
            F.sum(F.when(F.col("cents") <= F.col(f"a{i}"), 1).otherwise(0))
            .cast("bigint")
            .alias(f"le{i}")
            for i in range(len(qs))
        ],
    )
    eps = F.expr(f"n DIV {APC_ACCURACY} + 1")
    cols = [
        F.col("n"),
        eps.cast("bigint").alias("eps_rows"),
    ]
    for i, (ppm, name) in enumerate(zip(APC_QS_PPM, ("p50", "p90", "p99"))):
        target = F.expr(f"n * {ppm} DIV 1000000")
        cols.append(
            (
                (F.col(f"lt{i}") <= target + eps)
                & (F.col(f"le{i}") >= target - eps)
            ).alias(f"ok_{name}")
        )
    return checks.select(*cols)


lineitem_approx_percentile_contract.__doc__ = (
    lineitem_approx_percentile_contract.__doc__.replace(
        "{acc}", str(APC_ACCURACY)
    )
)


# --------------------------------------------------------------------
# Weekday-adjusted anomaly days (seasonal baseline + robust threshold)
# --------------------------------------------------------------------

DOW_MAD_K = 5  # flag |residual| > 5 x MAD


def _dow_anomaly_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), counts AS (
      SELECT day, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1
    ), grid AS (
      SELECT unnest(generate_series((SELECT min(day) FROM o),
                                    (SELECT max(day) FROM o))) AS day
    ), spine AS (
      SELECT g.day, ((g.day + 3) % 7) AS dow,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN counts c ON c.day = g.day
    ), base AS (
      SELECT dow,
             CAST(sum(c) * 1000000 // count(*) AS BIGINT) AS mean_micro
      FROM spine GROUP BY 1
    ), resid AS (
      SELECT s.day, s.dow, s.c,
             s.c * 1000000 - b.mean_micro AS resid_micro
      FROM spine s JOIN base b ON b.dow = s.dow
    ), mad AS (
      SELECT CAST(floor(median(abs(resid_micro))) AS BIGINT) AS mad_micro
      FROM resid
    )
    SELECT r.day, CAST(r.dow AS BIGINT) AS dow, r.c,
           CAST(r.resid_micro AS BIGINT) AS resid_micro,
           CAST({DOW_MAD_K} * m.mad_micro AS BIGINT) AS threshold_micro
    FROM resid r, mad m
    WHERE abs(r.resid_micro) > {DOW_MAD_K} * m.mad_micro
    """


@register(
    "orders_dow_adjusted_anomalies",
    oracle=_dow_anomaly_oracle(),
    tags=("warehouse", "anomaly", "timeseries", "robust"),
)
def orders_dow_adjusted_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEEKDAY-ADJUSTED anomaly days — the monitor the autocorrelation
    query justifies: daily order counts on the zero-filled spine,
    residuals against the per-weekday mean baseline (the seasonality
    the raw day-over-day alert would false-positive on), flagged where
    |residual| exceeds {k}× the MAD of all residuals — the robust
    threshold a single Black-Friday spike cannot inflate (unlike a
    stddev rule, where one outlier raises its own bar).

    Exactness: integer micro residuals (c·10⁶ − DIV-mean); the MAD's
    median is a 0.5-quantile on integers — exact dyadic, floored
    identically; the flag predicate is pure integer comparison.

    Scale (100 TB): one scan to per-day counts; spine, weekday
    baseline (7 rows, broadcast back) and the one-row MAD are all
    metadata-domain; the output is the anomaly list itself."""
    o = load(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("day")
    )
    counts = o.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    lim = o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = (
        lim.select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(F.broadcast(counts), "day", "left")
        .select(
            "day",
            F.expr("(day + 3) % 7").alias("dow"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    base = spine.groupBy("dow").agg(
        F.expr("CAST(sum(c) * 1000000 DIV count(1) AS BIGINT)").alias(
            "mean_micro"
        )
    )
    resid = spine.join(F.broadcast(base), "dow").select(
        "day",
        "dow",
        "c",
        (F.col("c") * 1_000_000 - F.col("mean_micro")).alias("resid_micro"),
    )
    mad = resid.agg(
        F.expr(
            "CAST(floor(percentile(abs(resid_micro), 0.5D)) AS BIGINT)"
        ).alias("mad_micro")
    )
    return (
        resid.crossJoin(F.broadcast(mad))
        .filter(
            F.abs(F.col("resid_micro")) > DOW_MAD_K * F.col("mad_micro")
        )
        .select(
            "day",
            F.col("dow").cast("bigint").alias("dow"),
            "c",
            F.col("resid_micro").cast("bigint").alias("resid_micro"),
            (F.lit(DOW_MAD_K) * F.col("mad_micro"))
            .cast("bigint")
            .alias("threshold_micro"),
        )
    )


orders_dow_adjusted_anomalies.__doc__ = (
    orders_dow_adjusted_anomalies.__doc__.replace("{k}", str(DOW_MAD_K))
)
