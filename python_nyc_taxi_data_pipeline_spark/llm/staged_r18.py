"""Experimentation, forecasting and sequence queries, each registered
with its DuckDB oracle.

The operators:

- ``events_ab_cuped_readout``: EXPERIMENTATION readout with CUPED
  variance reduction (Deng et al. 2013, "Improving the sensitivity of
  online controlled experiments") — deterministic hash-parity arms,
  pre-period covariate, pooled θ = cov(pre, post)/var(pre) from EXACT
  n-scaled integer moments, per-arm adjusted means. The A/B-platform
  primitive: the adjusted delta has the same expectation as the raw
  delta at a fraction of the variance.
- ``orders_naive_forecast_eval``: FORECAST-ACCURACY evaluation of the
  seasonal-naive baseline (ŷ_d = y_{d−7}) per month — MAE, sMAPE and
  bias in exact integer micro over the zero-filled day spine. The
  eval harness every forecasting project runs FIRST: a model that
  cannot beat the naive-7 baseline is noise.
- ``events_session_path_trigrams``: SEQUENTIAL PATTERN mining lite —
  per-session ordered event-type paths cut into trigrams, counted
  corpus-wide (the Markov family captures pairs; paths of three are
  where funnels become visible). The trigram domain is bounded by the
  type vocabulary cubed, so the report is metadata-sized at any
  corpus scale.
- ``events_weekly_retention_triangle``: the canonical cohort
  retention matrix — users cohorted by first-active week, active
  share per (cohort, age) in ppm; the growth-analytics table the
  stickiness point-ratio summarizes.
- ``events_type_entropy_rate``: conditional next-step entropy per
  state and the frequency-weighted entropy rate of the SAME Markov
  matrix the registered transition/stationary pair reports — the
  predictability lens (deterministic funnel vs branching point).
- ``docs_stratified_split_manifest``: deterministic md5 8/1/1
  train/val/test split reported per source stratum (docs, token
  mass, shares ppm) — the dataset-card balance certificate; the r15
  leakage contract covers content, this covers size/balance.
- ``events_ab_srm_check``: sample-ratio mismatch — the two-cell
  chi-square gate every A/B readout must pass before anything else.
- ``orders_did_readout``: difference-in-differences — the
  quasi-experimental estimate for dated rollouts you could not
  randomize; four cell means + the DiD in exact micro.
- ``events_power_mde_planner``: minimum detectable effect at the
  current arm size and a 2×/4×/8× ladder — the "can this experiment
  even see it?" table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register


# --------------------------------------------------------------------
# CUPED A/B readout (experimentation / variance reduction)
# --------------------------------------------------------------------

# Pre/post split of the fixture's single event month (Jan 2024):
# pre = days < the boundary, post = days >= it (epoch day numbers).
CUPED_BOUNDARY_DAY = 19738  # 2024-01-16
CUPED_CENTS = "CAST(round(value * 100) AS BIGINT)"


def _cuped_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             {CUPED_CENTS} AS cents
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN day < {CUPED_BOUNDARY_DAY}
                      THEN cents ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN day >= {CUPED_BOUNDARY_DAY}
                      THEN cents ELSE 0 END) AS BIGINT) AS post
      FROM e GROUP BY 1, 2
    ), moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sp,
             CAST(sum(post) AS BIGINT) AS sq,
             CAST(sum(pre * post) AS BIGINT) AS spq,
             CAST(sum(pre * pre) AS BIGINT) AS spp
      FROM per_user
    ), theta AS (
      SELECT n, sp, sq,
             round(CAST(n * spq - sp * sq AS DOUBLE)
                   / greatest(n * spp - sp * sp, 1), 6) AS th
      FROM moments
    ), arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre) * 1000000 // count(*) AS BIGINT)
               AS mean_pre_micro,
             CAST(sum(post) * 1000000 // count(*) AS BIGINT)
               AS mean_post_micro
      FROM per_user GROUP BY 1
    )
    SELECT a.arm, a.n_users, a.mean_pre_micro, a.mean_post_micro,
           CAST(round(t.th * 1000000, 0) AS BIGINT) AS theta_micro,
           CAST(round(a.mean_post_micro
                      - t.th * (a.mean_pre_micro
                                - CAST(t.sp * 1000000 // t.n AS DOUBLE)),
                      0) AS BIGINT) AS adjusted_mean_micro
    FROM arms a, theta t
    """


@register(
    "events_ab_cuped_readout",
    oracle=_cuped_oracle(),
    tags=("events", "experimentation", "statistics"),
)
def events_ab_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout with CUPED variance reduction — the
    experimentation-platform primitive the engine lacked: users split
    into two arms by id parity (a DETERMINISTIC stand-in for the
    assignment column a real platform logs — the operator contract is
    the arithmetic, not the randomizer), the pre-period spend is the
    CUPED covariate, θ = cov(pre, post)/var(pre) is computed POOLED
    (assignment-independent, as Deng et al. prescribe), and each arm
    reports its raw and adjusted mean — identical expectations, the
    adjusted one at (1 − ρ²) of the variance.

    Exactness: per-user pre/post sums are exact cents; the pooled
    moments are n-scaled integer sums (n·Σxy − ΣxΣy — no rational
    mean anywhere), θ a 6-dp-rounded double of two exact integers;
    the adjusted mean combines integer-micro means with θ in one
    double expression rounded to integer micro — bit-identical on
    both engines. Envelope: n·Σpre² must fit int64 — cents sums up
    to ~10⁶ per user and ~10⁵ users; pre-scale to whole currency
    units beyond that.

    Scale (100 TB): one scan to per-user conditional sums (hash agg,
    map-side combine), a one-row pooled-moment aggregate, a 2-row arm
    aggregate — the θ broadcast is a scalar. No windows, no joins on
    data-sized frames."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias(
            "day"
        ),
        F.expr(CUPED_CENTS).alias("cents"),
    )
    pre = F.col("day") < CUPED_BOUNDARY_DAY
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(pre, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(~pre, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("post"),
    ).select(
        F.expr("CAST(user_id % 2 AS BIGINT)").alias("arm"), "pre", "post"
    ).localCheckpoint(eager=True)
    theta = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sp"),
        F.sum("post").cast("bigint").alias("sq"),
        F.sum(F.col("pre") * F.col("post")).cast("bigint").alias("spq"),
        F.sum(F.col("pre") * F.col("pre")).cast("bigint").alias("spp"),
    ).select(
        "n",
        "sp",
        F.expr(
            "round(CAST(n * spq - sp * sq AS DOUBLE)"
            " / greatest(n * spp - sp * sp, 1), 6)"
        ).alias("th"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("CAST(sum(pre) * 1000000 DIV count(1) AS BIGINT)").alias(
            "mean_pre_micro"
        ),
        F.expr("CAST(sum(post) * 1000000 DIV count(1) AS BIGINT)").alias(
            "mean_post_micro"
        ),
    )
    return arms.crossJoin(F.broadcast(theta)).select(
        "arm",
        "n_users",
        "mean_pre_micro",
        "mean_post_micro",
        F.expr("CAST(round(th * 1000000, 0) AS BIGINT)").alias(
            "theta_micro"
        ),
        F.expr(
            "CAST(round(mean_post_micro"
            " - th * (mean_pre_micro"
            "         - CAST(sp * 1000000 DIV n AS DOUBLE)), 0) AS BIGINT)"
        ).alias("adjusted_mean_micro"),
    )


# --------------------------------------------------------------------
# Seasonal-naive forecast evaluation (the baseline every model must beat)
# --------------------------------------------------------------------

NFE_LAG_DAYS = 7  # seasonal-naive: forecast(d) = actual(d - 7)


def _forecast_eval_oracle() -> str:
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
      SELECT g.day, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN counts c ON c.day = g.day
    ), ev AS (
      SELECT a.day, a.c, f.c AS fc,
             abs(a.c - f.c) AS ae,
             a.c - f.c AS err,
             2000000 * abs(a.c - f.c) // greatest(a.c + f.c, 1)
               AS smape_term
      FROM spine a JOIN spine f ON f.day = a.day - {NFE_LAG_DAYS}
    )
    SELECT CAST(date_trunc('month', DATE '1970-01-01'
                 + to_days(CAST(day AS INT))) AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(ae) * 1000000 // count(*) AS BIGINT) AS mae_micro,
           CAST(sum(smape_term) // count(*) AS BIGINT) AS smape_micro,
           CAST(sum(err) AS BIGINT) AS bias_days
    FROM ev GROUP BY 1
    """


@register(
    "orders_naive_forecast_eval",
    oracle=_forecast_eval_oracle(),
    tags=("warehouse", "timeseries", "forecast", "eval"),
)
def orders_naive_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST-ACCURACY harness for the seasonal-naive baseline
    (ŷ_d = y_{d−7}) on the daily order-count series — per month: MAE,
    sMAPE and signed bias. The first table any forecasting effort
    produces: a candidate model's value is its skill OVER this
    baseline (the lag the autocorrelation query shows is strongest),
    and the monthly sMAPE trend is the drift alarm for an already-
    deployed forecaster.

    Exactness: zero-filled spine (missing days are real zeros); MAE
    and bias are pure integer sums; each day's sMAPE term is
    2·10⁶·|y−ŷ| DIV max(y+ŷ, 1) (the symmetric form, guarded for the
    all-zero day), month means integer DIV.

    Scale (100 TB): one scan to per-day counts; the spine self-join
    at lag 7 runs on the metadata-sized calendar frame (broadcast);
    months are calendar-bounded."""
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
        .localCheckpoint(eager=True)
    )
    f = spine.select(
        (F.col("day") + NFE_LAG_DAYS).alias("day"), F.col("c").alias("fc")
    )
    ev = spine.join(F.broadcast(f), "day").select(
        "day",
        "c",
        "fc",
        F.abs(F.col("c") - F.col("fc")).alias("ae"),
        (F.col("c") - F.col("fc")).alias("err"),
        F.expr(
            "2000000 * abs(c - fc) DIV greatest(c + fc, 1)"
        ).alias("smape_term"),
    )
    return ev.groupBy(
        F.expr(
            "CAST(date_trunc('month', date_add(DATE '1970-01-01',"
            " CAST(day AS INT))) AS DATE)"
        ).alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("CAST(sum(ae) * 1000000 DIV count(1) AS BIGINT)").alias(
            "mae_micro"
        ),
        F.expr("CAST(sum(smape_term) DIV count(1) AS BIGINT)").alias(
            "smape_micro"
        ),
        F.sum("err").cast("bigint").alias("bias_days"),
    )


# --------------------------------------------------------------------
# Session path trigrams (sequential pattern mining lite)
# --------------------------------------------------------------------

SPT_GAP_S = 1800  # the registered 30-minute session gap


def _path_trigrams_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             date_diff('microsecond',
                       TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
      FROM events
    ), marked AS (
      SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  > {SPT_GAP_S} * 1000000 OR lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM e
    ), sess AS (
      SELECT user_id, event_type, ts_us, event_id,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    ), paths AS (
      SELECT user_id, sess_id,
             list(event_type ORDER BY ts_us, event_id) AS path
      FROM sess GROUP BY 1, 2
    ), tri AS (
      SELECT path[i] || '>' || path[i + 1] || '>' || path[i + 2] AS trigram,
             user_id, sess_id
      FROM paths,
           LATERAL (SELECT unnest(generate_series(
                      1, greatest(len(path) - 2, 1))) AS i) g
      WHERE len(path) >= 3
    )
    SELECT trigram,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tri GROUP BY 1
    """


@register(
    "events_session_path_trigrams",
    oracle=_path_trigrams_oracle(),
    tags=("events", "sessions", "sequence", "mining"),
)
def events_session_path_trigrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEQUENTIAL-PATTERN mining lite: per-session ordered event-type
    PATHS cut into trigrams and counted corpus-wide (occurrences +
    distinct users). The Markov family sees pairs; length-3 windows
    are where funnels (view>click>purchase) and loops
    (error>view>error) become visible. Support counting over a
    vocabulary-bounded n-gram domain — the first rung of
    PrefixSpan-style mining, which at |types| = 5 is already ≤125
    output rows at ANY corpus size.

    Exactness: paths are (ts, event_id)-ordered on both engines (the
    registered tie-break convention); trigram keys are plain string
    joins; counts integers.

    Scale (100 TB): the shared keyed sessionization window, one
    sort_array per session (sessions are short — the array sort is
    per-group map-side work), a map-side trigram explode (n−2 per
    session), and a hash aggregate onto the bounded trigram domain —
    shuffle is ≤125 rows per partition plus the distinct-user
    rollup."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn(
        "new_sess",
        F.when(
            F.lag("ts_us").over(w_order).isNull()
            | (
                F.col("ts_us") - F.lag("ts_us").over(w_order)
                > SPT_GAP_S * 1000000
            ),
            1,
        ).otherwise(0),
    ).withColumn("sess_id", F.sum("new_sess").over(w_cum))
    paths = sess.groupBy("user_id", "sess_id").agg(
        F.expr(
            "transform(array_sort(collect_list("
            " struct(ts_us, event_id, event_type))), s -> s.event_type)"
        ).alias("path")
    )
    # Spark's sequence(1, 0) DESCENDS instead of returning empty, so
    # short paths (< 3 events) must be gated before the explode.
    tri = paths.filter(F.size("path") >= 3).select(
        "user_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(path) - 2),"
                " i -> concat(path[i - 1], '>', path[i], '>', path[i + 1]))"
            )
        ).alias("trigram"),
    )
    return tri.groupBy("trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# --------------------------------------------------------------------
# Weekly retention triangle
# --------------------------------------------------------------------


def _retention_oracle() -> str:
    return """
    WITH act AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events
    ), first AS (
      SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1
    ), tri AS (
      SELECT f.cohort_week,
             CAST(a.week - f.cohort_week AS BIGINT) AS age_weeks,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM act a JOIN first f ON f.user_id = a.user_id
      GROUP BY 1, 2
    ), base AS (
      SELECT cohort_week, n_active AS cohort_size
      FROM tri WHERE age_weeks = 0
    )
    SELECT t.cohort_week, t.age_weeks, b.cohort_size, t.n_active,
           CAST(t.n_active * 1000000 // b.cohort_size AS BIGINT)
             AS retention_ppm
    FROM tri t JOIN base b ON b.cohort_week = t.cohort_week
    """


@register(
    "events_weekly_retention_triangle",
    oracle=_retention_oracle(),
    tags=("analytics", "retention", "cohort", "growth"),
)
def events_weekly_retention_triangle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WEEKLY RETENTION TRIANGLE — users cohorted by first-active
    week; per (cohort, age in weeks): active users and the retention
    ppm vs the cohort's size. The canonical growth-analytics table
    (every cohort chart and LTV model starts here); age 0 is the
    cohort itself by construction (retention_ppm = 1e6). Complements
    the registered DAU/WAU stickiness (a point ratio) and the r16
    cohort repeat rate (orders) with the full events-side matrix.

    Exactness: weeks are exact epoch-day ``DIV`` 7; counts and ppm
    are exact integers.

    Scale (100 TB): one scan → DISTINCT (user, week) hash aggregate;
    the cohort lookup is a user-keyed equi-join (co-partitioned with
    the distinct — AQE reuses the exchange); the triangle itself is
    CALENDAR²-bounded metadata and the cohort-size join is
    metadata-on-metadata."""
    act = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01')"
            " AS BIGINT) DIV 7 AS week",
        )
        .distinct()
    )
    first = act.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    tri = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week"))
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
        .localCheckpoint(eager=True)  # calendar^2-bounded metadata
    )
    base = tri.filter(F.col("age_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return tri.join(F.broadcast(base), "cohort_week").selectExpr(
        "cohort_week",
        "age_weeks",
        "cohort_size",
        "n_active",
        "CAST(n_active * 1000000 DIV cohort_size AS BIGINT)"
        " AS retention_ppm",
    )


# --------------------------------------------------------------------
# Markov entropy rate
# --------------------------------------------------------------------


def _entropy_rate_oracle() -> str:
    return """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), trans AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS ctot FROM trans
    ), rows_ AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS crow,
             CAST(count(*) AS BIGINT) AS out_degree
      FROM trans GROUP BY 1
    )
    SELECT t.src,
           r.crow AS n_out,
           r.out_degree,
           CAST(sum(CAST(round(-(CAST(t.c AS DOUBLE) / r.crow)
                 * ln(CAST(t.c AS DOUBLE) / r.crow) * 1000000.0, 0)
                 AS BIGINT)) AS BIGINT) AS h_row_micro,
           CAST(sum(CAST(round(-(CAST(t.c AS DOUBLE) / o.ctot)
                 * ln(CAST(t.c AS DOUBLE) / r.crow) * 1000000.0, 0)
                 AS BIGINT)) AS BIGINT) AS h_rate_contrib_micro
    FROM trans t
    JOIN rows_ r ON r.src = t.src
    CROSS JOIN tot o
    GROUP BY 1, 2, 3
    """


@register(
    "events_type_entropy_rate",
    oracle=_entropy_rate_oracle(),
    tags=("analytics", "markov", "entropy", "information"),
)
def events_type_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ENTROPY RATE of the user-journey Markov chain — per source
    state: the conditional next-step entropy H(next|src) in
    micro-nats and its empirical-frequency-weighted contribution to
    the chain's entropy rate Ĥ = −Σ_ij (c_ij/C)·ln(c_ij/c_i·). The
    predictability readout over the SAME transition matrix the
    registered ``events_markov_transitions``/``_stationary`` pair
    reports: a near-zero row means a deterministic funnel step, a
    high row means a branching point — where recommendation/caching
    effort pays.

    Exactness: the registered entropy convention — every −p·ln(p)
    TERM rounds to integer micro-nats BEFORE the sum (order-free
    integer aggregation on both engines); probabilities are
    int64/int64 double divisions, identical IEEE on both engines;
    the transition ordering tie-break (ts, event_id) is the
    registered Markov convention.

    Scale (100 TB): the corpus-sized work is ONE per-user window
    (lead) and ONE hash aggregate into the |types|²-bounded matrix;
    everything downstream (row totals, the scalar total, both
    entropy sums) is metadata over ≤|types|² rows with the 1-row
    total broadcast by the planner."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("dst"),
    )
    trans = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)  # <= |types|^2 metadata
    )
    rows_ = trans.groupBy("src").agg(
        F.sum("c").cast("bigint").alias("crow"),
        F.count(F.lit(1)).cast("bigint").alias("out_degree"),
    )
    tot = trans.agg(F.sum("c").cast("bigint").alias("ctot"))
    return (
        trans.join(F.broadcast(rows_), "src")
        .crossJoin(F.broadcast(tot))
        .groupBy("src", "crow", "out_degree")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(-(CAST(c AS DOUBLE) / crow)"
                    " * ln(CAST(c AS DOUBLE) / crow) * 1000000.0, 0)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h_row_micro"),
            F.sum(
                F.expr(
                    "CAST(round(-(CAST(c AS DOUBLE) / ctot)"
                    " * ln(CAST(c AS DOUBLE) / crow) * 1000000.0, 0)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h_rate_contrib_micro"),
        )
        .selectExpr(
            "src",
            "crow AS n_out",
            "out_degree",
            "h_row_micro",
            "h_rate_contrib_micro",
        )
    )


# --------------------------------------------------------------------
# Stratified split manifest
# --------------------------------------------------------------------

SPLIT_BUCKETS = 10  # md5 % 10: 0-7 train, 8 val, 9 test


def _split_manifest_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT source,
             CASE
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    ::BIGINT % {SPLIT_BUCKETS} <= 7 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    ::BIGINT % {SPLIT_BUCKETS} = 8 THEN 'val'
               ELSE 'test'
             END AS split,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ), per AS (
      SELECT source, split,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM d GROUP BY 1, 2
    ), src AS (
      SELECT source,
             CAST(sum(n_docs) AS BIGINT) AS src_docs,
             CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      FROM per GROUP BY 1
    )
    SELECT p.source, p.split, p.n_docs, p.n_tokens,
           CAST(p.n_docs * 1000000 // s.src_docs AS BIGINT)
             AS doc_share_ppm,
           CAST(p.n_tokens * 1000000 // greatest(s.src_tokens, 1)
                AS BIGINT) AS token_share_ppm
    FROM per p JOIN src s ON s.source = p.source
    """


@register(
    "docs_stratified_split_manifest",
    oracle=_split_manifest_oracle(),
    tags=("llm", "curation", "split", "manifest"),
)
def docs_stratified_split_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED train/val/test SPLIT MANIFEST — the deterministic
    hash split (md5 % {SPLIT_BUCKETS}: 8/1/1) reported per source
    stratum: docs, whitespace-token mass, and each split's doc/token
    share ppm within its source. The dataset-card table every
    training run ships; the r15 leakage contract certifies the split
    doesn't leak NEAR-DUP content — this manifest certifies its
    SIZE/BALANCE story. Reproducible anywhere: the split is a pure
    function of doc_id.

    Exactness: the established cross-engine md5-15-hex hash; token
    counts use the registered whitespace convention
    (``size(split(text, ' '))``); shares are integer ``DIV`` with
    the ``greatest(x, 1)`` zero-guard.

    Scale (100 TB): one scan, split and token count computed
    map-side, ONE (source, split) hash aggregate (≤ 3·|sources|
    groups); the share join is metadata-on-metadata."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "source",
        f"""CASE
          WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),
                         16, 10) AS BIGINT) % {SPLIT_BUCKETS} <= 7
            THEN 'train'
          WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),
                         16, 10) AS BIGINT) % {SPLIT_BUCKETS} = 8
            THEN 'val'
          ELSE 'test'
        END AS split""",
        "CAST(size(split(text, ' ')) AS BIGINT) AS toks",
    )
    per = d.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
    )
    src = per.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("src_docs"),
        F.sum("n_tokens").cast("bigint").alias("src_tokens"),
    )
    return per.join(F.broadcast(src), "source").selectExpr(
        "source",
        "split",
        "n_docs",
        "n_tokens",
        "CAST(n_docs * 1000000 DIV src_docs AS BIGINT) AS doc_share_ppm",
        "CAST(n_tokens * 1000000 DIV greatest(src_tokens, 1) AS BIGINT)"
        " AS token_share_ppm",
    )


docs_stratified_split_manifest.__doc__ = (
    docs_stratified_split_manifest.__doc__.replace(
        "{SPLIT_BUCKETS}", str(SPLIT_BUCKETS)
    )
)


# --------------------------------------------------------------------
# SRM check (the first A/B sanity gate)
# --------------------------------------------------------------------

# chi-square(df=1) critical value at alpha=0.05, Python literal in ppm
SRM_CHI2_CRIT_MICRO = 3_841_459


def _srm_oracle() -> str:
    return f"""
    WITH arms AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_users) AS BIGINT) AS n,
             CAST(max(n_users) - min(n_users) AS BIGINT) AS gap
      FROM arms
    )
    SELECT a.arm, a.n_users,
           CAST(a.n_users * 1000000 // t.n AS BIGINT) AS share_ppm,
           CAST(t.gap * t.gap * 1000000 // t.n AS BIGINT) AS chi2_micro,
           t.gap * t.gap * 1000000 // t.n > {SRM_CHI2_CRIT_MICRO}
             AS srm_flag
    FROM arms a CROSS JOIN tot t
    """


@register(
    "events_ab_srm_check",
    oracle=_srm_oracle(),
    tags=("events", "experimentation", "quality", "srm"),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check — the FIRST gate every A/B readout
    must pass: with a 50/50 intended split, the two-cell chi-square
    collapses to (n₀−n₁)²/n, compared against the df=1 critical value
    at α=0.05 (Python literal, ppm). An SRM means the assignment or
    logging pipeline is broken and every downstream metric (incl. the
    registered CUPED readout on the SAME parity arms) is invalid —
    platforms auto-kill experiments on this flag.

    Exactness: pure integer arithmetic end to end — counts, shares,
    and the chi-square in micro via integer ``DIV``; the critical
    value is an embedded literal.

    Scale (100 TB): one scan → DISTINCT user hash aggregate into two
    groups; everything downstream is a 2-row frame and a broadcast
    1-row total."""
    arms = (
        load(spark, sf_dir, "events")
        .selectExpr("CAST(user_id % 2 AS BIGINT) AS arm", "user_id")
        .groupBy("arm")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )
    tot = arms.agg(
        F.sum("n_users").cast("bigint").alias("n"),
        (F.max("n_users") - F.min("n_users")).cast("bigint").alias("gap"),
    )
    return arms.crossJoin(F.broadcast(tot)).selectExpr(
        "arm",
        "n_users",
        "CAST(n_users * 1000000 DIV n AS BIGINT) AS share_ppm",
        "CAST(gap * gap * 1000000 DIV n AS BIGINT) AS chi2_micro",
        f"gap * gap * 1000000 DIV n > {SRM_CHI2_CRIT_MICRO} AS srm_flag",
    )


# --------------------------------------------------------------------
# Difference-in-differences
# --------------------------------------------------------------------

DID_BOUNDARY = "DATE '1995-06-01'"  # mid-fixture policy date


def _did_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT CAST(o_custkey % 2 AS BIGINT) AS grp,
             CASE WHEN CAST(o_orderdate AS DATE) >= {DID_BOUNDARY}
                  THEN 1 ELSE 0 END AS period,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), cells AS (
      SELECT grp, period,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
               AS mean_micro
      FROM o GROUP BY 1, 2
    ), did AS (
      SELECT CAST(
               (max(CASE WHEN grp = 1 AND period = 1
                    THEN mean_micro END)
                - max(CASE WHEN grp = 1 AND period = 0
                      THEN mean_micro END))
               - (max(CASE WHEN grp = 0 AND period = 1
                      THEN mean_micro END)
                  - max(CASE WHEN grp = 0 AND period = 0
                        THEN mean_micro END)) AS BIGINT) AS did_micro
      FROM cells
    )
    SELECT c.grp, c.period, c.n_orders, c.mean_micro, d.did_micro
    FROM cells c CROSS JOIN did d
    """


@register(
    "orders_did_readout",
    oracle=_did_oracle(),
    tags=("warehouse", "experimentation", "causal", "did"),
)
def orders_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES readout — the quasi-experimental
    causal estimate for a policy that hit one group at a known date:
    mean order value per (group, pre/post) cell and the DiD estimate
    (Δtreated − Δcontrol) in integer micro. Group is the
    deterministic custkey parity (the stand-in for a real treatment
    flag — the contract is the arithmetic); the boundary is a fixed
    mid-fixture date. Completes the causal shelf next to the CUPED
    randomized readout: CUPED for experiments you could randomize,
    DiD for rollouts you could not.

    Exactness: cents are the registered ``round(price*100)``
    convention; cell means are integer-micro ``DIV``; the DiD is a
    difference of four exact integers.

    Scale (100 TB): one scan → a 4-group hash aggregate with
    map-side combine; the DiD pivot is a 1-row aggregate of the
    4-row frame, broadcast back. Nothing else."""
    o = load(spark, sf_dir, "orders").selectExpr(
        "CAST(o_custkey % 2 AS BIGINT) AS grp",
        f"CASE WHEN CAST(o_orderdate AS DATE) >= {DID_BOUNDARY}"
        " THEN 1 ELSE 0 END AS period",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    cells = o.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(sum(cents) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("mean_micro"),
    )
    did = cells.agg(
        F.expr(
            "CAST((max(CASE WHEN grp = 1 AND period = 1"
            " THEN mean_micro END)"
            " - max(CASE WHEN grp = 1 AND period = 0"
            " THEN mean_micro END))"
            " - (max(CASE WHEN grp = 0 AND period = 1"
            " THEN mean_micro END)"
            " - max(CASE WHEN grp = 0 AND period = 0"
            " THEN mean_micro END)) AS BIGINT)"
        ).alias("did_micro")
    )
    return cells.crossJoin(F.broadcast(did)).select(
        "grp", "period", "n_orders", "mean_micro", "did_micro"
    )


# --------------------------------------------------------------------
# Power / MDE planner
# --------------------------------------------------------------------

# two-sided alpha=0.05 and power=0.8 normal quantiles, Python literals
Z_ALPHA = 1.959964
Z_BETA = 0.841621
MDE_LADDER = (1, 2, 4, 8)  # multiples of the current per-arm size


def _mde_oracle() -> str:
    ladder = ", ".join(f"({m})" for m in MDE_LADDER)
    return f"""
    WITH e AS (
      SELECT user_id, {CUPED_CENTS} AS cents FROM events
    ), per_user AS (
      SELECT user_id, CAST(sum(cents) AS BIGINT) AS spend
      FROM e GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(spend) AS BIGINT) AS s1,
             CAST(sum(spend * spend) AS BIGINT) AS s2
      FROM per_user
    ), ladder AS (
      SELECT * FROM (VALUES {ladder}) AS t(mult)
    )
    SELECT CAST(l.mult AS BIGINT) AS mult,
           CAST(m.n // 2 * l.mult AS BIGINT) AS n_per_arm,
           CAST(round(({Z_ALPHA} + {Z_BETA})
                 * sqrt(2.0 * (CAST(m.s2 AS DOUBLE) / m.n
                        - (CAST(m.s1 AS DOUBLE) / m.n)
                          * (CAST(m.s1 AS DOUBLE) / m.n))
                        / (m.n // 2 * l.mult)) * 1000000.0, 0)
                AS BIGINT) AS mde_abs_micro,
           CAST(round(({Z_ALPHA} + {Z_BETA})
                 * sqrt(2.0 * (CAST(m.s2 AS DOUBLE) / m.n
                        - (CAST(m.s1 AS DOUBLE) / m.n)
                          * (CAST(m.s1 AS DOUBLE) / m.n))
                        / (m.n // 2 * l.mult))
                 / (CAST(m.s1 AS DOUBLE) / m.n) * 1000000.0, 0)
                AS BIGINT) AS mde_rel_ppm
    FROM ladder l CROSS JOIN mom m
    """


@register(
    "events_power_mde_planner",
    oracle=_mde_oracle(),
    tags=("events", "experimentation", "power", "planning"),
)
def events_power_mde_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POWER / MINIMUM-DETECTABLE-EFFECT planner — for the current
    per-arm size and a 2×/4×/8× ladder: the smallest true lift a
    two-sided α=0.05, 80%-power test can detect, absolute (micro
    cents) and relative (ppm of the mean), via
    MDE = (z_α + z_β)·√(2σ²/n). The question every experiment review
    asks FIRST ("can this A/B even see the effect we care about?"),
    answered from the same per-user spend the CUPED pair reads.

    Exactness: σ² combines exact int64 moments in one identical IEEE
    double expression; z-quantiles are Python literals embedded in
    both engines' SQL; ``sqrt`` is correctly rounded on both JVMs
    and DuckDB (IEEE 754); single terminal rounding at micro/ppm.

    Scale (100 TB): one scan → per-user hash aggregate → a 1-row
    moment frame crossed with a 4-row literal ladder. Metadata only
    after the first aggregate."""
    per_user = (
        load(spark, sf_dir, "events")
        .selectExpr("user_id", f"{CUPED_CENTS} AS cents")
        .groupBy("user_id")
        .agg(F.sum("cents").cast("bigint").alias("spend"))
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("spend").cast("bigint").alias("s1"),
        F.sum(F.col("spend") * F.col("spend")).cast("bigint").alias("s2"),
    )
    ladder = local_frame(spark, [(m,) for m in MDE_LADDER], "mult bigint")
    var = (
        "(CAST(s2 AS DOUBLE) / n"
        " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
    )
    mde = (
        f"({Z_ALPHA} + {Z_BETA})"
        f" * sqrt(2.0 * {var} / (n DIV 2 * mult))"
    )
    return ladder.crossJoin(F.broadcast(mom)).selectExpr(
        "mult",
        "CAST(n DIV 2 * mult AS BIGINT) AS n_per_arm",
        f"CAST(round({mde} * 1000000.0, 0) AS BIGINT) AS mde_abs_micro",
        f"CAST(round({mde} / (CAST(s1 AS DOUBLE) / n) * 1000000.0, 0)"
        " AS BIGINT) AS mde_rel_ppm",
    )
