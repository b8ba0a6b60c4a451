"""Dispersion, concentration, drift and trend queries, each registered
with its DuckDB oracle.

The operators:

- ``events_burstiness_fano``: the Fano factor (variance-to-mean
  ratio of per-hour event counts) per event type — the burstiness
  statistic that separates Poisson-like arrivals (F ≈ 1) from bursty
  (F > 1) or regular (F < 1) traffic, computed from EXACT integer
  moments (n·Σx² − (Σx)² over a common denominator) on the complete
  hour spine including empty hours. The registered inter-arrival
  entropy reads burstiness from gap digits; Fano reads it from
  count dispersion — the two standard, complementary burstiness
  lenses.
- ``part_type_brand_hhi``: Herfindahl–Hirschman market concentration
  per part-type market (brand revenue shares, HHI = Σ share², top
  share) — the market-structure statistic; swap part→source for the
  data-mixture source-concentration check.- ``corpus_filter_ablation_lattice``: the 3-bit survivorship lattice
  over quality gate × exact-dup survivorship × lang allowlist — per
  combo: docs and token mass (micro share). The standard curation
  ablation table ("what does each filter uniquely remove"), one
  level up from the registered pairwise filter-agreement matrix.
- ``orders_priority_mix_drift_tvd``: monthly order-priority mix vs
  the global mix as total-variation distance in micro units over
  the dense month×priority spine — the categorical drift lens
  (complement to the registered KS/PSI numeric-drift pair).
- ``events_halflife_engagement``: decay-weighted engagement scores
  with an exact weekly half-life ladder (weight = 1e6 >> weeks-old,
  pure integer shifts) rolled into score bands — recency-weighted
  activity, the scoring operator behind "active user" definitions.
- ``docs_ttr_window_profile``: windowed type-token ratio (20-word
  windows, short tail included) per doc, banded per source — the
  lexical-diversity profile (vocabulary richness), complementary to
  the repetition-mass profile (r11) which measures the opposite
  failure mode.
- ``orders_theil_sen_trend``: Theil–Sen robust weekly trend per
  priority — median of all pairwise slopes over the zero-filled week
  spine (29% breakdown point) + median-residual intercept; the
  robust twin of the r19 OLS contract, and the pairwise join runs on
  CALENDAR-bounded metadata so inflation never grows it.
- ``orders_volume_changepoint``: binary-segmentation changepoint on
  the daily volume series — the split maximizing between-segment SSE
  reduction from exact int64 prefix sums, with gain and segment
  means; the one-shot level-shift detector complementing the
  registered sequential CUSUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


# --------------------------------------------------------------------
# Fano-factor burstiness per event type (exact integer moments)
# --------------------------------------------------------------------


def _fano_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_type,
             date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
               AS hour_idx
      FROM events
    ), span AS (
      SELECT min(hour_idx) AS h0, max(hour_idx) AS h1 FROM e
    ), spine AS (
      SELECT t.event_type, h.h AS hour_idx
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h
      ) h
    ), counts AS (
      SELECT s.event_type, s.hour_idx,
             CAST(count(e.event_type) AS BIGINT) AS x
      FROM spine s
      LEFT JOIN e ON e.event_type = s.event_type
                 AND e.hour_idx = s.hour_idx
      GROUP BY 1, 2
    ), moments AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2
      FROM counts GROUP BY 1
    )
    SELECT event_type, n_hours, s1 AS n_events,
           CAST(s1 * 1000000 // n_hours AS BIGINT) AS mean_micro,
           CAST((n_hours * s2 - s1 * s1) * 1000000
                // (n_hours * greatest(s1, 1)) AS BIGINT) AS fano_micro
    FROM moments
    """


@register(
    "events_burstiness_fano",
    oracle=_fano_oracle(),
    tags=("events", "analytics", "timeseries"),
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano-factor burstiness per event type: the variance-to-mean
    ratio of per-hour counts over the COMPLETE hour spine (empty
    hours count as zeros — dropping them silently deflates the
    variance, the classic dispersion-statistic bug this contract
    pins). F ≈ 1e6 (micro) is Poisson-like arrival; F > 1e6 is
    bursty; F < 1e6 is more regular than Poisson — the dispersion
    lens on burstiness, complementary to the registered
    inter-arrival-entropy digit lens.

    Exactness: population variance over the common denominator —
    Var·n² = n·Σx² − (Σx)², so fano = Var/mean =
    (n·Σx² − (Σx)²)·1e6 DIV (n·Σx) — pure BIGINT cross-mult with
    the greatest(,1) zero guard; hour indexing from the naive epoch
    anchor (whole hours, both engines identical).

    Scale (100 TB): one scan to a (type, hour) hash aggregate; the
    spine is |types|·|hours| calendar metadata (cross-joined from
    broadcast one-row span bounds); moments are map-side-combinable
    integer sums. No windows, no collect."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("hour_idx"),
    )
    span = e.agg(
        F.min("hour_idx").alias("h0"), F.max("hour_idx").alias("h1")
    )
    types = e.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias(
                "hour_idx"
            ),
        )
    )
    per_hour = e.groupBy("event_type", "hour_idx").agg(
        F.count(F.lit(1)).alias("x")
    )
    counts = (
        spine.join(per_hour, ["event_type", "hour_idx"], "left")
        .withColumn("x", F.coalesce("x", F.lit(0)))
    )
    moments = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    return moments.select(
        "event_type",
        "n_hours",
        F.col("s1").alias("n_events"),
        F.expr("s1 * 1000000 DIV n_hours").cast("bigint").alias(
            "mean_micro"
        ),
        F.expr(
            "(n_hours * s2 - s1 * s1) * 1000000"
            " DIV (n_hours * greatest(s1, 1))"
        )
        .cast("bigint")
        .alias("fano_micro"),
    )


# --------------------------------------------------------------------
# Herfindahl–Hirschman concentration per part type (market structure)
# --------------------------------------------------------------------


def _hhi_oracle() -> str:
    return """
    WITH rev AS (
      SELECT p.p_type, p.p_brand,
             CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,4))) * 10000 AS BIGINT) AS w_e4
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT p_type, CAST(sum(w_e4) AS BIGINT) AS t_e4,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM rev GROUP BY 1
    ), shares AS (
      SELECT r.p_type, t.n_brands, t.t_e4,
             CAST((r.w_e4 // 10000) * 1000000
                  // greatest(t.t_e4 // 10000, 1) AS BIGINT) AS share_micro
      FROM rev r JOIN tot t USING (p_type)
    )
    SELECT p_type,
           CAST(max(n_brands) AS BIGINT) AS n_brands,
           CAST(max(t_e4) AS BIGINT) AS revenue_e4,
           CAST(max(share_micro) AS BIGINT) AS top_share_micro,
           CAST(sum(share_micro * share_micro) // 1000000 AS BIGINT)
             AS hhi_micro
    FROM shares GROUP BY p_type
    """


@register(
    "part_type_brand_hhi",
    oracle=_hhi_oracle(),
    tags=("tpch", "analytics", "report"),
)
def part_type_brand_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per part-type market:
    brand revenue shares in micro units, HHI = Σ share² (re-scaled to
    micro — 1e6 = monopoly, 1e6/n = perfectly even over n brands),
    plus the top brand's share. The market-structure statistic
    antitrust analysis and category-management dashboards both read;
    on the corpus side the same index is the SOURCE-concentration
    check a data-mixture review runs (one dominant source = a
    concentration risk — swap part→source to reuse the plan).

    Exactness: the proven DECIMAL(18,4)→e4-BIGINT revenue
    convention; the share ratio integer-DIV-scales BOTH operands to
    whole currency units first (identical positive-value truncation
    in both engines — the reciprocity-contract overflow rule, which
    the 4× stress sweep enforced here too) so the ×1e6 product stays
    inside int64 out to ~9e12 per-market revenue; share ≤ 1e6 →
    share² ≤ 1e12, summed over ≤ |brands|. Quantize-then-square on
    BOTH engines, so each share rounds before the square
    identically.

    Scale (100 TB): one lineitem scan joined to the part dim (no
    broadcast hint: part grows with SF, so the planner and AQE pick
    the join from size stats), hash-aggregated to the (type, brand) domain (≤ 150·25 rows
    at any SF — part types and brands are fixed vocabularies);
    everything after is metadata arithmetic."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "p_brand")
        .agg(
            (
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (F.lit(1) - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                )
                * 10000
            )
            .cast("bigint")
            .alias("w_e4")
        )
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("w_e4").cast("bigint").alias("t_e4"),
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
    )
    shares = rev.join(tot, "p_type").select(
        "p_type",
        "n_brands",
        "t_e4",
        F.expr(
            "(w_e4 DIV 10000) * 1000000"
            " DIV greatest(t_e4 DIV 10000, 1)"
        )
        .cast("bigint")
        .alias("share_micro"),
    )
    return shares.groupBy("p_type").agg(
        F.max("n_brands").cast("bigint").alias("n_brands"),
        F.max("t_e4").cast("bigint").alias("revenue_e4"),
        F.max("share_micro").cast("bigint").alias("top_share_micro"),
        F.expr("CAST(sum(share_micro * share_micro) DIV 1000000 AS BIGINT)")
        .alias("hhi_micro"),
    )


# --------------------------------------------------------------------
# Filter-ablation lattice (3-bit survivorship over the curation gates)
# --------------------------------------------------------------------

ABL_MIN_WORDS = 20
ABL_MAX_WORDS = 80
ABL_LANGS = ("en", "es", "fr")


def _ablation_oracle() -> str:
    langs = ", ".join(f"'{l}'" for l in ABL_LANGS)
    return f"""
    WITH w AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             row_number() OVER (
               PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ), flags AS (
      SELECT n_words,
             n_words BETWEEN {ABL_MIN_WORDS} AND {ABL_MAX_WORDS} AS q_keep,
             rn = 1 AS d_keep,
             lang IN ({langs}) AS l_keep
      FROM w
    ), tot AS (
      SELECT CAST(sum(n_words) AS BIGINT) AS t FROM flags
    )
    SELECT q_keep, d_keep, l_keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS token_mass,
           CAST(sum(n_words) * 1000000
                // (SELECT greatest(t, 1) FROM tot) AS BIGINT)
             AS token_share_micro
    FROM flags GROUP BY 1, 2, 3
    """


@register(
    "corpus_filter_ablation_lattice",
    oracle=_ablation_oracle(),
    tags=("llm", "curation", "quality", "report"),
)
def corpus_filter_ablation_lattice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curation ABLATION lattice: every doc is flagged by the three
    canonical gates — quality (word count in
    [{ABL_MIN_WORDS}, {ABL_MAX_WORDS}]), exact-dup survivorship
    (keep-first by doc_id within a text-hash group), and language
    allowlist — and the corpus is reported per 3-bit combo with doc
    count, token mass, and micro token share. This is the standard
    "what does each filter uniquely remove" table a curation review
    reads before composing gates (the registered pairwise
    filter-agreement matrix answers correlation BETWEEN two gates;
    the lattice shows the full joint decomposition, including the
    doubly/triply-removed mass each pairwise view double-counts).

    Exactness: integer word counts on the shared single-space-split
    + empty-token-exclusion convention; micro share by integer DIV
    against the greatest(,1)-guarded total.

    Scale (100 TB): one scan computing flags (the dup flag is one
    hash-partitioned window keyed by the text hash — the registered
    dedup-keep-first shuffle), then an 8-group hash aggregate; the
    share join broadcasts a one-row total."""
    from pyspark.sql import Window

    w = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)")
        .alias("n_words"),
        F.row_number()
        .over(Window.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("rn"),
    )
    langs = ", ".join(f"'{l}'" for l in ABL_LANGS)
    flags = w.select(
        "n_words",
        F.expr(
            f"n_words BETWEEN {ABL_MIN_WORDS} AND {ABL_MAX_WORDS}"
        ).alias("q_keep"),
        (F.col("rn") == 1).alias("d_keep"),
        F.expr(f"lang IN ({langs})").alias("l_keep"),
    )
    tot = flags.agg(
        F.greatest(F.sum("n_words"), F.lit(1)).cast("bigint").alias("t")
    )
    return (
        flags.groupBy("q_keep", "d_keep", "l_keep")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("token_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "q_keep",
            "d_keep",
            "l_keep",
            "n_docs",
            "token_mass",
            F.expr("token_mass * 1000000 DIV t")
            .cast("bigint")
            .alias("token_share_micro"),
        )
    )


# --------------------------------------------------------------------
# Monthly priority-mix drift as total-variation distance (categorical)
# --------------------------------------------------------------------


def _priority_tvd_oracle() -> str:
    return """
    WITH o AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             o_orderpriority AS c
      FROM orders
    ), cnt AS (
      SELECT m, c, CAST(count(*) AS BIGINT) AS x FROM o GROUP BY 1, 2
    ), spine AS (
      SELECT mon.m, cat.c
      FROM (SELECT DISTINCT m FROM o) mon
      CROSS JOIN (SELECT DISTINCT c FROM o) cat
    ), dense AS (
      SELECT s.m, s.c, COALESCE(cnt.x, 0) AS x
      FROM spine s LEFT JOIN cnt ON cnt.m = s.m AND cnt.c = s.c
    ), rowt AS (
      SELECT m, CAST(sum(x) AS BIGINT) AS r FROM dense GROUP BY 1
    ), gl AS (
      SELECT c, CAST(sum(x) AS BIGINT) AS g FROM dense GROUP BY 1
    ), n AS (
      SELECT CAST(sum(x) AS BIGINT) AS nn FROM dense
    ), dev AS (
      SELECT d.m, r.r,
             abs(d.x * 1000000 // greatest(r.r, 1)
                 - gl.g * 1000000 // (SELECT nn FROM n)) AS dv
      FROM dense d
      JOIN rowt r ON r.m = d.m
      JOIN gl ON gl.c = d.c
    )
    SELECT m AS month_start,
           CAST(max(r) AS BIGINT) AS n_orders,
           CAST(sum(dv) // 2 AS BIGINT) AS tvd_micro,
           CAST(max(dv) AS BIGINT) AS max_dev_micro
    FROM dev GROUP BY 1
    """


@register(
    "orders_priority_mix_drift_tvd",
    oracle=_priority_tvd_oracle(),
    tags=("warehouse", "drift", "timeseries"),
)
def orders_priority_mix_drift_tvd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical drift as TOTAL-VARIATION distance: each month's
    order-priority mix vs the global mix, TVD = ½·Σ|share_mc −
    share_c| in micro units over the DENSE month×priority spine
    (zero-count cells still contribute |0 − global share| — dropping
    them understates drift, the categorical analog of the Fano
    empty-hour bug). The drift-monitor lens for CATEGORICAL columns,
    complementing the registered KS (numeric CDF) and PSI
    (share-log-ratio) monitors; TVD is the bounded [0, 1e6] metric
    alerting rules prefer.

    Exactness: micro shares by integer DIV (identical truncation on
    both engines, greatest(,1)-guarded), absolute differences and a
    final DIV 2 — all BIGINT.

    Scale (100 TB): one scan to a (month, priority) hash aggregate
    (calendar × 5-value vocabulary — metadata-sized); the spine
    cross-join and share joins all run on that domain. No windows,
    no collect."""
    o = load(spark, sf_dir, "orders").select(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m"),
        F.col("o_orderpriority").alias("c"),
    )
    cnt = o.groupBy("m", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    spine = o.select("m").distinct().crossJoin(
        F.broadcast(o.select("c").distinct())
    )
    dense = (
        spine.join(cnt, ["m", "c"], "left")
        .select("m", "c", F.coalesce("x", F.lit(0)).alias("x"))
    )
    rowt = dense.groupBy("m").agg(F.sum("x").cast("bigint").alias("r"))
    glob = dense.groupBy("c").agg(F.sum("x").cast("bigint").alias("g"))
    n = dense.agg(F.sum("x").cast("bigint").alias("nn"))
    dev = (
        dense.join(rowt, "m")
        .join(F.broadcast(glob), "c")
        .crossJoin(F.broadcast(n))
        .select(
            "m",
            "r",
            F.expr(
                "abs(x * 1000000 DIV greatest(r, 1)"
                " - g * 1000000 DIV nn)"
            ).alias("dv"),
        )
    )
    return dev.groupBy(F.col("m").alias("month_start")).agg(
        F.max("r").cast("bigint").alias("n_orders"),
        F.expr("CAST(sum(dv) DIV 2 AS BIGINT)").alias("tvd_micro"),
        F.max("dv").cast("bigint").alias("max_dev_micro"),
    )


# --------------------------------------------------------------------
# Half-life-decayed engagement scoring (exact integer weight ladder)
# --------------------------------------------------------------------

HLE_HALFLIFE_DAYS = 7
HLE_BAND_MICRO = 1000000  # score band width (1.0 in micro units)


def _halflife_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS day
      FROM events
    ), a AS (
      SELECT max(day) AS anchor FROM e
    ), wts AS (
      SELECT user_id,
             1000000 // (CAST(1 AS BIGINT) << least(
               ((SELECT anchor FROM a) - day) // {HLE_HALFLIFE_DAYS},
               62)) AS w
      FROM e
    ), scored AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(sum(w) AS BIGINT) AS score
      FROM wts GROUP BY 1
    )
    SELECT CAST(score // {HLE_BAND_MICRO} AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(sum(score) AS BIGINT) AS sum_score_micro
    FROM scored GROUP BY 1
    """


@register(
    "events_halflife_engagement",
    oracle=_halflife_oracle(),
    tags=("events", "analytics", "scoring"),
)
def events_halflife_engagement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recency-decayed ENGAGEMENT scoring with an exact half-life:
    each event contributes weight 1e6 >> (weeks old), i.e. a
    {HLE_HALFLIFE_DAYS}-day half-life realized as pure integer
    shifts (age anchored to the corpus's newest event day — a
    data-derived anchor, so the query is replay-stable), summed per
    user and reported as a band histogram (band = whole units of
    full-weight-event equivalents). This is the standard "active
    user" scoring operator — recency-weighted so a burst last week
    outranks the same volume last year — in a form both engines
    compute bit-identically (no float exp()).

    Exactness: integer day arithmetic from the epoch anchor; the
    weight ladder is 1e6 DIV 2^k with the shift capped at 62 (past
    k=20 the weight is exactly 0 in both engines — truncating DIV).

    Scale (100 TB): one scan to per-(user) hash aggregates (the
    weight is map-side arithmetic against a broadcast one-row
    anchor), then a band-histogram aggregate over users. No windows,
    no collect."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    )
    a = e.agg(F.max("day").alias("anchor"))
    wts = e.crossJoin(F.broadcast(a)).select(
        "user_id",
        F.expr(
            f"1000000 DIV shiftleft(CAST(1 AS BIGINT),"
            f" least((anchor - day) DIV {HLE_HALFLIFE_DAYS}, 62))"
        ).alias("w"),
    )
    scored = wts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        F.sum("w").cast("bigint").alias("score"),
    )
    return scored.groupBy(
        F.expr(f"CAST(score DIV {HLE_BAND_MICRO} AS BIGINT)").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.sum("score").cast("bigint").alias("sum_score_micro"),
    )


# --------------------------------------------------------------------
# Windowed type-token ratio profile (lexical diversity per source)
# --------------------------------------------------------------------

TTR_WINDOW_WORDS = 20
TTR_BAND_MICRO = 100000  # 0.1 bands over [0, 1e6]


def _ttr_oracle() -> str:
    w = TTR_WINDOW_WORDS
    return f"""
    WITH words AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), sized AS (
      SELECT source, ws, len(ws) AS n,
             (len(ws) + {w} - 1) // {w} AS nw
      FROM words WHERE len(ws) > 0
    ), ttr AS (
      SELECT source, nw,
             list_reduce(
               [ CAST(len(list_distinct(ws[i * {w} + 1 : i * {w} + {w}]))
                      AS BIGINT) * 1000000
                 // len(ws[i * {w} + 1 : i * {w} + {w}])
                 for i in generate_series(0, nw - 1) ],
               (acc, x) -> acc + x) AS ttr_sum
      FROM sized
    )
    SELECT source,
           CAST(ttr_sum // nw // {TTR_BAND_MICRO} AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ttr_sum // nw) AS BIGINT) AS sum_ttr_micro
    FROM ttr GROUP BY 1, 2
    """


@register(
    "docs_ttr_window_profile",
    oracle=_ttr_oracle(),
    tags=("llm", "quality", "textstats"),
)
def docs_ttr_window_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed TYPE-TOKEN RATIO (lexical diversity) profile: each
    doc's words are cut into {TTR_WINDOW_WORDS}-word windows (short
    tail INCLUDED — the same short-final-frame discipline the
    multimodal contracts pin), each window scores distinct/total in
    micro units, and the doc's mean window-TTR is banded per source
    into a 0.1-wide histogram. Windowing is what makes TTR
    length-comparable (raw TTR collapses for long docs); low bands
    flag template/boilerplate-heavy sources, high bands flag
    word-salad — the vocabulary-RICHNESS lens, complementary to the
    r11 repetition-mass profile which measures repeated-span mass.

    Exactness: the shared single-space-split + empty-token-exclusion
    convention; per-window and per-doc ratios are integer DIV in
    micro units (array fold order is identical in both engines, and
    all summands are integers, so no float-order hazard).

    Scale (100 TB): entirely map-side per-doc array arithmetic (one
    projection — no explode, no shuffle until the final
    (source, band) hash aggregate over bounded groups)."""
    w = TTR_WINDOW_WORDS
    sized = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("ws"),
        )
        .withColumn("n", F.size("ws"))
        .filter(F.col("n") > 0)
        .withColumn("nw", F.expr(f"(n + {w} - 1) DIV {w}"))
    )
    ttr = sized.select(
        "source",
        "nw",
        F.expr(
            f"aggregate(transform(sequence(0, nw - 1),"
            f" i -> CAST(size(array_distinct(slice(ws, i * {w} + 1, {w})))"
            f"      AS BIGINT) * 1000000"
            f"      DIV size(slice(ws, i * {w} + 1, {w}))),"
            f" 0L, (acc, x) -> acc + x)"
        ).alias("ttr_sum"),
    )
    return ttr.groupBy(
        "source",
        F.expr(
            f"CAST(ttr_sum DIV nw DIV {TTR_BAND_MICRO} AS BIGINT)"
        ).alias("band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.expr("ttr_sum DIV nw")).cast("bigint").alias(
            "sum_ttr_micro"
        ),
    )


# --------------------------------------------------------------------
# Theil–Sen robust weekly trend
# --------------------------------------------------------------------


def _theil_sen_oracle() -> str:
    return """
    WITH o AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) // 7 AS week
      FROM orders
    ), bounds AS (
      SELECT min(week) AS w0, max(week) AS w1 FROM o
    ), spine AS (
      SELECT p.priority, g.week
      FROM (SELECT DISTINCT priority FROM o) p
      CROSS JOIN (
        SELECT unnest(generate_series((SELECT w0 FROM bounds),
                                      (SELECT w1 FROM bounds))) AS week
      ) g
    ), counts AS (
      SELECT priority, week, CAST(count(*) AS BIGINT) AS c
      FROM o GROUP BY 1, 2
    ), series AS (
      SELECT s.priority,
             CAST(s.week - b.w0 AS BIGINT) AS x,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS y
      FROM spine s
      CROSS JOIN bounds b
      LEFT JOIN counts c ON c.priority = s.priority AND c.week = s.week
    ), slopes AS (
      SELECT a.priority,
             round(CAST(b.y - a.y AS DOUBLE) / (b.x - a.x), 6) AS m
      FROM series a
      JOIN series b ON b.priority = a.priority AND b.x > a.x
    ), med AS (
      SELECT priority,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(quantile_cont(m, 0.5), 6) AS m6
      FROM slopes GROUP BY 1
    ), resid AS (
      SELECT s.priority, m.n_pairs, m.m6,
             round(s.y - m.m6 * s.x, 6) AS r
      FROM series s JOIN med m ON m.priority = s.priority
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_weeks,
           n_pairs,
           CAST(round(m6 * 1000000, 0) AS BIGINT) AS ts_slope_micro,
           CAST(round(round(quantile_cont(r, 0.5), 6) * 1000000, 0)
                AS BIGINT) AS ts_intercept_micro
    FROM resid GROUP BY 1, 3, m6
    """


@register(
    "orders_theil_sen_trend",
    oracle=_theil_sen_oracle(),
    tags=("warehouse", "statistics", "regression", "robust"),
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend of weekly order volume per priority —
    the median of all pairwise slopes over the zero-filled week spine
    (29% breakdown point: a burst month that drags OLS barely moves
    it), plus the median-residual intercept. The robust twin of the
    r19 OLS contract on the same series; the slope gap between the
    two IS the outlier alarm.

    Exactness: slopes are 6-dp-rounded doubles of exact int64
    differences; the median is the exact-binary-fraction percentile
    convention (Spark ``percentile(m, 0.5D)`` = DuckDB
    ``quantile_cont``) re-rounded at 6 dp before it feeds the
    residual pass, so both engines interpolate identical 6-dp
    multisets; outputs are integer micro.

    Scale (100 TB): the data-sized work is one scan into a
    (priority, week) hash aggregate; the pairwise join runs on the
    CALENDAR-bounded series (|priorities| x |weeks| rows, checkpointed
    metadata — pair count is independent of row count, so inflation
    never grows it). Two metadata passes (slope median, residual
    median) with the 5-row median frame broadcast back."""
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) DIV 7 AS week",
    )
    bounds = o.agg(F.min("week").alias("w0"), F.max("week").alias("w1"))
    spine = (
        o.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr("priority", "explode(sequence(w0, w1)) AS week", "w0")
    )
    counts = o.groupBy("priority", "week").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = (
        spine.join(counts, ["priority", "week"], "left")
        .selectExpr(
            "priority",
            "CAST(week - w0 AS BIGINT) AS x",
            "CAST(COALESCE(c, 0) AS BIGINT) AS y",
        )
        .localCheckpoint(eager=True)  # calendar-bounded metadata
    )
    a = series.selectExpr("priority", "x AS xa", "y AS ya")
    b = series.selectExpr("priority", "x AS xb", "y AS yb")
    slopes = (
        a.join(b, "priority")
        .filter(F.col("xb") > F.col("xa"))
        .selectExpr(
            "priority",
            "round(CAST(yb - ya AS DOUBLE) / (xb - xa), 6) AS m",
        )
    )
    med = slopes.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("round(percentile(m, 0.5D), 6)").alias("m6"),
    )
    resid = series.join(F.broadcast(med), "priority").selectExpr(
        "priority",
        "n_pairs",
        "m6",
        "round(y - m6 * x, 6) AS r",
    )
    return resid.groupBy("priority", "n_pairs", "m6").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.expr(
            "CAST(round(round(percentile(r, 0.5D), 6) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("ts_intercept_micro"),
    ).selectExpr(
        "priority",
        "n_weeks",
        "n_pairs",
        "CAST(round(m6 * 1000000, 0) AS BIGINT) AS ts_slope_micro",
        "ts_intercept_micro",
    )


# --------------------------------------------------------------------
# Binary-segmentation changepoint
# --------------------------------------------------------------------


def _changepoint_oracle() -> str:
    return """
    WITH o AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), bounds AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM o
    ), spine AS (
      SELECT p.priority, g.day
      FROM (SELECT DISTINCT priority FROM o) p
      CROSS JOIN (
        SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                      (SELECT d1 FROM bounds))) AS day
      ) g
    ), counts AS (
      SELECT priority, day, CAST(count(*) AS BIGINT) AS c
      FROM o GROUP BY 1, 2
    ), series AS (
      SELECT s.priority,
             CAST(s.day - b.d0 + 1 AS BIGINT) AS k,
             CAST(s.day AS BIGINT) AS day,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS y
      FROM spine s
      CROSS JOIN bounds b
      LEFT JOIN counts c ON c.priority = s.priority AND c.day = s.day
    ), pre AS (
      SELECT priority, k, day,
             sum(y) OVER (PARTITION BY priority ORDER BY k) AS sk,
             CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS n,
             sum(y) OVER (PARTITION BY priority) AS sn
      FROM series
    ), gains AS (
      SELECT priority, k, day, n, sn,
             CAST(n * sk - k * sn AS DOUBLE) * CAST(n * sk - k * sn AS DOUBLE)
               / (CAST(n AS DOUBLE) * k * (n - k)) AS gain,
             sk
      FROM pre WHERE k < n
    ), best AS (
      SELECT priority, k, day, n, sn, gain, sk,
             row_number() OVER (PARTITION BY priority
                                ORDER BY gain DESC, k ASC) AS rn
      FROM gains
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_days,
           CAST(sn AS BIGINT) AS total_orders,
           CAST(day AS BIGINT) AS split_day_epoch,
           CAST(round(gain * 1000000, 0) AS BIGINT) AS gain_micro,
           CAST(sk * 1000000 // k AS BIGINT) AS mean_left_micro,
           CAST((sn - sk) * 1000000 // (n - k) AS BIGINT)
             AS mean_right_micro
    FROM best WHERE rn = 1
    """


@register(
    "orders_volume_changepoint",
    oracle=_changepoint_oracle(),
    tags=("warehouse", "statistics", "changepoint", "timeseries"),
)
def orders_volume_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BINARY-SEGMENTATION changepoint on daily order volume per
    priority — the single split that maximizes the between-segment
    SSE reduction G(k) = (n·S_k − k·S_n)² / (n·k·(n−k)) over the
    zero-filled day spine, reported with the gain and both segment
    means. The level-shift detector (one-shot binseg) that complements
    the registered CUSUM (sequential drift alarm): CUSUM says "it
    drifted", binseg says WHERE the regime changed.

    Exactness: prefix sums and the G(k) numerator are exact int64
    (n·S_k ≤ days·orders ≈ 4·10⁸ at sf0.1 — nine orders of magnitude
    of headroom); the gain is the same IEEE double expression on both
    engines from identical integers; the argmax tie-breaks on the
    earlier day; segment means are integer-micro ``DIV``.

    Scale (100 TB): one scan → (priority, day) hash aggregate; the
    prefix-sum window and the argmax window run per priority over the
    CALENDAR-bounded spine (≤ a few thousand rows per partition,
    keyed — never a global single-partition sort). Inflation grows
    counts, not the spine, so the window work is constant."""
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) AS day",
    )
    bounds = o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = (
        o.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr("priority", "explode(sequence(d0, d1)) AS day", "d0")
    )
    counts = o.groupBy("priority", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = spine.join(counts, ["priority", "day"], "left").selectExpr(
        "priority",
        "CAST(day - d0 + 1 AS BIGINT) AS k",
        "CAST(day AS BIGINT) AS day",
        "CAST(COALESCE(c, 0) AS BIGINT) AS y",
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("priority")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("priority")
    pre = series.select(
        "priority",
        "k",
        "day",
        F.sum("y").over(wcum).alias("sk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("y").over(wall).alias("sn"),
    )
    gains = pre.filter(F.col("k") < F.col("n")).selectExpr(
        "priority",
        "k",
        "day",
        "n",
        "sn",
        "sk",
        "CAST(n * sk - k * sn AS DOUBLE) * CAST(n * sk - k * sn AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * k * (n - k)) AS gain",
    )
    wbest = Window.partitionBy("priority").orderBy(
        F.col("gain").desc(), F.col("k").asc()
    )
    return (
        gains.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "priority",
            "n AS n_days",
            "sn AS total_orders",
            "day AS split_day_epoch",
            "CAST(round(gain * 1000000, 0) AS BIGINT) AS gain_micro",
            "CAST(sk * 1000000 DIV k AS BIGINT) AS mean_left_micro",
            "CAST((sn - sk) * 1000000 DIV (n - k) AS BIGINT)"
            " AS mean_right_micro",
        )
    )
