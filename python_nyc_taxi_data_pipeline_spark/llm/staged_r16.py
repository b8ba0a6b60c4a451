"""Percentile, temperature-sampling, cohort and quantization queries,
each registered with its DuckDB oracle.

Some of the operators:

- ``embeddings_quantization_sweep``: e1…e4 fixed-point precision
  sweep (exact-representation counts + integer reconstruction-error
  mass) — the how-many-bits table read before choosing int8/fp16/PQ.
- ``customer_order_gap_percentiles``: exact inter-order-gap
  percentiles (p50/p75) per market segment — repeat-purchase latency
  profiling: per-customer consecutive-order day gaps via a keyed lag
  window, then the engine's exact-percentile convention per segment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register


# --------------------------------------------------------------------
# Inter-order gap percentiles per segment (repeat-purchase latency)
# --------------------------------------------------------------------


def _order_gap_oracle() -> str:
    return """
    WITH o AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             date_diff('day', DATE '1970-01-01',
                       CAST(o.o_orderdate AS DATE)) AS day
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), gaps AS (
      SELECT segment,
             day - lag(day) OVER (
               PARTITION BY o_custkey ORDER BY day, segment) AS gap
      FROM o
      QUALIFY gap IS NOT NULL
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(floor(median(gap)) AS BIGINT) AS p50_gap_days,
           CAST(floor(quantile_cont(gap, 0.75)) AS BIGINT) AS p75_gap_days,
           CAST(max(gap) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY 1
    """


@register(
    "customer_order_gap_percentiles",
    oracle=_order_gap_oracle(),
    tags=("warehouse", "analytics", "percentile"),
)
def customer_order_gap_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase LATENCY profile: consecutive-order day gaps per
    customer (keyed lag window), summarized per market segment with
    the exact-percentile convention (p50/p75 via linear-interpolation
    percentile — Spark ``percentile`` = DuckDB ``quantile_cont``,
    both exact sort-based definitions, truncated to whole days after
    interpolation). The CRM inter-purchase-time table that drives
    churn-risk windows ("customer overdue at 2× their segment p50").

    Exactness: integer day arithmetic from the epoch anchor; the only
    floats are the two interpolated percentiles — 0.5 and 0.75 are
    EXACT binary fractions, so with integer gaps the interpolated
    value is an exact dyadic rational (denominator ≤ 4) in IEEE
    double on both engines, floored BEFORE the BIGINT cast on both
    (DuckDB's double→int CAST rounds half-to-even while Spark's
    truncates — floor() removes the half-boundary divergence this
    fixture actually hit at 307.5); 0.9 would not even be an exact
    fraction, so p90 is deliberately avoided.

    Scale (100 TB): orders⋈customer is a broadcast-dim join; gaps are
    one customer-keyed window pass (parallel across customers); the
    exact percentile buffers the gap column per segment — gaps are
    one row per repeat order, the corpus compressed by the
    orders-per-customer fold. Per-segment groups are bounded by the
    5-value segment vocabulary."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .alias("day"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("day", "segment")
    gaps = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("o_custkey", "segment", "day")
        .withColumn("gap", F.col("day") - F.lag("day").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return gaps.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.expr("CAST(floor(percentile(gap, 0.5D)) AS BIGINT)").alias(
            "p50_gap_days"
        ),
        F.expr("CAST(floor(percentile(gap, 0.75D)) AS BIGINT)").alias(
            "p75_gap_days"
        ),
        F.max("gap").cast("bigint").alias("max_gap_days"),
    )


# --------------------------------------------------------------------
# Vocabulary coverage ladder (top-k token-mass coverage)
# --------------------------------------------------------------------

VCL_KS = (10, 50, 100, 500)


def _vocab_coverage_oracle() -> str:
    ks = ", ".join(str(k) for k in VCL_KS)
    return f"""
    WITH w AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        AS word
      FROM documents
    ), cnt AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk
      FROM cnt
    )
    SELECT CAST(l.k AS BIGINT) AS k,
           CAST(sum(CASE WHEN rk <= l.k THEN n ELSE 0 END) AS BIGINT)
             AS top_mass,
           CAST(sum(CASE WHEN rk <= l.k THEN n ELSE 0 END) * 1000000
                // (SELECT greatest(t, 1) FROM tot) AS BIGINT)
             AS coverage_micro
    FROM ranked CROSS JOIN (SELECT unnest([{ks}]) AS k) l
    GROUP BY 1
    """


@register(
    "docs_vocab_coverage_ladder",
    oracle=_vocab_coverage_oracle(),
    tags=("llm", "textstats", "tokenizer"),
)
def docs_vocab_coverage_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary COVERAGE ladder: for k in {VCL_KS}, the token mass
    and micro share of the corpus covered by the top-k word types —
    the vocabulary-size sizing table a tokenizer budget reads
    (Zipf-head mass: how big must the vocab be before OOV mass is
    negligible). Complements the registered rank-frequency Zipf
    report (which shows the head SHAPE; this shows cumulative mass).

    Exactness: the shared single-space-split + empty-token-exclusion
    convention; ranking by (count desc, word asc) is UNIQUE (word is
    the key), so top-k sets are identical in both engines; micro
    share by guarded integer DIV.

    Scale (100 TB): one explode into a word-key count (map-side
    combine); the top-max(k) head is selected by
    TakeOrderedAndProject on the Zipf-compressed vocabulary (no
    global sort of the corpus), rank derives from the triangular
    idiom on that CONSTANT-size frame, and the ladder is a broadcast
    literal fanout. The total is a one-row broadcast."""
    kmax = max(VCL_KS)
    cnt = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.expr("filter(split(text, ' '), x -> x <> '')")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = cnt.agg(
        F.greatest(F.sum("n"), F.lit(1)).cast("bigint").alias("t")
    )
    top = (
        cnt.orderBy(F.desc("n"), F.asc("word"))
        .limit(kmax)
        .localCheckpoint(eager=True)
    )
    lo = top.select(F.col("n").alias("o_n"), F.col("word").alias("o_w"))
    ranked = (
        top.join(
            F.broadcast(lo),
            (F.col("o_n") > F.col("n"))
            | ((F.col("o_n") == F.col("n")) & (F.col("o_w") <= F.col("word"))),
        )
        .groupBy("word", "n")
        .agg(F.count(F.lit(1)).alias("rk"))
    )
    ladder = local_frame(spark, [(k,) for k in VCL_KS], "k long")
    return (
        ranked.crossJoin(F.broadcast(ladder))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("top_mass")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "top_mass",
            F.expr("top_mass * 1000000 DIV t")
            .cast("bigint")
            .alias("coverage_micro"),
        )
    )


# --------------------------------------------------------------------
# Temperature-mixture ladder (the alpha design table)
# --------------------------------------------------------------------

TML_ALPHAS = (0.2, 0.3, 0.5, 0.7, 1.0)


def _temperature_ladder_oracle() -> str:
    alphas = ", ".join(str(a) for a in TML_ALPHAS)
    return f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM per_lang
    ), ladder AS (
      SELECT unnest([{alphas}]) AS alpha
    ), scored AS (
      SELECT l.alpha, p.lang, p.n_tokens,
             pow(p.n_tokens / t.total, l.alpha) AS w
      FROM per_lang p CROSS JOIN ladder l CROSS JOIN tot t
    ), z AS (
      SELECT alpha, sum(w) AS z FROM scored GROUP BY 1
    ), q AS (
      SELECT s.alpha, s.lang, s.n_tokens, s.w / z.z AS q
      FROM scored s JOIN z ON z.alpha = s.alpha
    ), eff AS (
      SELECT alpha, 1.0 / sum(q * q) AS eff_langs FROM q GROUP BY 1
    )
    SELECT q.alpha, q.lang, q.n_tokens,
           round(q.q, 6) AS temp_frac,
           round(q.q / (q.n_tokens / (SELECT total FROM tot)), 6)
             AS sample_weight,
           round(e.eff_langs, 6) AS effective_langs
    FROM q JOIN eff e ON e.alpha = q.alpha
    """


@register(
    "docs_lang_temperature_ladder",
    oracle=_temperature_ladder_oracle(),
    tags=("llm", "selection", "sampling", "report"),
)
def docs_lang_temperature_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-mixture DESIGN TABLE: the temperature rebalance
    rule (q_l ∝ p_l^α — the multilingual-sampling convention, cf. the
    staged DoReMi/water-fill mixture family) swept over α ∈
    {TML_ALPHAS} —
    per (α, lang): the temperature share, the per-token sample
    weight, and the mixture's EFFECTIVE language count (1/Σq², the
    participation-ratio diversity index; α=1 reproduces the natural
    mix, α→0 approaches uniform = |langs|). This is the table a
    multilingual data recipe reads to PICK α.

    Exactness: double pow/÷ rounded at 6 dp; the normalizer sums
    |langs| ≈ 5 doubles whose order sensitivity (~1e-16 relative)
    sits far below the rounding grain. Token counts follow the
    slate's shared convention (single-space split, EMPTY TOKENS
    EXCLUDED — the `w <> ''` rule `docs_vocab_coverage_ladder` and
    `corpus_filter_ablation_lattice` use), applied identically on
    both engines.

    Scale (100 TB): ONE corpus scan to per-lang token totals;
    everything after runs on the |langs|×|alphas| metadata domain
    (broadcast one-row total, per-alpha normalizers from a ≤25-row
    frame)."""
    d = load(spark, sf_dir, "documents")
    per_lang = (
        d.groupBy("lang")
        .agg(
            F.sum(
                F.size(F.expr("filter(split(text, ' '), x -> x <> '')"))
            )
            .cast("bigint")
            .alias("n_tokens")
        )
        .localCheckpoint(eager=True)
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("double").alias("total"))
    ladder = local_frame(spark, [(a,) for a in TML_ALPHAS], "alpha double")
    scored = (
        per_lang.crossJoin(F.broadcast(ladder))
        .crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("n_tokens") / F.col("total"))
        .withColumn("w", F.pow("p", F.col("alpha")))
    )
    z = scored.groupBy("alpha").agg(F.sum("w").alias("z"))
    q = scored.join(F.broadcast(z), "alpha").withColumn(
        "q", F.col("w") / F.col("z")
    )
    eff = q.groupBy("alpha").agg(
        (F.lit(1.0) / F.sum(F.col("q") * F.col("q"))).alias("eff_langs")
    )
    return q.join(F.broadcast(eff), "alpha").select(
        "alpha",
        "lang",
        "n_tokens",
        F.round("q", 6).alias("temp_frac"),
        F.round(F.col("q") / F.col("p"), 6).alias("sample_weight"),
        F.round("eff_langs", 6).alias("effective_langs"),
    )


# --------------------------------------------------------------------
# Cohort repeat-purchase rate (orders-based acquisition cohorts)
# --------------------------------------------------------------------

CRR_WINDOW_DAYS = 90


def _cohort_repeat_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), per_cust AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             min(day) AS first_day,
             CAST(sum(CASE WHEN day = (SELECT min(day) FROM o i
                                       WHERE i.o_custkey = o.o_custkey)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_at_first,
             min(CASE WHEN day > (SELECT min(day) FROM o i
                                  WHERE i.o_custkey = o.o_custkey)
                 THEN day END) AS next_day
      FROM o GROUP BY o_custkey
    ), labeled AS (
      SELECT CAST(date_trunc('month', DATE '1970-01-01'
                   + to_days(CAST(first_day AS INT))) AS DATE)
               AS cohort_month,
             n_orders >= 2 AS repeated,
             CASE WHEN n_at_first >= 2 THEN first_day ELSE next_day END
               AS second_day,
             first_day
      FROM per_cust
    )
    SELECT cohort_month,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN repeated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(sum(CASE WHEN repeated AND second_day - first_day
                         <= {CRR_WINDOW_DAYS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat_{CRR_WINDOW_DAYS}d,
           CAST(sum(CASE WHEN repeated THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS repeat_rate_micro
    FROM labeled GROUP BY 1
    """


@register(
    "customer_cohort_repeat_rate",
    oracle=_cohort_repeat_oracle(),
    tags=("warehouse", "analytics", "cohorts"),
)
def customer_cohort_repeat_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Acquisition-cohort REPEAT-PURCHASE rates: customers grouped by
    first-order month, reporting how many ever ordered again and how
    many did so within {CRR_WINDOW_DAYS} days of their first order —
    the orders-side retention table (the registered events-side
    retention cohorts track LOGINS; a revenue review reads this one).
    Second-order day is defined exactly: if two orders share the
    first day, the repeat interval is 0; otherwise the earliest
    strictly-later order day.

    Exactness: integer day arithmetic; per-customer facts come from
    a min/count aggregate plus one conditional aggregate over the
    min joined back (nested aggregates are illegal in both engines;
    the oracle spells the same quantities with correlated mins);
    micro rate by integer DIV.

    Scale (100 TB): two customer-keyed hash aggregates and one join,
    ALL partitioned by the same custkey hash (the exchange is reused,
    not repaid), then a calendar-bounded cohort aggregate. No
    windows."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .alias("day"),
    )
    firsts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("day").alias("first_day"),
    )
    # second pass keyed by the SAME custkey hash (exchange reuse): how
    # many orders share the first day, and the earliest strictly-later
    # day — nested aggregates (min inside sum) are illegal in both
    # engines, so the oracle uses correlated mins and Spark joins the
    # per-customer min back before one conditional aggregate.
    per_cust = (
        o.join(firsts, "o_custkey")
        .groupBy("o_custkey", "n_orders", "first_day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_at_first"),
            F.min(
                F.when(F.col("day") > F.col("first_day"), F.col("day"))
            ).alias("next_day"),
        )
    )
    labeled = per_cust.select(
        F.trunc(
            F.expr("date_add(DATE '1970-01-01', CAST(first_day AS INT))"),
            "month",
        ).alias("cohort_month"),
        (F.col("n_orders") >= 2).alias("repeated"),
        F.when(F.col("n_at_first") >= 2, F.col("first_day"))
        .otherwise(F.col("next_day"))
        .alias("second_day"),
        "first_day",
    )
    w = CRR_WINDOW_DAYS
    return labeled.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("repeated").cast("int"))
        .cast("bigint")
        .alias("n_repeat"),
        F.sum(
            (
                F.col("repeated")
                & (F.col("second_day") - F.col("first_day") <= w)
            ).cast("int")
        )
        .cast("bigint")
        .alias(f"n_repeat_{w}d"),
        F.expr("CAST(sum(CASE WHEN repeated THEN 1 ELSE 0 END) * 1000000"
               " DIV count(*) AS BIGINT)").alias("repeat_rate_micro"),
    )


docs_lang_temperature_ladder.__doc__ = (
    docs_lang_temperature_ladder.__doc__.replace(
        "{TML_ALPHAS}", str(TML_ALPHAS)
    )
)
customer_cohort_repeat_rate.__doc__ = (
    customer_cohort_repeat_rate.__doc__.replace(
        "{CRR_WINDOW_DAYS}", str(CRR_WINDOW_DAYS)
    )
)


# --------------------------------------------------------------------
# IQR-trimmed robust stats per event type (robust monitoring family)
# --------------------------------------------------------------------


def _trimmed_stats_oracle() -> str:
    return """
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), bounds AS (
      SELECT event_type,
             CAST(floor(quantile_cont(cents, 0.25)) AS BIGINT) AS p25,
             CAST(floor(quantile_cont(cents, 0.75)) AS BIGINT) AS p75,
             CAST(count(*) AS BIGINT) AS n_all
      FROM v GROUP BY 1
    ), trimmed AS (
      SELECT v.event_type, b.p25, b.p75, b.n_all,
             CAST(count(*) AS BIGINT) AS n_trim,
             CAST(sum(v.cents) AS BIGINT) AS sum_trim
      FROM v JOIN bounds b USING (event_type)
      WHERE v.cents BETWEEN b.p25 AND b.p75
      GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, n_all, p25 AS p25_cents, p75 AS p75_cents,
           n_trim,
           CAST(sum_trim * 1000000 // greatest(n_trim, 1) AS BIGINT)
             AS trimmed_mean_cents_micro
    FROM trimmed
    """


@register(
    "events_value_iqr_trimmed_stats",
    oracle=_trimmed_stats_oracle(),
    tags=("events", "analytics", "robust"),
)
def events_value_iqr_trimmed_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IQR-TRIMMED robust value stats per event type: values convert
    EXACTLY to integer cents (the column is 2-dp money; round(x*100)
    lands within 1e-9 of an integer on both engines, never at a half
    boundary), the interquartile bounds come from the exact dyadic
    percentile convention (0.25/0.75, floored before the cast — the
    gap-percentile rule), and the trimmed mean averages only values
    inside [p25, p75] — the robust central-tendency monitor that a
    mean-shift alert should read instead of the raw mean (one whale
    purchase cannot move it). Complements the registered MAD-outlier
    query (which flags tails; this summarizes the core).

    Exactness: integer cents end to end; the two interpolated
    percentiles are exact dyadic rationals floored identically; the
    trimmed mean is an integer micro DIV with a greatest(,1) guard.

    Scale (100 TB): one scan to per-type exact-percentile aggregates
    (groups = the fixed type vocabulary; the percentile buffers one
    integer column per group), one broadcast join of the ≤|types|-row
    bounds frame back, one conditional aggregate. No windows."""
    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    bounds = v.groupBy("event_type").agg(
        F.expr("CAST(floor(percentile(cents, 0.25D)) AS BIGINT)").alias(
            "p25"
        ),
        F.expr("CAST(floor(percentile(cents, 0.75D)) AS BIGINT)").alias(
            "p75"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
    )
    return (
        v.join(F.broadcast(bounds), "event_type")
        .filter(F.col("cents").between(F.col("p25"), F.col("p75")))
        .groupBy("event_type", "p25", "p75", "n_all")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trim"),
            F.sum("cents").cast("bigint").alias("sum_trim"),
        )
        .select(
            "event_type",
            "n_all",
            F.col("p25").alias("p25_cents"),
            F.col("p75").alias("p75_cents"),
            "n_trim",
            F.expr(
                "CAST(sum_trim * 1000000 DIV greatest(n_trim, 1)"
                " AS BIGINT)"
            ).alias("trimmed_mean_cents_micro"),
        )
    )


# --------------------------------------------------------------------
# Source × language association strength (chi-square / Cramér's V)
# --------------------------------------------------------------------


def _source_lang_assoc_oracle() -> str:
    return """
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT CAST(sum(o) AS DOUBLE) AS n,
             CAST(count(DISTINCT source) AS BIGINT) AS r,
             CAST(count(DISTINCT lang) AS BIGINT) AS k
      FROM c
    ), rt AS (
      SELECT source, CAST(sum(o) AS DOUBLE) AS rsum FROM c GROUP BY 1
    ), ct AS (
      SELECT lang, CAST(sum(o) AS DOUBLE) AS csum FROM c GROUP BY 1
    ), spine AS (
      SELECT r.source, l.lang, r.rsum, l.csum
      FROM rt r CROSS JOIN ct l
    ), chi AS (
      SELECT sum(pow(COALESCE(c.o, 0) - s.rsum * s.csum / (SELECT n FROM m), 2)
                 / (s.rsum * s.csum / (SELECT n FROM m))) AS chi2
      FROM spine s
      LEFT JOIN c ON c.source = s.source AND c.lang = s.lang
    )
    SELECT CAST(m.n AS BIGINT) AS n_docs,
           CAST((m.r - 1) * (m.k - 1) AS BIGINT) AS dof,
           round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (m.n * least(m.r - 1, m.k - 1))), 6)
             AS cramers_v
    FROM chi CROSS JOIN m
    """


@register(
    "docs_source_lang_association",
    oracle=_source_lang_assoc_oracle(),
    tags=("llm", "quality", "drift", "contract"),
)
def docs_source_lang_association(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source × language ASSOCIATION strength: Pearson chi-square over
    the dense source×lang contingency (zero cells included — the
    TVD-drift empty-cell rule) and Cramér's V (the [0,1]-normalized
    effect size). V ≈ 0 means languages are mixed uniformly across
    sources; V → 1 means sources are language-silos — the mixture
    designer's independence check before stratifying by either axis
    alone (a siloed corpus makes source weights double as hidden
    language weights).

    Exactness: the contingency is exact integers; chi-square and V
    are double arithmetic rounded at 6 dp over a ≤|sources|·|langs|
    (~100-cell) metadata frame — the registered filter-agreement /
    temperature-mixture precedent (summation-order sensitivity
    ~1e-16, far below the rounding grain).

    Scale (100 TB): one scan to the (source, lang) hash aggregate;
    everything after runs on the vocabulary-bounded contingency
    domain (marginals, dense spine, one-row moments — all broadcast
    metadata)."""
    c = load(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    m = c.agg(
        F.sum("o").cast("double").alias("n"),
        F.countDistinct("source").cast("bigint").alias("r"),
        F.countDistinct("lang").cast("bigint").alias("k"),
    )
    rt = c.groupBy("source").agg(F.sum("o").cast("double").alias("rsum"))
    ct = c.groupBy("lang").agg(F.sum("o").cast("double").alias("csum"))
    spine = rt.crossJoin(F.broadcast(ct))
    chi = (
        spine.join(c, ["source", "lang"], "left")
        .crossJoin(F.broadcast(m))
        .select(
            (
                F.pow(
                    F.coalesce("o", F.lit(0))
                    - F.col("rsum") * F.col("csum") / F.col("n"),
                    F.lit(2),
                )
                / (F.col("rsum") * F.col("csum") / F.col("n"))
            ).alias("cell")
        )
        .agg(F.sum("cell").alias("chi2"))
    )
    return chi.crossJoin(F.broadcast(m)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        ((F.col("r") - 1) * (F.col("k") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------
# Quantization precision sweep (how many bits does the index need)
# --------------------------------------------------------------------

QUANT_LEVELS = (10, 100, 1000, 10000)  # e1 .. e4 fixed-point scales


def _quant_sweep_oracle() -> str:
    levels = ", ".join(str(s) for s in QUANT_LEVELS)
    return f"""
    WITH x AS (
      SELECT CAST(round(CAST(xv AS DOUBLE) * 10000.0, 0) AS BIGINT) AS q4
      FROM (SELECT unnest(embedding) AS xv FROM embeddings)
    ), lv AS (
      SELECT unnest([{levels}]) AS scale_
    ), err AS (
      SELECT lv.scale_,
             abs(x.q4 * lv.scale_ - CAST(round(CAST(x.q4 AS DOUBLE)
                                               * lv.scale_ / 10000.0, 0)
                                         AS BIGINT) * 10000) AS e_e4s
      FROM x CROSS JOIN lv
    )
    SELECT scale_ AS quant_scale,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(CASE WHEN e_e4s = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(max(e_e4s) AS BIGINT) AS max_abs_err_e4s,
           CAST(sum(e_e4s) AS BIGINT) AS sum_abs_err_e4s
    FROM err GROUP BY scale_
    """


@register(
    "embeddings_quantization_sweep",
    oracle=_quant_sweep_oracle(),
    tags=("llm", "embedding", "quantization", "report"),
)
def embeddings_quantization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization precision sweep: for each fixed-point scale
    (e1…e4), the exact-representation count and the absolute
    reconstruction-error mass of quantizing every embedding
    coordinate — the how-many-bits-does-the-index-need table read
    before choosing int8 vs fp16 vs PQ for a 100 TB vector store
    (when e2 already represents 99% of coordinates exactly, shipping
    e4 wastes half the index bytes).

    Exactness: coordinates first quantize to the canonical e4 integers
    (the repo-wide exact grid); each coarser level re-quantizes THOSE
    integers, so errors are exact integer differences in e4·scale
    units — no float comparison anywhere. The inner round is
    round-half-away on an exact ratio — the proven micro-quantize
    pattern, identical cross-engine.

    Scale (100 TB): one scan exploded to coordinates, a constant
    4-way level fan-out, and a 4-group hash aggregate with map-side
    combine — shuffle is 4 rows per partition."""
    e = load(spark, sf_dir, "embeddings")
    q4 = e.select(
        F.explode("embedding").alias("xv")
    ).select(
        F.round(F.col("xv").cast("double") * 10000.0, 0).cast("bigint").alias("q4")
    )
    lv = F.array(*[F.lit(s) for s in QUANT_LEVELS])
    err = q4.select(
        "q4", F.explode(lv).alias("scale_")
    ).select(
        "scale_",
        F.abs(
            F.col("q4") * F.col("scale_")
            - F.round(
                F.col("q4").cast("double") * F.col("scale_") / 10000.0, 0
            ).cast("bigint")
            * 10000
        ).alias("e_e4s"),
    )
    return err.groupBy(F.col("scale_").alias("quant_scale")).agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.when(F.col("e_e4s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.max("e_e4s").alias("max_abs_err_e4s"),
        F.sum("e_e4s").alias("sum_abs_err_e4s"),
    )
