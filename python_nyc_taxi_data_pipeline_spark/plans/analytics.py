"""Extended analytic operators beyond the reference's surface.

SURVEY §2 marks these "absent in reference / available built-in":
set ops (§2.7), rollup/cube/grouping-sets and distinct aggs (§2.4),
lag/lead window analytics (§2.5), range and as-of joins (§2.3). Each is
implemented Spark-first with a DuckDB oracle so the coverage is
verified, not just claimed.

Scale notes inline per query; the common theme: as-of joins avoid the
per-row correlated subquery by the union+window trick (one shuffle on
the entity key), and range joins keep an equi component so Catalyst
plans a hash join with a range residual instead of a nested loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, local_frame, register_views
from ..registry import register


@register(
    "set_except_churned",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
    tags=("setop",),
)
def set_except_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers active in 1996 but not 1997."""
    o = load(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    # subtract = EXCEPT DISTINCT (set semantics; exceptAll would keep
    # surplus duplicate occurrences — bag semantics, not SQL EXCEPT)
    return y96.subtract(y97)


@register(
    "set_intersect_retained",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
    tags=("setop",),
)
def set_intersect_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers active in both 1996 and 1997."""
    o = load(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    return y96.intersect(y97)


@register(
    "rollup_order_counts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
           count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (order_year, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (year, priority) → (year) → grand total. One
    shuffle; Spark expands grouping sets map-side."""
    o = load(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("order_year", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping-set combinations of (status, priority)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "grouping_sets_sql",
    oracle="""
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (order_year))
    """,
    tags=("agg", "sql"),
)
def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql entry point (the
    engine's second query surface, X4)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS order_year,
               count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (CAST(year(o_orderdate) AS INT)))
        """
    )


@register(
    "agg_distinct_exact",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "distinct"),
)
def agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT key) per group — Spark plans a two-phase expand +
    partial dedup, no driver involvement."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS hll_within_10pct
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct with a *checkable* contract:
    the sketch value itself is engine-specific, so the query returns the
    exact count plus a boolean asserting the HLL estimate landed within
    10% (rsd=0.02 → 10% is a >4-sigma bound, deterministic for a fixed
    input). The DuckDB oracle computes the same exact count and expects
    TRUE — an out-of-bound sketch now fails the driver hash check."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        )
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                <= F.greatest(F.lit(2.0), F.col("exact_customers") * 0.10)
            ).alias("hll_within_10pct"),
        )
    )


@register(
    "full_outer_reconciliation",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'order_without_customer'
                WHEN o.o_custkey IS NULL THEN 'customer_without_order'
                ELSE 'matched' END AS reconciliation,
           count(*) AS n_rows
    FROM customer c
    FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
      ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
    tags=("join", "outer"),
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — two-sided reconciliation (which customers never
    ordered; which orders reference no customer)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    recon = (
        F.when(F.col("c_custkey").isNull(), "order_without_customer")
        .when(F.col("o_custkey").isNull(), "customer_without_order")
        .otherwise("matched")
    )
    return (
        j.select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            recon.alias("reconciliation"),
        )
        .groupBy("custkey", "reconciliation")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order status as columns per priority. Values enumerated
    explicitly (at scale an unenumerated pivot means a driver-side
    distinct pass first — always list the values)."""
    o = load(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@register(
    "unpivot_money_columns",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'extendedprice' AS component,
           l_extendedprice AS amount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
    tags=("unpivot",),
)
def unpivot_money_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) via ``stack`` — wide money columns to long form;
    zero shuffles, purely generative projection."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) AS (component, amount)"
        ),
    )


SAMPLE_FRACTIONS = {"en": 0.25, "es": 0.8, "de": 0.8, "fr": 0.8, "zh": 0.8}


def stratified_sample_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw seeded ``sampleBy`` — deterministic for a fixed input but
    engine-specific RNG, so not driver-comparable; the registered query
    wraps it in a binomial bound check."""
    d = load(spark, sf_dir, "documents")
    return d.sampleBy("lang", SAMPLE_FRACTIONS, seed=42)


@register(
    "stratified_sample_docs",
    oracle="""
    SELECT d.lang,
           CAST(f.target_frac AS DOUBLE) AS target_frac,
           TRUE AS within_bounds
    FROM (SELECT DISTINCT lang FROM documents) d
    JOIN (VALUES ('en', 0.25), ('es', 0.8), ('de', 0.8),
                 ('fr', 0.8), ('zh', 0.8)) AS f(lang, target_frac)
      USING (lang)
    """,
    tags=("llm", "sampling"),
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by language (class rebalancing for training
    mixes) with a *checkable* contract: ``sampleBy`` uses engine-specific
    RNG, so instead of returning the sample rows the query returns, per
    stratum, whether the realized sample proportion landed within a
    4-sigma binomial bound of the target fraction. The DuckDB oracle
    lists each (stratum, target) and expects TRUE — a broken sampler now
    fails the driver hash check. (The raw sample rows stay covered by
    the pytest proportion/subset tests via ``stratified_sample_raw``.)"""
    d = load(spark, sf_dir, "documents")
    fractions = SAMPLE_FRACTIONS
    sampled = stratified_sample_raw(spark, sf_dir)
    frac_df = local_frame(
        spark,
        [(k, float(v)) for k, v in fractions.items()],
        "lang string, target_frac double",
    )
    totals = d.groupBy("lang").agg(F.count("*").alias("n_total"))
    samp = sampled.groupBy("lang").agg(F.count("*").alias("n_sampled"))
    # 4-sigma Bernoulli bound + 1/n slack for integer rounding.
    tol = 4 * F.sqrt(
        F.col("target_frac") * (1 - F.col("target_frac")) / F.col("n_total")
    ) + 1 / F.col("n_total")
    return (
        totals.join(F.broadcast(frac_df), "lang")
        .join(samp, "lang", "left")
        .select(
            "lang",
            "target_frac",
            (
                F.abs(
                    F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total")
                    - F.col("target_frac")
                )
                <= tol
            ).alias("within_bounds"),
        )
    )


@register(
    "validate_events",
    oracle="""
    SELECT event_id,
           coalesce(array_to_string(list_filter([
             CASE WHEN NOT (value BETWEEN 0 AND 500) THEN 'value_range' END,
             CASE WHEN NOT (event_type IN ('click','view','signup','purchase'))
                  THEN 'known_type' END,
             CASE WHEN user_id IS NULL THEN 'user_nonnull' END
           ], x -> x IS NOT NULL), ','), '') AS violations
    FROM events
    """,
    tags=("validation",),
)
def validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality tagging (generalized dead-letter routing):
    every rule evaluates in one codegen'd pass. The violations array is
    serialized with ``array_join`` so the result is hashable by the
    driver's canonicalizer (round-1 fail: raw array<string> is
    unhashable in the sorted-pandas compare)."""
    from ..operators.validate import in_range, in_set, not_null, with_violations

    e = load(spark, sf_dir, "events")
    rules = {
        "value_range": in_range("value", 0, 500),
        "known_type": in_set("event_type", ["click", "view", "signup", "purchase"]),
        "user_nonnull": not_null("user_id"),
    }
    return with_violations(e, rules).select(
        "event_id", F.array_join("violations", ",").alias("violations")
    )


@register(
    "percentile_order_value",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile"),
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (verified bit-identical to DuckDB's
    quantile_cont). Spark's exact percentile sorts per group in the
    aggregation buffer — for 100 TB hot paths switch to
    approx_percentile (t-digest) and accept the sketch error."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )


@register(
    "union_all_activity",
    oracle="""
    SELECT o_custkey AS custkey, 'order' AS kind, o_orderdate AS ts FROM orders
    UNION ALL
    SELECT c_custkey AS custkey, 'signup' AS kind,
           TIMESTAMP '1994-01-01 00:00:00' AS ts
    FROM customer
    """,
    tags=("setop", "union"),
)
def union_all_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag): a unified activity feed from two sources —
    no shuffle at all, partitions concatenate."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.lit("order").alias("kind"),
        F.col("o_orderdate").alias("ts"),
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.lit("signup").alias("kind"),
        F.lit("1994-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
    )
    return o.unionByName(c)


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           lag(o_orderdate) OVER w AS prev_order_ts,
           lead(o_orderdate) OVER w AS next_order_ts,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INT)
             AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "analytic"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD order history per customer (deterministic tie-break on
    the key). One shuffle on o_custkey."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        prev.alias("prev_order_ts"),
        F.lead("o_orderdate").over(w).alias("next_order_ts"),
        F.timestamp_diff("DAY", prev, F.col("o_orderdate"))
        .cast("int")
        .alias("days_since_prev"),
    )


@register(
    "asof_last_click",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts <= e.ts) AS last_click_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
    tags=("join", "asof"),
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (backward): for each error event, the most recent
    click of the same user at or before it.

    Spark lacks a native as-of join; the scalable composition is
    union-the-streams + last(ignorenulls) over an ordered window — ONE
    shuffle on user_id, no correlated per-row lookup, no range
    explosion. (The oracle uses the correlated-subquery formulation,
    which is fine for DuckDB at fixture scale.)
    """
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("kind"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind")
    )
    merged = clicks.unionByName(errors)
    # clicks sort before errors at equal ts → c.ts <= e.ts semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.last(
        F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        merged.withColumn("last_click_ts", last_click)
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "range_join_5min_pairs",
    oracle="""
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
    tags=("join", "range"),
)
def range_join_5min_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE join: ordered event pairs of the same user within 5
    minutes. The user_id equi-conjunct makes this a hash join with a
    range residual — never a nested-loop cross product."""
    e = load(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")),
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


APPROX_PCT_ACCURACY = 1000  # rank error ≤ n / accuracy (Greenwald-Khanna)
APPROX_QUANTILES = (0.25, 0.5, 0.75)


@register(
    "percentile_approx_contract",
    oracle=f"""
    SELECT q.q,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS rank_within_bound,
           TRUE AS value_is_element
    FROM orders
    CROSS JOIN (SELECT unnest(ARRAY{list(APPROX_QUANTILES)}) AS q) q
    GROUP BY q.q
    """,
    tags=("agg", "approx", "percentile"),
)
def percentile_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-percentile sketch with a *checkable* contract (the
    ``agg_approx_distinct`` pattern): ``approx_percentile``'s value is
    engine-specific, so the query verifies the sketch's two defining
    guarantees on data the oracle recomputes — each estimate's rank
    satisfies the DUPLICATE-SAFE Greenwald-Khanna interval
    (count(< est) ≤ qn + n/acc and count(≤ est) ≥ qn − n/acc; a
    one-sided |count(≤ est) − qn| check breaks under heavy ties at the
    boundary even for correct estimates), and each estimate is an
    ACTUAL element of the column (GK returns observed values, not
    interpolations). A broken sketch flips a boolean and fails the
    driver hash.

    Scale: one sketch aggregation (mergeable partials — no sort, no
    global shuffle of values) + one conditional-count pass to measure
    the ranks; both all-JVM."""
    o = load(spark, sf_dir, "orders").select("o_totalprice")
    qs = list(APPROX_QUANTILES)
    ap = o.agg(
        F.percentile_approx(
            "o_totalprice", qs, APPROX_PCT_ACCURACY
        ).alias("ap")
    )
    # One pass over orders, cross-joined with the 1-row sketch result:
    # per quantile, the estimate's rank (# values ≤ estimate), whether
    # the estimate is an observed element, and the total count.
    checks = o.crossJoin(F.broadcast(ap)).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(F.col("o_totalprice") < F.element_at("ap", i + 1), 1)
                .otherwise(0)
            ).alias(f"rank_lt_{i}")
            for i in range(len(qs))
        ],
        *[
            F.sum(
                F.when(F.col("o_totalprice") <= F.element_at("ap", i + 1), 1)
                .otherwise(0)
            ).alias(f"rank_le_{i}")
            for i in range(len(qs))
        ],
        *[
            F.max(
                F.when(
                    F.col("o_totalprice") == F.element_at("ap", i + 1), 1
                ).otherwise(0)
            ).alias(f"seen_{i}")
            for i in range(len(qs))
        ],
    )
    # Duplicate-safe GK interval: with heavy ties at a quantile
    # boundary, count(<= estimate) can exceed the target rank by far
    # more than n/accuracy even for a CORRECT estimate (every duplicate
    # of the answer inflates it), so the one-sided |rank_le - qn| form
    # is wrong. The guarantee that actually holds for an observed-value
    # sketch is the interval: count(< est) ≤ qn + n/acc (the estimate
    # isn't too high) AND count(≤ est) ≥ qn − n/acc (nor too low).
    per_q = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                (
                    (
                        F.col(f"rank_lt_{i}")
                        <= F.lit(q) * F.col("n")
                        + F.col("n") / APPROX_PCT_ACCURACY
                        + 1
                    )
                    & (
                        F.col(f"rank_le_{i}")
                        >= F.lit(q) * F.col("n")
                        - F.col("n") / APPROX_PCT_ACCURACY
                        - 1
                    )
                ).alias("rank_within_bound"),
                (F.col(f"seen_{i}") == 1).alias("value_is_element"),
            )
            for i, q in enumerate(qs)
        ]
    )
    return (
        checks.select(F.col("n").alias("n_rows"), F.explode(per_q).alias("s"))
        .select(
            F.col("s.q").alias("q"),
            "n_rows",
            F.col("s.rank_within_bound").alias("rank_within_bound"),
            F.col("s.value_is_element").alias("value_is_element"),
        )
    )


CMS_WIDTH = 1024  # buckets per hash row
CMS_DEPTH = 3  # independent hash rows
CMS_SEEDS = (17, 89, 211)


@register(
    "cms_event_type_counts",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS exact_count,
           TRUE AS cms_ge_exact,
           TRUE AS cms_within_bound
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "approx", "sketch"),
)
def cms_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries with a *checkable* contract (the
    ``agg_approx_distinct`` pattern): build a width-1024 × depth-3 CMS
    over ``event_type`` entirely as DataFrame ops — explode each event
    into its 3 (row, bucket) cells, aggregate cell counts (ONE shuffle
    on a 2-int key, map-side combined), then answer point queries for
    every distinct key via min-over-rows. The sketch value is
    construction-specific, so the query emits the exact count plus the
    CMS's two defining guarantees, which the oracle recomputes: the
    estimate never undercounts (deterministic — min over rows of
    counters that each include every true occurrence), and the
    overcount stays within the classical e·n/width bound (Cormode &
    Muthukrishnan: P[over > e·n/width] ≤ e^-depth ≈ 5% per key at
    depth 3). n/width alone is only the EXPECTED collision mass — a
    single bucket can deterministically absorb more, so asserting it
    as a hard bound against a TRUE-valued oracle would redden on a
    legitimately unlucky fixture; e·n/width is the standard
    high-probability bound and is fixture-calibrated (verified to hold
    with ~2.7× margin at all three SFs).

    Scale: the sketch is width×depth cells (metadata) regardless of
    input size — the textbook mergeable summary for streaming top-k /
    heavy-hitter gates; the cell build is the only corpus pass."""
    e = load(spark, sf_dir, "events").select("event_type")
    rows = e.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            F.xxhash64(F.col("event_type"), F.lit(seed)),
                            F.lit(CMS_WIDTH),
                        ).alias("bucket"),
                    )
                    for i, seed in enumerate(CMS_SEEDS)
                ]
            )
        ).alias("cell"),
    )
    cells = (
        rows.groupBy(F.col("cell.row").alias("r"), F.col("cell.bucket").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Point queries: every distinct key probes its 3 cells; the cells
    # table is metadata-sized → broadcast.
    keys = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    probes = keys.select(
        "event_type",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        F.pmod(
                            F.xxhash64(F.col("event_type"), F.lit(seed)),
                            F.lit(CMS_WIDTH),
                        ).alias("b"),
                    )
                    for i, seed in enumerate(CMS_SEEDS)
                ]
            )
        ).alias("p"),
    ).select("event_type", "exact_count", F.col("p.r").alias("r"), F.col("p.b").alias("b"))
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("event_type", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    total = e.count()  # scalar: n for the error bound
    return est.select(
        "event_type",
        "exact_count",
        (F.col("cms_estimate") >= F.col("exact_count")).alias("cms_ge_exact"),
        (
            F.col("cms_estimate")
            <= F.col("exact_count")
            + F.lit(2.718281828459045) * F.lit(total) / CMS_WIDTH
            + 3
        ).alias("cms_within_bound"),
    )
