"""Tokenizer, association, privacy and calibration queries, each
registered with its DuckDB oracle.

The operators:

- ``docs_bpe_roundtrip_contract``: losslessness audit of the trained
  BPE segmentation — per language: word types/tokens, round-trip
  failures (concat(syms) ≠ word‖EOW — must be ZERO), and the exact
  chars-per-symbol compression in micro units. The tokenizer-QC gate
  run before shipping a vocab.
- ``orders_basket_lift``: market-basket association rules — brand
  pairs co-purchased in one order, with support / confidence / lift
  in exact micro units. The missing classic co-occurrence operator
  family (recs, cross-sell, co-retrieval).
- ``lineitem_ship_latency_histogram``: order→ship latency in integer
  days, weekly-bucketed per return flag — fulfillment cycle-time
  profiling on the co-partitioned orders⋈lineitem join.
- ``orders_seasonality_profile``: (month, day-of-week) order matrix
  with exact micro shares; the weekday index is ENGINE-FREE integer
  arithmetic (days-since-epoch + 3) mod 7, so DOW conventions can
  never diverge between engines.
- ``embeddings_norm_outliers``: embedding-norm QC — e4-exact moment
  sums → mean ± 3σ fences → outlier counts + extrema. The index
  pre-flight that catches un-normalized or degenerate vectors.
- ``customer_l_diversity``: l-diversity ladder on top of the k-anonymity
  QI classes — per (nation, balance-bucket) class: size and the count
  of distinct sensitive values (market segment); rollup by diversity
  level. k-anonymity says classes are big enough; this says they are
  VARIED enough (a k=50 class that is 100% one segment still leaks).
- ``docs_boilerplate_ngram_mass``: per-source boilerplate audit —
  word trigrams occurring in ≥ BOILER_MIN_DOCS docs of one source
  are "template" grams; report each source's gram mass share held by
  templates (the C4-style boilerplate-removal sizing table).
- ``docs_pii_scrub_contract``: PII detect + redact with the planted-
  injection proof pattern (base corpus provably digit/@-free, so all
  matches are plants): per source, every planted email/IPv4 found and
  ZERO residual matches after the scrub — the redaction certificate.
- ``events_error_cusum``: CUSUM level-shift detection on daily error
  counts, computed SORTLESS via the suffix-max identity (the
  sequential recursion becomes a triangular join over the calendar-
  bounded day spine) — all integer micro arithmetic.
- ``embeddings_cosine_calibration``: pairwise-cosine histogram of a
  fixed probe block in 10% bands — where the corpus's similarity
  mass sits, read before choosing ANY cosine threshold (ε, near-dup
  cutoffs, rerank floors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


# --------------------------------------------------------------------
# BPE round-trip (tokenizer losslessness contract)
# --------------------------------------------------------------------


def _bpe_roundtrip_oracle() -> str:
    from .bpe import EOW, _bpe_oracle

    # r6_words is the trained (word → syms) table the registered BPE
    # hash checks already prove; this contract re-consumes it.
    return (
        _bpe_oracle()
        + f"""
    , usage AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), joined AS (
      SELECT u.lang, u.word, v.syms,
             CAST(len(v.syms) AS BIGINT) AS n_syms,
             (array_to_string(v.syms, '') = u.word || '{EOW}') AS ok
      FROM usage u JOIN r6_words v USING (word)
    )
    SELECT lang,
           CAST(count(DISTINCT word) AS BIGINT) AS n_word_types,
           CAST(count(*) AS BIGINT) AS n_word_tokens,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
             AS n_roundtrip_failures,
           CAST(sum(n_syms) AS BIGINT) AS n_symbols,
           CAST(sum(len(word) + 1) * 1000000 // sum(n_syms) AS BIGINT)
             AS chars_per_symbol_micro
    FROM joined GROUP BY lang
    """
    )


@register(
    "docs_bpe_roundtrip_contract",
    oracle=_bpe_roundtrip_oracle(),
    tags=("llm", "tokenizer", "contract"),
)
def docs_bpe_roundtrip_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness + compression report for the trained BPE
    segmentation, per language: word types and tokens, round-trip
    failures (the in-order concatenation of a word's symbols must
    reconstruct word‖EOW exactly — BPE only ever merges adjacent
    symbols, so ANY nonzero count means the trainer corrupted a
    segmentation), total symbol count, and the exact chars-per-symbol
    compression ratio in micro units (the number a tokenizer ship
    decision reads — how much sequence length the merges actually buy
    per language). Composes the registered ``bpe_train`` verbatim on
    both sides.

    Exactness: the round-trip check is pure string equality; counts
    and the micro ratio are integer arithmetic (char mass counts the
    EOW marker on both sides, ``len(word)+1``).

    Scale (100 TB): tokenization stays the vocabulary JOIN (usage
    explodes to word tokens, the segmentation table is vocab-sized);
    ONE (lang)-group hash aggregate with map-side combine after the
    join. No per-doc re-training, no sort."""
    from .bpe import EOW, bpe_train

    _, vocab, _ = bpe_train(spark, sf_dir)
    usage = load(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    joined = usage.join(
        vocab.select(
            "word",
            F.size("syms").cast("bigint").alias("n_syms"),
            (F.concat_ws("", F.col("syms")) == F.concat(F.col("word"), F.lit(EOW))).alias(
                "ok"
            ),
        ),
        "word",
    )
    return joined.groupBy("lang").agg(
        F.countDistinct("word").alias("n_word_types"),
        F.count(F.lit(1)).alias("n_word_tokens"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("bigint").alias(
            "n_roundtrip_failures"
        ),
        F.sum("n_syms").alias("n_symbols"),
        F.expr(
            "(sum(length(word) + 1) * 1000000) DIV sum(n_syms)"
        ).alias("chars_per_symbol_micro"),
    )


# --------------------------------------------------------------------
# Market-basket association rules (brand pairs)
# --------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3  # pair must co-occur in ≥ 3 orders


def _basket_lift_oracle() -> str:
    return f"""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n AS (
      SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items
    ), sup1 AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS s_ab
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT p.brand_a, p.brand_b, p.s_ab,
           sa.s AS s_a, sb.s AS s_b, n.n_orders,
           CAST(p.s_ab * 1000000 // sa.s AS BIGINT) AS confidence_micro,
           CAST(p.s_ab * n.n_orders * 1000000 // (sa.s * sb.s) AS BIGINT)
             AS lift_micro
    FROM pairs p
    JOIN sup1 sa ON sa.brand = p.brand_a
    JOIN sup1 sb ON sb.brand = p.brand_b
    CROSS JOIN n
    """


@register(
    "orders_basket_lift",
    oracle=_basket_lift_oracle(),
    tags=("analytics", "association", "report"),
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for every
    brand pair co-purchased in ≥ {BASKET_MIN_SUPPORT} orders, the
    exact support, per-antecedent confidence, and lift in micro units
    — the co-occurrence operator family (cross-sell, recommendations,
    co-retrieval priors) the engine lacked. lift > 1e6 means the pair
    attracts beyond independence; the canonical Apriori-style output
    computed directly (brand cardinality is small enough that frequent-
    itemset pruning is unnecessary — at larger vocabularies the
    support HAVING is exactly where the Apriori prune inserts).

    Exactness: supports are distinct-pair counts; confidence is
    s_ab·1e6 DIV s_a (floor, positive); lift multiplies BEFORE
    dividing (s_ab·N·1e6 DIV (s_a·s_b)) so both engines floor the
    same exact integer product.

    Scale (100 TB): the basket build is the co-partitioned
    lineitem⋈part join (dim broadcast) + one DISTINCT; the pair emit
    self-joins on the order key, so work is Σ|basket|² — bounded by
    per-order line counts (~7), NEVER corpus-quadratic; supports are
    brand-bounded aggregates. NOTE: not stress-sweepable — the
    key-shift inflater duplicates baskets, inflating SUPPORT itself
    (the triangle-counting caveat class)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = items.agg(F.countDistinct("okey").alias("n_orders"))
    sup1 = items.groupBy("brand").agg(F.count(F.lit(1)).alias("s"))
    a = items.select(F.col("okey"), F.col("brand").alias("brand_a"))
    b = items.select(F.col("okey"), F.col("brand").alias("brand_b"))
    pairs = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= BASKET_MIN_SUPPORT)
    )
    sa = sup1.select(F.col("brand").alias("brand_a"), F.col("s").alias("s_a"))
    sb = sup1.select(F.col("brand").alias("brand_b"), F.col("s").alias("s_b"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "s_ab",
            "s_a",
            "s_b",
            "n_orders",
            F.expr("(s_ab * 1000000) DIV s_a").alias("confidence_micro"),
            F.expr("(s_ab * n_orders * 1000000) DIV (s_a * s_b)").alias(
                "lift_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# Order → ship latency histogram
# --------------------------------------------------------------------

LATENCY_BUCKET_DAYS = 7


def _ship_latency_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT l.l_returnflag,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lat
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT l_returnflag,
           CAST(CASE WHEN lat >= 0 THEN lat // {LATENCY_BUCKET_DAYS}
                     ELSE -((-lat + {LATENCY_BUCKET_DAYS} - 1)
                            // {LATENCY_BUCKET_DAYS}) END AS BIGINT)
             AS week_bucket,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(lat) AS BIGINT) AS min_days,
           CAST(max(lat) AS BIGINT) AS max_days
    FROM j GROUP BY 1, 2
    """


@register(
    "lineitem_ship_latency_histogram",
    oracle=_ship_latency_oracle(),
    tags=("analytics", "report"),
)
def lineitem_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment cycle time: order→ship latency in integer days,
    weekly-bucketed per return flag — the operational latency profile
    (and its negative buckets are the data-quality alarm: a line
    shipped before its order date is corrupt).

    Exactness: latency is a DATE difference (integer days, DST-free);
    weekly buckets floor toward −∞ on BOTH engines via the explicit
    two-branch form (Spark DIV and DuckDB // both truncate toward
    zero — the CASE makes negative latencies bucket identically
    instead of straddling zero).

    Scale (100 TB): one orders⋈lineitem equi-join on the order key
    (the canonical co-partitioned / bucketed TPC-H join — broadcast
    is wrong here, both sides are facts) followed by a
    (flag × weeks)-bounded hash aggregate with map-side combine."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_returnflag", F.datediff("sd", "od").cast("bigint").alias("lat")
    )
    bucket = F.when(
        F.col("lat") >= 0, F.expr(f"lat DIV {LATENCY_BUCKET_DAYS}")
    ).otherwise(
        -F.expr(
            f"(-lat + {LATENCY_BUCKET_DAYS - 1}) DIV {LATENCY_BUCKET_DAYS}"
        )
    )
    return j.groupBy("l_returnflag", bucket.alias("week_bucket")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("lat").alias("min_days"),
        F.max("lat").alias("max_days"),
    )


# --------------------------------------------------------------------
# Seasonality profile (engine-free day-of-week)
# --------------------------------------------------------------------


def _seasonality_oracle() -> str:
    return """
    WITH d AS (
      SELECT month(CAST(o_orderdate AS DATE)) AS month_num,
             (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              + 3) % 7 AS dow_idx
      FROM orders
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM d
    )
    SELECT CAST(month_num AS BIGINT) AS month_num,
           CAST(dow_idx AS BIGINT) AS dow_idx,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) * 1000000 // t.n AS BIGINT) AS share_micro
    FROM d CROSS JOIN tot t
    GROUP BY month_num, dow_idx, t.n
    """


@register(
    "orders_seasonality_profile",
    oracle=_seasonality_oracle(),
    tags=("analytics", "report"),
)
def orders_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order seasonality matrix: (calendar month × day-of-week) counts
    with exact micro shares — the demand-shape table behind staffing
    and capacity models. The weekday index is ENGINE-FREE integer
    arithmetic: (days-since-1970-01-01 + 3) mod 7 with 0 = Monday
    (1970-01-01 was a Thursday) — DOW conventions (Sunday-0 vs
    Monday-1 vs ISO) are the classic cross-engine divergence, and
    this formulation never asks either engine for one. Month
    extraction on DATE is calendar arithmetic, identical by
    definition.

    Scale (100 TB): one scan → a ≤84-group (12×7) hash aggregate with
    map-side combine; the total is a 1-row broadcast."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od")
    )
    d = o.select(
        F.month("od").cast("bigint").alias("month_num"),
        (
            (F.datediff("od", F.to_date(F.lit("1970-01-01"))) + 3) % 7
        )
        .cast("bigint")
        .alias("dow_idx"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("month_num", "dow_idx")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "month_num",
            "dow_idx",
            "n_orders",
            F.expr("(n_orders * 1000000) DIV n").alias("share_micro"),
        )
    )


# --------------------------------------------------------------------
# Embedding norm QC (moment fences, two-scan, zero-collect)
# --------------------------------------------------------------------


def _norm_outliers_oracle() -> str:
    return """
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0)
                                     AS BIGINT)
                                * CAST(round(CAST(x AS DOUBLE) * 10000.0, 0)
                                       AS BIGINT)),
                         (a, b) -> a + b) // 1000000 AS q2
      FROM embeddings
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q2) AS BIGINT) AS m1,
             CAST(sum(q2 * q2) AS BIGINT) AS m2,
             CAST(min(q2) AS BIGINT) AS min_q2,
             CAST(max(q2) AS BIGINT) AS max_q2
      FROM q
    ), f AS (
      SELECT n, m1, m2, min_q2, max_q2,
             round(CAST(m1 AS DOUBLE) / n
                   - 3.0 * sqrt(CAST(m2 AS DOUBLE) / n
                                - (CAST(m1 AS DOUBLE) / n)
                                  * (CAST(m1 AS DOUBLE) / n)), 6) AS lo,
             round(CAST(m1 AS DOUBLE) / n
                   + 3.0 * sqrt(CAST(m2 AS DOUBLE) / n
                                - (CAST(m1 AS DOUBLE) / n)
                                  * (CAST(m1 AS DOUBLE) / n)), 6) AS hi
      FROM m
    )
    SELECT f.n, f.m1 AS sum_normsq_e2, f.min_q2, f.max_q2,
           f.lo AS fence_lo, f.hi AS fence_hi,
           CAST(sum(CASE WHEN q.q2 < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN q.q2 > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
    FROM q CROSS JOIN f
    GROUP BY f.n, f.m1, f.min_q2, f.max_q2, f.lo, f.hi
    """


@register(
    "embeddings_norm_outliers",
    oracle=_norm_outliers_oracle(),
    tags=("llm", "embedding", "quality", "report"),
)
def embeddings_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm QC: squared norms in exact centi units (per-
    element e4 quantization → exact integer sum of squares → DIV to
    e2, all order-free), global moments, mean ± 3σ fences, and the
    outlier counts beyond each fence — the index pre-flight that
    catches un-normalized batches, zero vectors, and scale drift
    before they poison an ANN index or a cosine threshold.

    Exactness: q2 is an exact integer per vector; the fences are ONE
    fixed double expression over exact integer moments (6-dp rounded,
    bit-identical cross-engine — the proven variance pattern); the
    outlier comparisons compare integers against that shared fence.
    q2 ≤ d·|x|²·1e2 ≈ 6e4 at d=64, so q2² sums stay in BIGINT past
    1e9 vectors.

    Scale (100 TB): two scans and nothing else — scan 1 reduces to a
    ONE-ROW moment aggregate (map-side combined), which broadcasts
    back over scan 2 for the conditional counts. No corpus-sized
    checkpoint, no collect, no sort."""
    e = load(spark, sf_dir, "embeddings")
    q2 = F.expr(
        """aggregate(
             transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)),
             CAST(0 AS BIGINT), (acc, v) -> acc + v) DIV 1000000"""
    )
    q = e.select(q2.alias("q2"))
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q2").alias("m1"),
        F.sum(F.col("q2") * F.col("q2")).alias("m2"),
        F.min("q2").alias("min_q2"),
        F.max("q2").alias("max_q2"),
    )
    mean = F.col("m1").cast("double") / F.col("n")
    sd = F.sqrt(
        F.col("m2").cast("double") / F.col("n") - mean * mean
    )
    f = m.select(
        "n",
        "m1",
        "min_q2",
        "max_q2",
        F.round(mean - 3.0 * sd, 6).alias("lo"),
        F.round(mean + 3.0 * sd, 6).alias("hi"),
    )
    return (
        q.crossJoin(F.broadcast(f))
        .groupBy("n", "m1", "min_q2", "max_q2", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("q2") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("q2") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
        )
        .select(
            "n",
            F.col("m1").alias("sum_normsq_e2"),
            "min_q2",
            "max_q2",
            F.col("lo").alias("fence_lo"),
            F.col("hi").alias("fence_hi"),
            "n_below",
            "n_above",
        )
    )


# --------------------------------------------------------------------
# l-diversity ladder (privacy pairing for the k-anonymity classes)
# --------------------------------------------------------------------


def _l_diversity_oracle() -> str:
    return """
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS n_c,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer
      GROUP BY 1, 2
    )
    SELECT l AS diversity_l,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n_c) AS BIGINT) AS n_customers,
           CAST(min(n_c) AS BIGINT) AS min_class_size,
           CAST(max(n_c) AS BIGINT) AS max_class_size
    FROM cls GROUP BY l
    """


@register(
    "customer_l_diversity",
    oracle=_l_diversity_oracle(),
    tags=("analytics", "privacy", "report"),
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity ladder over the SAME quasi-identifier classes the
    registered k-anonymity audit uses (nation × 1000-unit balance
    bucket), with market segment as the sensitive attribute: for each
    observed diversity level l (distinct segments inside a class),
    how many classes sit at that level and how many customers they
    expose. k-anonymity certifies classes are LARGE enough;
    l-diversity certifies they are VARIED enough — a k=50 class that
    is 100% one segment still discloses the segment, and this is the
    table that finds it (Machanavajjhala et al., ICDE'06).

    Exactness: the bucket is the k-anonymity audit's proven
    floor-of-double expression; everything else is integer counts.

    Scale (100 TB): ONE customer-scan hash aggregate to the QI domain
    (distinct-segment state is ≤|segments| per group, map-side
    combined), then a ≤|segments|-group rollup of that ~1.4k-row
    frame."""
    c = load(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_c"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return cls.groupBy(F.col("l").alias("diversity_l")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("n_c").alias("n_customers"),
        F.min("n_c").alias("min_class_size"),
        F.max("n_c").alias("max_class_size"),
    )


# --------------------------------------------------------------------
# Boilerplate n-gram mass (template detection per source)
# --------------------------------------------------------------------

BOILER_MIN_DOCS = 3  # a trigram in ≥ 3 docs of one source is template


def _boilerplate_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(ws) >= 3 THEN
               list_transform(range(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             ELSE [] END) AS g
      FROM toks
    ), df AS (
      SELECT source, g, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_g
      FROM grams GROUP BY 1, 2
    ), boiler AS (
      SELECT source, g FROM df WHERE n_docs_g >= {BOILER_MIN_DOCS}
    ), mass AS (
      SELECT gr.source,
             CAST(count(*) AS BIGINT) AS total_grams,
             CAST(count(b.g) AS BIGINT) AS boiler_grams
      FROM grams gr
      LEFT JOIN boiler b ON b.source = gr.source AND b.g = gr.g
      GROUP BY gr.source
    ), docs_per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT m.source, d.n_docs, m.total_grams, m.boiler_grams,
           CAST(m.boiler_grams * 1000000 // m.total_grams AS BIGINT)
             AS boiler_share_micro
    FROM mass m JOIN docs_per d USING (source)
    """


@register(
    "docs_boilerplate_ngram_mass",
    oracle=_boilerplate_oracle(),
    tags=("llm", "text", "quality", "report"),
)
def docs_boilerplate_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate audit: a word trigram appearing in
    ≥ {BOILER_MIN_DOCS} documents of one source is a template gram
    (navigation chrome, footers, license blurbs — the C4/RefinedWeb
    boilerplate class); the report gives each source's total gram
    mass, the mass held by template grams, and the exact micro share
    — the sizing table that decides whether a source needs
    boilerplate stripping before it inflates dedup clusters and
    drags repetition-quality scores.

    Exactness: trigrams are position-joined word triples (our
    convention in both plans; only MEMBERSHIP and counts ever cross
    engines); the share is floor division of exact counts.

    Scale (100 TB): one explode → (source, gram) document-frequency
    hash aggregate (map-side combined, Zipf head collapses early);
    the template set joins back gram-keyed — the LEFT join's build
    side is the df-filtered template set, vocabulary-bounded, never
    corpus-sized; per-source rollup is |sources|-bounded."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("ws") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("ws", i),
                        F.element_at("ws", i + 1),
                        F.element_at("ws", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    ).localCheckpoint(eager=True)
    df_ = grams.groupBy("source", "g").agg(
        F.countDistinct("doc_id").alias("n_docs_g")
    )
    boiler = df_.filter(F.col("n_docs_g") >= BOILER_MIN_DOCS).select(
        "source", "g", F.lit(1).alias("is_boiler")
    )
    mass = (
        grams.join(boiler, ["source", "g"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("bigint")
            .alias("boiler_grams"),
        )
    )
    docs_per = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        mass.join(F.broadcast(docs_per), "source")
        .select(
            "source",
            "n_docs",
            "total_grams",
            "boiler_grams",
            F.expr("(boiler_grams * 1000000) DIV total_grams").alias(
                "boiler_share_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# PII scrub contract (planted-injection, zero-residual proof)
# --------------------------------------------------------------------

# Bracketed-dot patterns only — no backslash classes, so the Java
# (Spark) and RE2 (DuckDB) dialects read them identically.
PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
PII_IPV4_RE = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"


def _pii_scrub_oracle() -> str:
    return f"""
    WITH planted AS (
      SELECT doc_id, source,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.'
                  || CAST(doc_id % 100 AS VARCHAR) AS t
      FROM documents
    ), scanned AS (
      SELECT doc_id, source, t,
             CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS BIGINT)
               AS n_ips,
             regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>',
                                           'g'),
                            '{PII_IPV4_RE}', '<IP>', 'g') AS scrubbed
      FROM planted
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_ips) AS BIGINT) AS n_ips,
           CAST(sum(len(regexp_extract_all(scrubbed, '{PII_EMAIL_RE}'))
                    + len(regexp_extract_all(scrubbed, '{PII_IPV4_RE}')))
                AS BIGINT) AS n_residual,
           CAST(sum(len(t) - len(scrubbed)) AS BIGINT) AS chars_removed
    FROM scanned GROUP BY source
    """


@register(
    "docs_pii_scrub_contract",
    oracle=_pii_scrub_oracle(),
    tags=("llm", "privacy", "contract"),
)
def docs_pii_scrub_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction contract on DETERMINISTICALLY PLANTED
    identifiers (the PNM-fixture pattern: the base corpus provably
    contains no digits or '@', so every match is a plant and counts
    are exact): each doc gets one synthetic email and one IPv4
    appended, the scrubber regexp-replaces both classes, and the
    report proves per source that (a) every planted identifier was
    found, (b) the scrubbed text has ZERO residual matches — the
    invariant a training-data redaction pass must certify before
    text ships to a trainer.

    Exactness: patterns use bracketed-dot character classes only (no
    backslash escapes), read identically by Spark's Java regex and
    DuckDB's RE2; counts and length deltas are exact integers.

    Scale (100 TB): one scan, all per-row codegen (regexp count +
    replace), one |sources|-group aggregate. A real deployment swaps
    the plant for the raw corpus and keeps the residual-zero audit —
    the plan is unchanged."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
    )
    scanned = d.select(
        "source",
        t.alias("t"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ).alias("scrubbed"),
    )
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_ips").alias("n_ips"),
        F.sum(
            F.regexp_count(F.col("scrubbed"), F.lit(PII_EMAIL_RE))
            + F.regexp_count(F.col("scrubbed"), F.lit(PII_IPV4_RE))
        )
        .cast("bigint")
        .alias("n_residual"),
        F.sum(F.length("t") - F.length("scrubbed"))
        .cast("bigint")
        .alias("chars_removed"),
    )


# --------------------------------------------------------------------
# CUSUM drift detection (sortless suffix-max identity)
# --------------------------------------------------------------------

CUSUM_H_MULT = 4  # alarm when S exceeds 4× the mean daily count


def _cusum_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events WHERE event_type = 'error'
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM ev
    ), spine AS (
      SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds
    ), daily AS (
      SELECT s.d - b.d0 + 1 AS t,
             CAST(count(e.d) AS BIGINT) AS c
      FROM spine s CROSS JOIN bounds b
      LEFT JOIN ev e ON e.d = s.d
      GROUP BY 1
    ), k AS (
      SELECT CAST(sum(c) * 1000000 // count(*) AS BIGINT) AS k_micro
      FROM daily
    ), pref AS (
      SELECT a.t, a.c,
             CAST(sum(b.c) AS BIGINT) AS p
      FROM daily a JOIN daily b ON b.t <= a.t
      GROUP BY a.t, a.c
    ), s AS (
      SELECT a.t, a.c,
             greatest(CAST(0 AS BIGINT),
               max(a.p * 1000000 - coalesce(pj.p, 0) * 1000000
                   - (a.t - pj0.j + 1) * k.k_micro)) AS s_micro
      FROM pref a
      CROSS JOIN k
      JOIN (SELECT t AS j FROM daily) pj0 ON pj0.j <= a.t
      LEFT JOIN pref pj ON pj.t = pj0.j - 1
      GROUP BY a.t, a.c
    )
    SELECT s.t AS day_idx, s.c AS n_errors, s.s_micro,
           (s.s_micro > {CUSUM_H_MULT} * k.k_micro) AS alarm
    FROM s CROSS JOIN k
    """


@register(
    "events_error_cusum",
    oracle=_cusum_oracle(),
    tags=("events", "anomaly", "report"),
)
def events_error_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on the daily error-event count —
    the classic sequential drift detector (Page '54), computed
    SORTLESS via the suffix-max identity: the recursive
    S_t = max(0, S_{t−1} + (x_t − k)) equals
    max(0, max_{j≤t} Σ_{i=j..t}(x_i − k)), which is pure prefix-sum
    arithmetic — so instead of a sequential fold (undistributable) or
    a window sort, the whole path computes as a triangular join over
    the DAY spine, which is calendar-bounded (30 rows here, 36,500
    for a century), never event-volume-bounded. Alarm fires when S
    exceeds {CUSUM_H_MULT}× the mean daily count. Missing days count
    as zero via the dense spine — a detector that skips quiet days
    never sees a downward shift.

    Exactness: day indexes and counts are integers; k is the exact
    floor-micro mean; every S is a max over integer linear terms —
    no floats anywhere.

    Scale (100 TB): ONE event-scan aggregate to daily counts
    (map-side combined, |days| groups); everything after runs on the
    checkpointed day frame (|days|² triangular pairs = dimension
    arithmetic)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    ev = e.select(
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).alias("d")
    )
    bounds = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"), "d0"
    )
    daily = (
        spine.join(ev.groupBy("d").agg(F.count(F.lit(1)).alias("c")), "d", "left")
        .select(
            (F.col("d") - F.col("d0") + 1).cast("bigint").alias("t"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    k = daily.agg(
        F.expr("(sum(c) * 1000000) DIV count(1)").alias("k_micro")
    )
    b = daily.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    pref = (
        daily.join(F.broadcast(b), F.col("tb") <= F.col("t"))
        .groupBy("t", "c")
        .agg(F.sum("cb").alias("p"))
        .localCheckpoint(eager=True)
    )
    pj = pref.select(F.col("t").alias("j"), F.col("p").alias("pj"))
    s = (
        pref.join(F.broadcast(daily.select(F.col("t").alias("j"))), F.col("j") <= F.col("t"))
        .join(
            F.broadcast(pj.select((F.col("j") + 1).alias("j"), "pj")), "j", "left"
        )
        .crossJoin(F.broadcast(k))
        .groupBy("t", "c")
        .agg(
            F.greatest(
                F.lit(0).cast("bigint"),
                F.max(
                    F.col("p") * 1_000_000
                    - F.coalesce(F.col("pj"), F.lit(0)) * 1_000_000
                    - (F.col("t") - F.col("j") + 1) * F.col("k_micro")
                ),
            ).alias("s_micro")
        )
    )
    return s.crossJoin(F.broadcast(k)).select(
        F.col("t").alias("day_idx"),
        F.col("c").alias("n_errors"),
        "s_micro",
        (F.col("s_micro") > CUSUM_H_MULT * F.col("k_micro")).alias("alarm"),
    )


# --------------------------------------------------------------------
# Cosine-scale calibration histogram (bounded probe block)
# --------------------------------------------------------------------

CALIB_BLOCK = 100  # vec_id < 100 — pinned to the base copy
CALIB_BUCKET_MICRO = 100_000  # 10% cosine bands


def _cosine_calibration_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(list_transform(
                    list_transform(embedding, x -> CAST(x AS DOUBLE)),
                    x -> x * x), (a, b) -> a + b)) AS nrm
      FROM embeddings WHERE vec_id < {CALIB_BLOCK}
    ), pairs AS (
      SELECT CAST(round(round(list_reduce(list_transform(list_zip(a.v, b.v),
                                                         z -> z[1] * z[2]),
                                          (x, y) -> x + y)
                               / (a.nrm * b.nrm), 6) * 1000000.0, 0)
                  AS BIGINT) AS c_micro
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT (c_micro + 1000000) // {CALIB_BUCKET_MICRO} AS bucket,
           CAST((c_micro + 1000000) // {CALIB_BUCKET_MICRO}
                * {CALIB_BUCKET_MICRO} - 1000000 AS BIGINT) AS band_lo_micro,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(c_micro) AS BIGINT) AS min_c_micro,
           CAST(max(c_micro) AS BIGINT) AS max_c_micro
    FROM pairs GROUP BY 1
    """


@register(
    "embeddings_cosine_calibration",
    oracle=_cosine_calibration_oracle(),
    tags=("llm", "embedding", "report"),
)
def embeddings_cosine_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-scale calibration: the pairwise-cosine histogram of a
    FIXED {CALIB_BLOCK}-vector probe block (vec_id < {CALIB_BLOCK} —
    pinned to the base copy under inflation) in 10% bands — the table
    read before choosing any similarity threshold (SemDeDup's ε, the
    near-dup cutoff, a rerank floor): thresholds are meaningless
    without knowing where the corpus's cosine mass actually sits
    (embedding models differ wildly in their 'unrelated' baseline).

    Exactness: cosines use the proven 6-dp round → micro-quantize
    pattern; the +1e6 shift makes the band floor-division operand
    nonnegative, so DIV (truncation) and // agree with floor for
    negative cosines too.

    Scale (100 TB): the block is CONSTANT (broadcast both sides);
    the pair frame is {CALIB_BLOCK}²/2 rows regardless of corpus
    size — this is deliberately a CALIBRATION probe, not an all-pairs
    scan; the registered banded/bucketed plans handle corpus-wide
    pairing."""
    from .similarity import _dot, _norm

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < CALIB_BLOCK
    )
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).select("vec_id", "v", _norm(F.col("v")).alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("idb"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    c_micro = F.round(
        F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
        * 1e6,
        0,
    ).cast("bigint")
    pairs = (
        a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
        .select(c_micro.alias("c_micro"))
    )
    bucket = F.expr(f"(c_micro + 1000000) DIV {CALIB_BUCKET_MICRO}")
    return pairs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("c_micro").alias("min_c_micro"),
        F.max("c_micro").alias("max_c_micro"),
    ).select(
        "bucket",
        (F.col("bucket") * CALIB_BUCKET_MICRO - 1_000_000).alias(
            "band_lo_micro"
        ),
        "n_pairs",
        "min_c_micro",
        "max_c_micro",
    )
