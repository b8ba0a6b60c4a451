"""Compliance, tokenizer, cross-modal and join-shape contract queries,
each registered with its DuckDB oracle.

The operators:

- ``docs_license_propagation_contract``: compliance propagation
  through dedup — each near-dup cluster's kept representative must
  carry the MOST RESTRICTIVE license among its members (max rank
  over a deterministic source→license map), with per-class kept and
  escalated counts. Dedup that silently launders a restricted
  document into a permissive representative is a legal bug, and this
  is the audit that catches it. Composes the registered cluster map
  verbatim on both engines.
- ``docs_bpe_vocab_size_curve``: corpus tokens + fertility as a
  function of the BPE merge budget (0/2/4/6, exact trainer) —
  the compression-vs-vocab curve; the oracle replays one training
  trajectory and summarizes its intermediate word tables.
- ``docs_image_text_alignment_contract``: cross-modal retrieval
  plumbing — deterministic image (patch-sum) and text (word-hash
  histogram) feature stubs, integer dot score matrix, per-text top-1
  with exact tie-breaks; the eval shape CLIP-style pairing uses.
- ``events_session_survival_curve``: session-duration CCDF at a
  threshold ladder over the registered 30-min-gap sessionization —
  the engagement survival table (exact Kaplan–Meier special case,
  no censoring in a bounded replay).
- ``lineitem_salted_join_contract``: the salted-JOIN skew pattern —
  fact side salted, dim side replicated per salt, joined on
  (key, salt); the plain three-table join is the oracle, proving the
  decomposition loses and duplicates nothing. The join-side twin of
  the registered salted-distinct contract.
- ``orders_temporal_dim_join``: SCD2 as-of dimension lookup — every
  order joins the dim version whose half-open validity interval
  contains its date; the oracle pins the boundary convention.
- ``nation_trade_reciprocity``: weighted reciprocity per exporter
  over the registered PageRank's trade edges (Σ min(w_ij, w_ji) /
  Σ w_ij) — hub-and-spoke vs balanced bilateral trade, the
  complementary structural read to PageRank's importance ranking.
- ``docs_simhash_bit_bias``: fingerprint-health screen — per SimHash
  bit lane, the fraction of documents setting it (a healthy Charikar
  sketch is ≈50% everywhere); runs the production vote pipeline over
  the cross-engine md5 hash so DuckDB replays every vote.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register


# --------------------------------------------------------------------
# License propagation through dedup (compliance audit)
# --------------------------------------------------------------------

# Deterministic source -> license-class map: rank 0 permissive,
# 1 attribution, 2 restricted. Class = numeric source suffix mod 3.
LIC_CLASSES = ("permissive", "attribution", "restricted")


def _license_oracle() -> str:
    from .clusters import _clusters_oracle

    return f"""
    WITH clusters AS ({_clusters_oracle()}
    ), lic AS (
      SELECT d.doc_id, c.cluster_rep,
             CAST(CAST(substr(d.source, 4) AS BIGINT) % 3 AS BIGINT)
               AS own_rank
      FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
    ), prop AS (
      SELECT cluster_rep,
             CAST(max(own_rank) AS BIGINT) AS prop_rank,
             CAST(count(*) AS BIGINT) AS n_members
      FROM lic GROUP BY 1
    ), kept AS (
      SELECT l.doc_id, l.own_rank, p.prop_rank, p.n_members
      FROM lic l
      JOIN prop p ON p.cluster_rep = l.doc_id
      WHERE l.doc_id = l.cluster_rep
    )
    SELECT CASE prop_rank WHEN 0 THEN 'permissive'
                          WHEN 1 THEN 'attribution'
                          ELSE 'restricted' END AS license_class,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN prop_rank > own_rank THEN 1 ELSE 0 END)
             AS BIGINT) AS n_escalated,
           CAST(sum(n_members - 1) AS BIGINT) AS n_members_absorbed
    FROM kept GROUP BY 1
    """


@register(
    "docs_license_propagation_contract",
    oracle=_license_oracle(),
    tags=("llm", "governance", "contract"),
)
def docs_license_propagation_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compliance propagation through dedup: after near-dup cluster
    dedup (the registered ``docs_dup_clusters`` map, composed
    verbatim on both engines), every kept representative must carry
    the MOST RESTRICTIVE license among its absorbed members — max
    rank over the deterministic source→class map (numeric source
    suffix mod 3 → permissive/attribution/restricted). A dedup step
    that keeps the permissive copy of a restricted document and
    forgets the restriction has silently laundered a license; the
    ``n_escalated`` column counts exactly the representatives whose
    own class was WEAKER than what they now must carry — the rows a
    compliance review reads.

    Exactness: integer ranks, counts, exact string classes.

    Scale (100 TB): the cluster map's own proven plan plus one
    cluster-keyed max aggregate and a doc-keyed join — license
    metadata rides the dedup shuffle that already exists."""
    from .clusters import docs_dup_clusters

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    comp = docs_dup_clusters(spark, sf_dir)
    lic = d.join(comp, "doc_id").select(
        "doc_id",
        "cluster_rep",
        F.expr("CAST(CAST(substr(source, 4) AS BIGINT) % 3 AS BIGINT)").alias(
            "own_rank"
        ),
    )
    prop = lic.groupBy("cluster_rep").agg(
        F.max("own_rank").alias("prop_rank"),
        F.count(F.lit(1)).alias("n_members"),
    )
    kept = lic.filter(F.col("doc_id") == F.col("cluster_rep")).join(
        prop, "cluster_rep"
    )
    return (
        kept.groupBy(
            F.when(F.col("prop_rank") == 0, "permissive")
            .when(F.col("prop_rank") == 1, "attribution")
            .otherwise("restricted")
            .alias("license_class")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
            F.sum((F.col("prop_rank") > F.col("own_rank")).cast("int"))
            .cast("bigint")
            .alias("n_escalated"),
            F.sum(F.col("n_members") - 1)
            .cast("bigint")
            .alias("n_members_absorbed"),
        )
    )


# --------------------------------------------------------------------
# BPE vocab-size curve (tokens-vs-merge-budget design table)
# --------------------------------------------------------------------

BVC_BUDGETS = (0, 2, 4, 6)  # merge budgets; 0 = character baseline


def _bpe_vocab_curve_oracle() -> str:
    from .bpe import N_MERGES, _bpe_oracle

    if max(BVC_BUDGETS) > N_MERGES:
        raise ValueError(f"BVC budget {max(BVC_BUDGETS)} exceeds N_MERGES={N_MERGES}")
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({m} AS BIGINT) AS n_merges_budget,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(freq) AS BIGINT) AS corpus_words,
           CAST(sum(freq * len(syms)) AS BIGINT) AS corpus_tokens,
           CAST(sum(freq * len(syms)) * 1000000 // sum(freq) AS BIGINT)
             AS fertility_micro
    FROM r{m}_words"""
        for m in BVC_BUDGETS
    )
    return _bpe_oracle(max(BVC_BUDGETS)) + f"\n    {rows}"


@register(
    "docs_bpe_vocab_size_curve",
    oracle=_bpe_vocab_curve_oracle(),
    tags=("llm", "tokenizer", "eval"),
)
def docs_bpe_vocab_size_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer vocab-size design table: corpus token count and
    fertility (tokens per word, micro) as a function of the BPE merge
    budget m ∈ {BVC_BUDGETS} — m=0 is the character baseline, each
    rung is the EXACT trainer (the registered ``docs_bpe_merges``
    algorithm) at its budget and measures what
    the corpus costs to encode under that vocabulary. This is the
    curve read when sizing a vocabulary: fertility falls
    monotonically with merges, and the knee prices each additional
    merge in saved tokens (the compression-vs-vocab tradeoff every
    tokenizer paper plots; registered ``docs_bpe_fertility_report``
    is one point of it).

    Exactness: the oracle replays the identical training trajectory
    (one CTE chain to the max budget; each rung summarizes that
    chain's intermediate word table), so merges, segmentations and
    counts are bit-identical; outputs are integer counts + micro DIV.

    Scale (100 TB): training cost is the registered exact trainer's
    (per merge: one pair-count shuffle over the DISTINCT-word frame —
    Zipf-compressed vs the corpus — and a driver argmax scalar);
    the curve adds only per-rung scalar aggregates of that frame."""
    from .bpe import bpe_train

    # One training trajectory to the max budget with per-rung snapshots:
    # greedy training is deterministic, so the word table after m merges
    # IS the budget-m result, the single CTE chain the oracle replays.
    _, final_words, snaps = bpe_train(
        spark, sf_dir, n_merges=max(BVC_BUDGETS), snapshot_rounds=BVC_BUDGETS
    )
    out = None
    for m in BVC_BUDGETS:
        # missing rung ⟺ pair exhaustion before round m, where training
        # stops at the same state the per-budget call would have
        words = snaps.get(m, final_words)
        row = words.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            F.sum("freq").cast("bigint").alias("corpus_words"),
            F.sum(F.col("freq") * F.size("syms"))
            .cast("bigint")
            .alias("corpus_tokens"),
        ).select(
            F.lit(m).cast("bigint").alias("n_merges_budget"),
            "n_distinct_words",
            "corpus_words",
            "corpus_tokens",
            F.expr("corpus_tokens * 1000000 DIV corpus_words").alias(
                "fertility_micro"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------
# Image-text alignment contract (cross-modal retrieval plumbing)
# --------------------------------------------------------------------

ITA_N_DOCS = 120
ITA_DIM = 16  # feature dimension: 16 patch sums / 16 text-hash bins
ITA_BUCKET = 30  # report granularity (4 buckets of 30 docs)


def _alignment_oracle() -> str:
    # image feature d of doc j: sum of the 4x4 patch at raster pos d
    # of the synthetic image pixel(x,y) = (j*131 + x*7 + y*13) % 256
    img_feat = (
        "[ list_reduce([ (j.doc_id * 131"
        "   + ((d - 1) % 4 * 4 + (t - 1) % 4) * 7"
        "   + ((d - 1) // 4 * 4 + (t - 1) // 4) * 13) % 256"
        "   for t in generate_series(1, 16) ], (a, b) -> a + b)"
        " for d in generate_series(1, 16) ]"
    )
    txt_feat = (
        "[ len(list_filter(string_split(i.text, ' '),"
        "   w -> w <> '' AND (len(w) * 7 + ord(w[1])) % 16 = d - 1))"
        " for d in generate_series(1, 16) ]"
    )
    return f"""
    WITH block AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {ITA_N_DOCS}
    ), tf AS (
      SELECT i.doc_id, {txt_feat} AS tv FROM block i
    ), imf AS (
      SELECT j.doc_id, {img_feat} AS iv FROM block j
    ), scores AS (
      SELECT t.doc_id AS text_id, m.doc_id AS img_id,
             CAST(list_reduce(list_transform(list_zip(t.tv, m.iv),
               z -> z[1] * z[2]), (a, b) -> a + b) AS BIGINT) AS score
      FROM tf t CROSS JOIN imf m
    ), ranked AS (
      SELECT text_id, img_id, score,
             row_number() OVER (PARTITION BY text_id
                                ORDER BY score DESC, img_id) AS rk
      FROM scores
    )
    SELECT CAST(text_id // {ITA_BUCKET} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_texts,
           CAST(sum(CASE WHEN img_id = text_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_top1_self,
           CAST(sum(score) AS BIGINT) AS sum_top1_score
    FROM ranked WHERE rk = 1
    GROUP BY 1
    """


@register(
    "docs_image_text_alignment_contract",
    oracle=_alignment_oracle(),
    tags=("llm", "multimodal", "retrieval", "contract"),
)
def docs_image_text_alignment_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modal retrieval PLUMBING, oracle-pinned: each doc in the
    bounded block carries an image-side feature vector (the 16 patch
    sums of its synthetic image — the patchify contract's reduction)
    and a text-side vector (a 16-bin word-hash histogram); the
    text→image score matrix is the integer dot product, and per
    text the top-1 image is retrieved (score desc, id tie-break).
    The features are DETERMINISTIC STUBS (per the multimodal-stub
    convention — a real deployment swaps in CLIP embeddings), but
    the plan is the real cross-modal eval: per-query top-1 over a
    dense score matrix with exact tie-breaks, the shape of every
    retrieval-accuracy eval. The oracle replays both feature
    constructions and the argmax closed-form, so a transposed
    patch axis, a shifted hash bin, or an unstable tie-break all
    hash-mismatch.

    Exactness: all-integer features, scores, counts.

    Scale (100 TB): the block is constant-size (a retrieval EVAL is
    query-side-bounded by construction); production would broadcast
    the query block against the corpus-side feature table — the
    registered kNN shape."""
    block = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < ITA_N_DOCS
    )
    tf = block.select(
        F.col("doc_id").alias("text_id"),
        F.expr(
            "transform(sequence(1, 16), d ->"
            " size(filter(split(text, ' '),"
            " w -> w <> '' AND"
            " (length(w) * 7 + ascii(substring(w, 1, 1))) % 16"
            " = d - 1)))"
        ).alias("tv"),
    )
    imf = block.select(
        F.col("doc_id").alias("img_id"),
        F.expr(
            "transform(sequence(1, 16), d ->"
            " aggregate(transform(sequence(1, 16), t ->"
            "   (img_id * 131"
            "    + ((d - 1) % 4 * 4 + (t - 1) % 4) * 7"
            "    + ((d - 1) DIV 4 * 4 + (t - 1) DIV 4) * 13) % 256),"
            "  0L, (a, b) -> a + b))"
        ).alias("iv"),
    )
    w = Window.partitionBy("text_id").orderBy(
        F.desc("score"), F.asc("img_id")
    )
    scores = (
        tf.crossJoin(F.broadcast(imf))
        .select(
            "text_id",
            "img_id",
            F.aggregate(
                F.zip_with("tv", "iv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        scores.groupBy(
            F.expr(f"text_id DIV {ITA_BUCKET}").cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_texts"),
            F.sum((F.col("img_id") == F.col("text_id")).cast("int"))
            .cast("bigint")
            .alias("n_top1_self"),
            F.sum("score").cast("bigint").alias("sum_top1_score"),
        )
    )


# --------------------------------------------------------------------
# Session survival curve (duration CCDF over the sessionized stream)
# --------------------------------------------------------------------

SSC_GAP_S = 1800  # the registered 30-minute session gap
SSC_THRESH_S = (0, 60, 300, 1800)


def _session_survival_oracle() -> str:
    th = ", ".join(str(t) for t in SSC_THRESH_S)
    return f"""
    WITH e AS (
      SELECT user_id, event_id,
             date_diff('microsecond',
                       TIMESTAMP '1970-01-01 00:00:00', ts) AS ts_us
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  > {SSC_GAP_S} * 1000000 OR lag(ts_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id)
                  IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM e
    ), sess AS (
      SELECT user_id, ts_us,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM marked
    ), durations AS (
      SELECT user_id, sess_id,
             max(ts_us) - min(ts_us) AS dur_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(l.t AS BIGINT) AS threshold_s,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN d.dur_us >= l.t * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving,
           CAST(sum(CASE WHEN d.dur_us >= l.t * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             // CAST(count(*) AS BIGINT) AS survival_micro
    FROM durations d
    CROSS JOIN (SELECT unnest([{th}]) AS t) l
    GROUP BY 1
    """


@register(
    "events_session_survival_curve",
    oracle=_session_survival_oracle(),
    tags=("events", "analytics", "sessions"),
)
def events_session_survival_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-duration SURVIVAL curve: sessions cut at the
    registered {SSC_GAP_S}-second gap (the ``window_session_30m``
    convention, keyed per user), then for each duration threshold in
    {SSC_THRESH_S} seconds, the exact count and share of sessions
    lasting at least that long — the complementary CDF an engagement
    dashboard plots (no censoring in a bounded replay, so this is
    the Kaplan–Meier curve's exact special case). Threshold 0 is the
    all-sessions row (share = 1e6 by construction — a built-in
    sanity anchor for the hash).

    Exactness: micros since the naive anchor, integer counts, one
    micro DIV.

    Scale (100 TB): one per-user window pass (gap marking + running
    session id — keyed, parallel across users), one hash aggregate
    to sessions, one constant-ladder fanout over the session frame.
    The session frame is the corpus compressed ~events-per-session
    fold."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
    )
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = e.select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(
            F.lag("ts_us").over(w_order).isNull()
            | (
                F.col("ts_us") - F.lag("ts_us").over(w_order)
                > SSC_GAP_S * 1000000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("sess_id", F.sum("new_sess").over(w_cum))
    durations = sess.groupBy("user_id", "sess_id").agg(
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us")
    )
    ladder = local_frame(spark, [(t,) for t in SSC_THRESH_S], "t long")
    return (
        durations.crossJoin(F.broadcast(ladder))
        .groupBy(F.col("t").alias("threshold_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(
                (F.col("dur_us") >= F.col("t") * 1000000).cast("int")
            )
            .cast("bigint")
            .alias("n_surviving"),
        )
        .select(
            "threshold_s",
            "n_sessions",
            "n_surviving",
            F.expr("n_surviving * 1000000 DIV n_sessions").alias(
                "survival_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# Salted broadcast-replicated JOIN contract (the other skew half)
# --------------------------------------------------------------------

SJC_SALTS = 16


def _salted_join_oracle() -> str:
    return """
    SELECT l.l_returnflag,
           n.n_name AS supplier_nation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """


@register(
    "lineitem_salted_join_contract",
    oracle=_salted_join_oracle(),
    tags=("tpch", "skew", "contract"),
)
def lineitem_salted_join_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew-mitigation SALTED JOIN as an oracle-pinned contract —
    the join-side twin of the registered salted-distinct contract:
    the fact side gets a random-free salt (pmod(xxhash64(orderkey),
    {SJC_SALTS})), the dim side (supplier⋈nation, pre-joined small)
    is REPLICATED once per salt value, and the join key becomes
    (suppkey, salt) — so a hot supplier's rows spread over
    {SJC_SALTS} reducers instead of one, while the replicated dim
    adds only |dim|·{SJC_SALTS} rows. The oracle is the PLAIN
    three-table join aggregate, so the hash proves the
    salt-replicate-join decomposition loses and duplicates nothing.
    (AQE's skew-join split does this adaptively for sort-merge
    joins; the explicit form is how you write it when the skew is
    known — the documented pattern for hot-key fact-dim joins. The
    replicated dim carries no broadcast hint: supplier grows with SF,
    so the planner and AQE pick the join from size stats.)

    Exactness: integer counts and BIGINT quantity sums.

    Scale (100 TB): the dim side is |suppliers|·{SJC_SALTS} rows;
    the fact side shuffles
    once on the salted key with bounded per-reducer skew — the whole
    point. The final rollup is a |flags|·|nations| hash aggregate."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_suppkey",
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey"), F.lit(SJC_SALTS)).alias("salt"),
    )
    dim = (
        load(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supplier_nation"))
    )
    salts = local_frame(spark, [(s,) for s in range(SJC_SALTS)], "salt long")
    dim_rep = dim.crossJoin(F.broadcast(salts))
    return (
        li.join(
            dim_rep,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (li["salt"] == dim_rep["salt"]),
        )
        .groupBy("l_returnflag", "supplier_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------
# Temporal (as-of) dimension join — SCD2 lookup without equality keys
# --------------------------------------------------------------------

# Synthetic SCD2 dim: each order priority gets 3 tariff versions with
# contiguous validity epochs over the order-date span.
TDJ_EPOCHS = (
    ("1995-01-01", "1997-01-01", 100),
    ("1997-01-01", "1999-06-01", 150),
    ("1999-06-01", "2002-01-01", 175),
)


def _temporal_join_oracle() -> str:
    rows = ", ".join(
        f"(DATE '{a}', DATE '{b}', {r})" for a, b, r in TDJ_EPOCHS
    )
    return f"""
    WITH dim AS (
      SELECT * FROM (VALUES {rows}) AS d(valid_from, valid_to, tariff)
    )
    SELECT d.valid_from,
           CAST(d.tariff AS BIGINT) AS tariff,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             AS BIGINT) AS sum_price_cents,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                * d.tariff // 10000 AS BIGINT) AS tariffed_cents
    FROM orders o
    JOIN dim d ON CAST(o.o_orderdate AS DATE) >= d.valid_from
              AND CAST(o.o_orderdate AS DATE) < d.valid_to
    GROUP BY d.valid_from, d.tariff
    """


@register(
    "orders_temporal_dim_join",
    oracle=_temporal_join_oracle(),
    tags=("warehouse", "scd2", "range-join"),
)
def orders_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (as-of) dimension lookup — the SCD2 consumption
    pattern: every order joins the dim VERSION whose validity
    interval contains its order date (half-open [from, to)), here a
    3-epoch tariff table, then a per-epoch rollup applies the
    epoch's tariff to the epoch's order volume in exact cents. This
    is the join every type-2 dimension exists for; its correctness
    hazards are the interval boundary conventions (half-open vs
    closed — an order ON a version boundary must land in exactly one
    epoch), which is precisely what the oracle's hash pins.

    Exactness: DATE comparisons, cent-quantized money (round half-up
    at 2 dp on both engines — the established DECIMAL convention),
    integer tariff basis points with one integer DIV.

    Scale (100 TB): the dim is a version table (tiny — broadcast);
    the range join is a broadcast-nested-loop against ≤|versions|
    intervals with each fact row matching exactly one — no shuffle
    beyond the final |versions|-row rollup. For a large dim,
    bucketize by (natural key) first and range-join within key — the
    registered as-of join's shape."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("price_cents"),
    )
    dim = local_frame(
        spark,
        [(a, b, r) for a, b, r in TDJ_EPOCHS],
        "valid_from string, valid_to string, tariff long",
    ).select(
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "tariff",
    )
    return (
        o.join(
            F.broadcast(dim),
            (F.col("od") >= F.col("valid_from"))
            & (F.col("od") < F.col("valid_to")),
        )
        .groupBy("valid_from", "tariff")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price_cents").cast("bigint").alias("sum_price_cents"),
        )
        .select(
            "valid_from",
            "tariff",
            "n_orders",
            "sum_price_cents",
            F.expr("sum_price_cents * tariff DIV 10000").alias(
                "tariffed_cents"
            ),
        )
    )


# --------------------------------------------------------------------
# Trade-flow reciprocity (directed-graph symmetry metric)
# --------------------------------------------------------------------


def _reciprocity_oracle() -> str:
    return """
    WITH edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) * 10000 AS BIGINT) AS w_e4
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY 1, 2
    ), paired AS (
      SELECT e.src, e.dst, e.w_e4,
             COALESCE(r.w_e4, 0) AS w_rev
      FROM edges e
      LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
    ), per_src AS (
      SELECT src,
             CAST(count(*) AS BIGINT) AS n_out_edges,
             CAST(sum(CASE WHEN w_rev > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reciprocated,
             CAST(sum(w_e4) AS BIGINT) AS w_out_e4,
             CAST(sum(least(w_e4, w_rev)) AS BIGINT) AS w_balanced_e4
      FROM paired GROUP BY src
    )
    SELECT n.n_name AS nation,
           p.n_out_edges, p.n_reciprocated,
           p.w_out_e4, p.w_balanced_e4,
           CAST((p.w_balanced_e4 // 10000) * 1000000
                // greatest(p.w_out_e4 // 10000, 1) AS BIGINT)
             AS reciprocity_micro
    FROM per_src p JOIN nation n ON n.n_nationkey = p.src
    """


@register(
    "nation_trade_reciprocity",
    oracle=_reciprocity_oracle(),
    tags=("tpch", "graph", "report"),
)
def nation_trade_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph RECIPROCITY over the nation trade graph — the
    same supplier-nation → customer-nation revenue edges the
    registered ``nation_trade_pagerank`` walks (self-loops excluded),
    asking the complementary structural question: per exporter, how
    much of its outbound flow is BALANCED by a reverse flow
    (weighted reciprocity = Σ min(w_ij, w_ji) / Σ w_ij — the
    Squartini/Garlaschelli weighted form), plus the unweighted
    reciprocated-edge count. PageRank ranks importance; reciprocity
    separates hub-and-spoke trade (low) from balanced bilateral trade
    (high) — together they are the two standard first looks at any
    directed flow graph.

    Exactness: the edge weight is the proven PageRank convention
    (DECIMAL(18,4)-accumulated revenue ×1e4 → BIGINT); min/sum on
    those integers. The micro ratio first scales BOTH operands to
    whole currency units with integer DIV (identical positive-value
    truncation in both engines) so the ×1e6 product stays inside
    int64 out to ~9e12 per-nation revenue; past that, promote the
    ratio to DECIMAL(38,0) — the reported w_*_e4 columns stay
    exact regardless.

    Scale (100 TB): the corpus-sized work is the SAME two-join edge
    aggregate the registered PageRank runs (nation-pair domain ≤
    |nations|²); the reverse-edge pairing is a self-join of that
    ≤625-row frame."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
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
        .localCheckpoint(eager=True)
    )
    rev = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("w_e4").alias("w_rev"),
    )
    paired = edges.join(F.broadcast(rev), ["src", "dst"], "left").withColumn(
        "w_rev", F.coalesce("w_rev", F.lit(0))
    )
    per_src = paired.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_out_edges"),
        F.sum((F.col("w_rev") > 0).cast("int"))
        .cast("bigint")
        .alias("n_reciprocated"),
        F.sum("w_e4").cast("bigint").alias("w_out_e4"),
        F.sum(F.least("w_e4", "w_rev")).cast("bigint").alias("w_balanced_e4"),
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("src"), F.col("n_name").alias("nation")
    )
    return per_src.join(F.broadcast(n), "src").select(
        "nation",
        "n_out_edges",
        "n_reciprocated",
        "w_out_e4",
        "w_balanced_e4",
        F.expr(
            "(w_balanced_e4 DIV 10000) * 1000000"
            " DIV greatest(w_out_e4 DIV 10000, 1)"
        ).alias("reciprocity_micro"),
    )


# --------------------------------------------------------------------
# SimHash bit-bias health screen
# --------------------------------------------------------------------

SIMHASH_BIAS_BITS = 60  # md5's first 15 hex digits -> 60 exact bits


def _bit_bias_oracle() -> str:
    return f"""
    WITH posts AS (
      SELECT DISTINCT doc_id, w,
             ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
      )
      WHERE w <> ''
    ), votes AS (
      SELECT p.doc_id, b.bit,
             sum(CASE WHEN (p.h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END)
               AS v
      FROM posts p
      CROSS JOIN (
        SELECT unnest(generate_series(0, {SIMHASH_BIAS_BITS - 1})) AS bit
      ) b
      GROUP BY 1, 2
    ), perbit AS (
      SELECT bit,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_set
      FROM votes GROUP BY 1
    )
    SELECT CAST(bit AS BIGINT) AS bit, n_docs, n_set,
           CAST(n_set * 1000000 // n_docs AS BIGINT) AS set_ppm,
           CAST(n_set * 1000000 // n_docs - 500000 AS BIGINT) AS dev_ppm
    FROM perbit
    """


@register(
    "docs_simhash_bit_bias",
    oracle=_bit_bias_oracle(),
    tags=("llm", "dedup", "sketch", "diagnostics"),
)
def docs_simhash_bit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash FINGERPRINT-HEALTH screen — per bit lane, the fraction
    of documents whose fingerprint sets that bit. A healthy Charikar
    sketch is unbiased (every lane ≈ 50% over a diverse corpus); a
    skewed lane means a broken hash mix, a vote-threshold bug, or a
    degenerate vocabulary, and every Hamming-distance threshold
    downstream silently loses resolution. The production fingerprint
    (``dedup.simhash_table``) rides xxhash64; this contract runs the
    SAME vote pipeline over the repo's cross-engine md5 hash
    ({SIMHASH_BIAS_BITS} exact bits) so DuckDB can replay every vote.

    Exactness: the hash is the established md5-15-hex convention;
    votes, signs, and the >0 set rule are exact integers; ppm is
    integer ``DIV``.

    Scale (100 TB): one scan → word explode (map-side) → ONE
    (doc_id) hash aggregate carrying {SIMHASH_BIAS_BITS} partial-sum
    vote columns (the measured-fastest simhash_table layout, cites
    ``llm/dedup.py:813``) → a {SIMHASH_BIAS_BITS}-wide unpivot into a
    ≤{SIMHASH_BIAS_BITS}-group aggregate. No joins, no windows; the
    oracle's bit cross-join is the oracle's problem, not the plan's."""
    d = load(spark, sf_dir, "documents")
    posts = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.col("text"), " "))
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .selectExpr(
            "doc_id",
            "CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) AS h",
        )
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BIAS_BITS)
    ]
    agg = posts.groupBy("doc_id").agg(*votes)
    stack_args = ", ".join(
        f"{b}L, b{b}" for b in range(SIMHASH_BIAS_BITS)
    )
    lanes = agg.selectExpr(
        f"stack({SIMHASH_BIAS_BITS}, {stack_args}) AS (bit, v)"
    )
    return (
        lanes.groupBy("bit")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("v") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_set"),
        )
        .selectExpr(
            "bit",
            "n_docs",
            "n_set",
            "CAST(n_set * 1000000 DIV n_docs AS BIGINT) AS set_ppm",
            "CAST(n_set * 1000000 DIV n_docs - 500000 AS BIGINT)"
            " AS dev_ppm",
        )
    )


docs_simhash_bit_bias.__doc__ = docs_simhash_bit_bias.__doc__.replace(
    "{SIMHASH_BIAS_BITS}", str(SIMHASH_BIAS_BITS)
)
