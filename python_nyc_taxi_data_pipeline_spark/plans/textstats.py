"""Corpus-level text statistics: vocabulary frequency table and
per-document keyword extraction — the profiling every tokenizer/BPE
training and data-mixing step runs before touching 100 TB of text.

Both are classic two-level aggregations (explode → group), fully
SQL-expressible → exact DuckDB oracles. Scale notes: the explode
shuffles (token) / (doc_id, token) keys only — never the documents;
the vocabulary table gets a map-side combine (partial aggregation) so
shuffle volume is distinct-tokens-per-partition, not corpus tokens;
keyword top-k is a bounded window per doc.

Determinism: keyword RANKING is pure integer arithmetic (term
frequency desc, document frequency asc — rarer wins — then term); the
float tf-idf score is carried as a rounded OUTPUT column but never
decides order, so engine ulp differences in ln() cannot flip a rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

VOCAB_TOP_N = 1000
KEYWORDS_PER_DOC = 5


@register(
    "corpus_vocabulary",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, t.token
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
    ), vocab AS (
      SELECT token,
             count(*) AS tf_corpus,
             count(DISTINCT doc_id) AS doc_freq
      FROM tok GROUP BY token
    )
    SELECT token, tf_corpus, doc_freq,
           CAST(row_number() OVER (ORDER BY tf_corpus DESC, token) AS BIGINT) AS rank
    FROM vocab
    QUALIFY rank <= {VOCAB_TOP_N}
    """,
    tags=("llm", "text", "stats"),
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_TOP_N} corpus vocabulary with corpus term frequency
    and document frequency — the input to BPE/tokenizer training and
    stopword discovery. One explode + one partial-aggregated groupBy;
    the top-N is a TakeOrdered, not a global sort."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_corpus"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    # distributed top-k FIRST (TakeOrderedAndProject — per-partition
    # heaps, no global sort), THEN rank the bounded N rows; an
    # unpartitioned row_number over the full vocabulary would funnel
    # every distinct token through one task.
    top = vocab.orderBy(F.desc("tf_corpus"), F.asc("token")).limit(VOCAB_TOP_N)
    w = Window.orderBy(F.desc("tf_corpus"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "docs_top_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, t.token
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.doc_freq,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.doc_freq ASC, tf.token
             ) AS INT) AS kw_rank,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.doc_freq), 6) AS tfidf
      FROM tf JOIN df USING (token), n
    )
    SELECT doc_id, token, tf, doc_freq, kw_rank, tfidf
    FROM scored
    WHERE kw_rank <= {KEYWORDS_PER_DOC}
    """,
    tags=("llm", "text", "stats"),
)
def docs_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{KEYWORDS_PER_DOC} keywords per document: ranked by term
    frequency (doc-frequency ascending then term as tie-breaks — all
    integer/string comparisons, engine-stable), with the float tf-idf
    carried as a rounded score column that never decides order. The
    document-frequency side scales with the vocabulary, so it carries no
    forced broadcast hint (AQE broadcasts it while it fits); the rank
    window is bounded per doc."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    n_docs = d.count()
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("token")
    )
    return (
        tf.join(df, "token")
        .withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= KEYWORDS_PER_DOC)
        .select(
            "doc_id",
            "token",
            "tf",
            "doc_freq",
            "kw_rank",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )


DUP_LINE_FRACTION_MAX = 0.30  # Gopher-style repetition gate


@register(
    "docs_repetition_filter",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, string_split(text, '. ') AS segs
      FROM documents
    ), stats AS (
      SELECT doc_id,
             len(segs) AS n_segments,
             len(list_distinct(segs)) AS n_distinct
      FROM lines
    )
    SELECT doc_id, n_segments, n_distinct,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_segments, 6) AS dup_fraction,
           (1.0 - CAST(n_distinct AS DOUBLE) / n_segments)
             <= {DUP_LINE_FRACTION_MAX} AS keep
    FROM stats
    """,
    tags=("llm", "text", "quality"),
)
def docs_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition gate (the Gopher-rules shape): split
    each document into sentence-ish segments, measure the duplicate
    fraction (1 − distinct/total), and keep documents under the
    threshold — boilerplate and template spam score high. Single
    codegen'd pass, array ops only; exact oracle."""
    d = load(spark, sf_dir, "documents")
    segs = F.split("text", "\\. ")
    stats = d.select(
        "doc_id",
        F.size(segs).alias("n_segments"),
        F.size(F.array_distinct(segs)).alias("n_distinct"),
    )
    dup = 1.0 - F.col("n_distinct").cast("double") / F.col("n_segments")
    return stats.select(
        "doc_id",
        "n_segments",
        "n_distinct",
        F.round(dup, 6).alias("dup_fraction"),
        (dup <= DUP_LINE_FRACTION_MAX).alias("keep"),
    )


@register(
    "docs_length_histogram",
    oracle="""
    SELECT CAST(floor(log2(len(string_split(text, ' ')))) AS INT)
             AS length_bucket_log2,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_words,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_words,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "text", "report"),
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram with per-bucket token
    mass — the capacity-planning profile every packing/sharding step
    consults (sequence-length budget, truncation loss, shard sizing).
    One scan, one groupBy on a small integer key (≤ ~30 buckets at any
    corpus size) with map-side combine; all columns are exact
    integers. floor(log2(n)) is integer-safe in both engines for the
    fixture's n >= 1 word counts."""
    n = F.size(F.split("text", " "))
    return (
        load(spark, sf_dir, "documents")
        .select(n.alias("n_words"))
        .groupBy(
            F.floor(F.log2("n_words")).cast("int").alias("length_bucket_log2")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_words").cast("long").alias("min_words"),
            F.max("n_words").cast("long").alias("max_words"),
            F.sum("n_words").cast("long").alias("n_tokens"),
        )
    )


@register(
    "docs_source_quality_report",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_gate,
           round(CAST(sum(CASE WHEN len(string_split(text, ' ')) >= 50
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS pass_rate,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY source
    """,
    tags=("llm", "text", "report"),
)
def docs_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation health report: doc/token mass, the fraction
    passing the length gate (the corpus_curation_e2e stage-1 floor),
    and language spread — the table a mixture/quota decision reads
    before setting per-source sampling weights. One scan, one groupBy
    on the low-cardinality source key; the only float is one rounded
    ratio of exact integers."""
    n = F.size(F.split("text", " "))
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(n.cast("long")).cast("long").alias("n_tokens"),
            F.sum((n >= 50).cast("long")).cast("long").alias("n_pass_gate"),
            F.round(
                F.sum((n >= 50).cast("long")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("pass_rate"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


# --------------------------------------------------------------------
# Deterministic Poisson bootstrap (resampling-based uncertainty)
# --------------------------------------------------------------------

BOOT_REPS = 48  # bootstrap replicates
# Poisson(1) CDF, F(0)..F(6); u >= F(6) draws weight 7. The literals
# are repr()-exact IEEE doubles embedded identically in BOTH engines'
# SQL, so the inverse-CDF branch taken is identical bit-for-bit.
BOOT_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
)


def _boot_weight_case(u: str) -> str:
    """CASE cascade: the smallest k with u < F(k), else 7."""
    branches = " ".join(
        f"WHEN {u} < {f} THEN {k}" for k, f in enumerate(BOOT_CDF)
    )
    return f"(CASE {branches} ELSE 7 END)"


def _bootstrap_oracle() -> str:
    reps = ", ".join(str(r) for r in range(BOOT_REPS))
    u = (
        "(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || rep::VARCHAR),"
        " 1, 15))::BIGINT % 4294967296 AS DOUBLE) / 4294967296.0)"
    )
    return f"""
    WITH reps AS (
      SELECT unnest([{reps}]) AS rep
    ), w AS (
      SELECT r.rep, d.n_chars,
             {_boot_weight_case(u)} AS k
      FROM documents d CROSS JOIN reps r
    )
    SELECT rep,
           CAST(sum(k) AS BIGINT) AS n_eff,
           CAST(sum(k * n_chars) AS BIGINT) AS sum_len,
           CAST(sum(k * n_chars) * 1000000
                // greatest(sum(k), 1) AS BIGINT) AS mean_len_micro
    FROM w GROUP BY 1
    """


@register(
    "docs_length_bootstrap_ci",
    oracle=_bootstrap_oracle(),
    tags=("llm", "sampling", "statistics", "bootstrap"),
)
def docs_length_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC POISSON BOOTSTRAP of the mean document length —
    the resampling family (the engine had stratified/quota/hash
    sampling but no uncertainty quantification): {B} replicates, each
    document drawing a Poisson(1) replication weight from an md5-
    derived uniform (the distributed-bootstrap standard — Poisson
    weights need NO shared n, so the resample is a pure map; Chamandy
    et al., "Estimating uncertainty for massive data streams"). The
    spread of the {B} replicate means IS the sampling distribution of
    the corpus mean-length estimator — the error bar every corpus
    stat report should carry.

    Determinism/exactness: u = (md5(doc:rep) mod 2³²)/2³² with the
    repo's cross-engine hash convention; the inverse-CDF thresholds
    are repr()-exact double literals shared by both SQL texts, so
    every (doc, rep) draws the IDENTICAL integer weight on both
    engines; replicate sums are pure integers, means integer-micro.

    Scale (100 TB): the weight draw is map-side (hash + CASE — no
    shuffle, no shared state); the {B}-way fan-out feeds a {B}-group
    hash aggregate with map-side combine, so shuffle traffic is {B}
    rows per partition regardless of corpus size. Bootstrap compute
    is intrinsically {B}× one scan — bound B, not the corpus."""
    reps = spark.range(BOOT_REPS).select(F.col("id").cast("int").alias("rep"))
    u = (
        "(CAST(CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',"
        " CAST(rep AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4294967296"
        " AS DOUBLE) / 4294967296.0)"
    )
    w = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .crossJoin(F.broadcast(reps))
        .withColumn("k", F.expr(_boot_weight_case(u)))
    )
    return w.groupBy("rep").agg(
        F.sum("k").cast("bigint").alias("n_eff"),
        F.sum(F.col("k") * F.col("n_chars")).cast("bigint").alias("sum_len"),
        F.expr(
            "CAST(sum(k * n_chars) * 1000000"
            " DIV greatest(sum(k), 1) AS BIGINT)"
        ).alias("mean_len_micro"),
    )


docs_length_bootstrap_ci.__doc__ = docs_length_bootstrap_ci.__doc__.replace(
    "{B}", str(BOOT_REPS)
)
