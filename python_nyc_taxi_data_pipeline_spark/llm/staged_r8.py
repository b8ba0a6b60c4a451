"""Token-space curation, retrieval, retention and PQ-ledger queries,
each registered with its DuckDB oracle.

The operators (LLM-pipeline and analytics ops beyond the reference's
taxi ETL):

- ``docs_token_space_contamination``: train/test decontamination in
  BPE TOKEN space — token trigrams of every held-out doc checked
  against the train split's token-trigram set. Lexical (word-space)
  contamination (registered r4) misses tokenizer-mediated overlap;
  eval suites are consumed by models AS TOKENS, so this is the space
  the leak actually lives in (cf. GPT-3 appx C / Llama 2 eval decon).
- ``retrieval_rerank_cascade``: the two-stage retrieval cascade —
  dense top-20 shortlist per probe, then a cross-scoring rerank
  (cosine ⊕ exact lexical-overlap, the deterministic stand-in for a
  cross-encoder) over the SHORTLIST ONLY, emitting both ranks. The
  cascade contract (cheap-recall stage bounds the expensive-precision
  stage's input) is the production RAG/retrieval shape.
- ``docs_quality_brier_reliability``: calibration audit of a
  keep-probability score against the Gopher keep verdict — 10-bin
  reliability table (mean predicted vs observed keep rate) + per-bin
  mean Brier term, all integer-exact. The report that decides whether
  a quality scorer's probabilities can gate a corpus at a threshold.
- ``docs_source_distinctive_terms``: per-source distinctive terms by
  integer tf×(N/df) ranking (the tf-idf family with an exact integer
  score — no libm) — the "what IS this source" fingerprint mixture
  design reads next to the JS-divergence source-similarity matrix.
- ``docs_cross_source_duplication``: the near-dup pair matrix rolled
  up by (source_a, source_b) — which sources copy from each other;
  syndication/mirror detection that tells mixture design when two
  sources are secretly one. Composes the registered verified-pair
  plan; its oracle re-proves the composition.
- ``events_weekly_retention_cohorts``: weekly cohort retention matrix
  (cohort = first-active week, per-offset distinct-user counts +
  retention rate) — the growth-analytics primitive.
- ``events_user_lifecycle``: per-week new / retained / resurrected /
  churned user accounting (growth accounting identity) — one
  user-key window, churn attributed to the week after the last
  active week.
- ``docs_rag_chunk_plan``: deterministic sliding-window chunk plan
  (32-token windows, 24-token stride) per document — the RAG
  chunker's output contract (chunk boundaries, fill, padding waste)
  as exact integer rows, no text materialized.
- ``embeddings_dimension_stats``: per-dimension embedding health
  report (n, zero count, e4-quantized moment sums, mean/var) — the
  dead-dimension / variance-collapse audit run before committing an
  ANN index or a whitening transform.
- ``docs_lang_confusion_matrix``: confusion matrix + per-cell row
  share for the registered NB language classifier vs gold labels —
  composes the classifier verbatim (its oracle is reused as a
  subquery), turning the per-doc prediction surface into the
  per-class error report a lang-routing pipeline actually consumes.
- ``customer_spend_gini_contract``: bucketed Gini / Lorenz-curve
  inequality contract over per-customer spend (exact integer cents,
  256 hash buckets → trapezoid Gini bounds) — the heavy-hitter /
  concentration audit for mixture weights, kept hash-aggregate-only
  (no global sort; the bucketed form is the 100 TB shape). Replaced
  ``orders_duplicate_payment_candidates`` (vacuous on these fixtures:
  zero duplicate-payment groups at every SF).
- ``docs_dedup_survivorship_mix_shift``: per-source corpus mix
  BEFORE vs AFTER keep-min-id cluster dedup (shares in exact micro
  units + shift) — dedup is not mixture-neutral; this is the report
  that catches a dedup pass silently re-weighting sources. Composes
  the registered connected-components assignments.
- ``events_session_stats``: batch 30-min-gap sessionization (same
  merge rule as the streaming ``window_session_30m``) rolled into a
  session-shape profile — one user-key shuffle, both window passes on
  one sort.
- ``docs_neardup_threshold_sweep``: the whole dedup-threshold
  sensitivity curve (per 5% Jaccard band: pair count + cumulative
  at-or-above) from ONE pass over the verified pairs.
- ``events_conversion_lag_histogram``: signup→first-purchase lag in
  hourly buckets — activation latency, one user-keyed hash aggregate.
- ``embeddings_pq_distortion_report``: per-(subspace, code)
  quantization-error ledger (count, e4-exact distortion mass, load
  share) — the is-this-codebook-usable audit; composes the
  registered PQ assignment.
- ``docs_gopher_rule_attribution``: per-rule kill ledger for the
  Gopher battery (n_fail, sole kills, share of kills) — the
  filter-tuning table; same constants and roundings as the
  registered battery.

"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


def _split_hh(c: Column) -> Column:
    """Deterministic hash split bucket — same convention as the r7
    margin-mining / semantic-decontamination split: md5 first byte,
    train = hh < 'cd' (~80%), held-out = hh >= 'e6' (~10%)."""
    return F.substring(F.md5(c.cast("string")), 1, 2)


_HH_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


# --------------------------------------------------------------------
# Tokenizer-aware (token-space) decontamination
# --------------------------------------------------------------------

TOKEN_NGRAM_N = 3  # token trigrams — the smallest span that survives BPE


def _token_contamination_oracle() -> str:
    from .bpe import _bpe_oracle

    # Reuse the registered BPE trainer oracle verbatim: r6_words is the
    # trained (word → syms) segmentation the hash check has already
    # proven — composing it makes THIS query's hash re-prove the
    # tokenize→n-gram→probe pipeline end to end.
    return (
        _bpe_oracle()
        + f"""
    , posw AS (
      SELECT doc_id, {_HH_SQL} AS hh,
             unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), toks AS (
      SELECT p.doc_id, p.hh,
             flatten(list(v.syms ORDER BY p.pos)) AS toks
      FROM posw p JOIN r6_words v USING (word)
      GROUP BY p.doc_id, p.hh
    ), grams AS (
      SELECT doc_id, hh,
             CASE WHEN len(toks) >= {TOKEN_NGRAM_N} THEN
               list_distinct(list_transform(
                 range(1, len(toks) - {TOKEN_NGRAM_N - 2}),
                 i -> array_to_string(toks[i:i + {TOKEN_NGRAM_N - 1}], ' ')))
             ELSE [] END AS gs
      FROM toks
    ), train_grams AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE hh < 'cd'
    ), test AS (
      SELECT doc_id, unnest(gs) AS g FROM grams WHERE hh >= 'e6'
    ), hits AS (
      SELECT t.doc_id, CAST(count(tg.g) AS BIGINT) AS n_shared
      FROM test t LEFT JOIN train_grams tg ON tg.g = t.g
      GROUP BY t.doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.gs) AS BIGINT) AS n_token_trigrams,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_trigrams,
           (coalesce(h.n_shared, 0) > 0) AS contaminated
    FROM grams g LEFT JOIN hits h USING (doc_id)
    WHERE g.hh >= 'e6'
    """
    )


@register(
    "docs_token_space_contamination",
    oracle=_token_contamination_oracle(),
    tags=("llm", "decontamination", "tokenizer"),
)
def docs_token_space_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination in TOKEN space: every held-out doc's
    distinct token trigrams (under the trained BPE segmentation —
    ``bpe_train``, the registered r4 trainer) probed against the train
    split's token-trigram set. The registered lexical decontamination
    works in word space; models consume evals as TOKENS, and BPE can
    both split a changed word (breaking a word 3-gram) and keep a
    token trigram intact across word edits — this is the audit in the
    space the leak actually lives in.

    Exactness: the token stream per doc is the word-order-preserving
    concatenation of the trained per-word segmentations (sorted
    struct collect — deterministic, no collect_list order reliance);
    trigram keys are plain space-joined strings; counts are exact
    integers; trigram positions are never compared cross-engine (only
    membership), so 0- vs 1-based indexing cannot leak.

    Scale (100 TB): tokenization is the vocabulary JOIN (tokenize once
    per distinct word — the registered encode shape), not a per-doc
    re-train; the train gram set collapses to DISTINCT hashes
    (boundable with the registered Bloom variant when the exact set
    outgrows a join side); the probe is one equi-join keyed by gram.
    The held-out side is eval-sized by construction."""
    from .bpe import bpe_train

    _, vocab, _ = bpe_train(spark, sf_dir)
    from ..catalog import load_fanned

    # load_fanned (guide §2.5): the corpus-wide posexplode (~300 word
    # rows per doc) + vocabulary join below otherwise run on the
    # fixture's single scan split; guarded no-op once the scan is wide.
    d = load_fanned(spark, sf_dir, "documents").select(
        "doc_id",
        _split_hh(F.col("doc_id")).alias("hh"),
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    toks = (
        d.join(vocab.select("word", "syms"), "word")
        .groupBy("doc_id", "hh")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("toks")
        )
    )
    n = TOKEN_NGRAM_N
    grams = toks.select(
        "doc_id",
        "hh",
        F.when(
            F.size("toks") >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("gs"),
    ).localCheckpoint(eager=True)
    train_grams = (
        grams.filter(F.col("hh") < "cd")
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    test = grams.filter(F.col("hh") >= "e6")
    hits = (
        test.select("doc_id", F.explode("gs").alias("g"))
        .join(train_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        test.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("gs").cast("bigint").alias("n_token_trigrams"),
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_trigrams"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------
# Two-stage retrieval cascade (shortlist → rerank)
# --------------------------------------------------------------------

CASCADE_N_PROBES = 5  # bounded probe block (the q side never scales)
CASCADE_STAGE1_K = 20  # dense shortlist size per probe
CASCADE_STAGE2_K = 5  # reranked emission


def _rerank_oracle() -> str:
    return f"""
    WITH split AS (
      SELECT doc_id, {_HH_SQL} AS hh FROM documents
    ), vecs AS (
      SELECT s.doc_id, s.hh,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(list_transform(
                    list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                    x -> x * x), (acc, x) -> acc + x)) AS nrm
      FROM split s JOIN embeddings e ON e.vec_id = s.doc_id
    ), probes AS (
      SELECT doc_id AS query_doc_id, v, nrm
      FROM vecs WHERE hh >= 'e6'
      ORDER BY doc_id LIMIT {CASCADE_N_PROBES}
    ), stage1 AS (
      SELECT p.query_doc_id, c.doc_id AS train_doc_id,
             CAST(round(round(list_reduce(list_transform(list_zip(p.v, c.v),
                                                         z -> z[1] * z[2]),
                                          (acc, x) -> acc + x)
                              / (p.nrm * c.nrm), 6) * 1000000.0, 0) AS BIGINT)
               AS c_micro
      FROM probes p, vecs c
      WHERE c.hh < 'cd'
    ), shortlist AS (
      SELECT query_doc_id, train_doc_id, c_micro,
             CAST(row_number() OVER (PARTITION BY query_doc_id
                                     ORDER BY c_micro DESC, train_doc_id)
                  AS BIGINT) AS stage1_rank
      FROM stage1
      QUALIFY stage1_rank <= {CASCADE_STAGE1_K}
    ), wsets AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
      FROM documents
    ), rescored AS (
      SELECT s.query_doc_id, s.train_doc_id, s.c_micro, s.stage1_rank,
             CAST(len(list_intersect(qw.ws, cw.ws)) AS BIGINT) * 1000000
               // (len(qw.ws) + len(cw.ws) - len(list_intersect(qw.ws, cw.ws)))
               AS lex_micro
      FROM shortlist s
      JOIN wsets qw ON qw.doc_id = s.query_doc_id
      JOIN wsets cw ON cw.doc_id = s.train_doc_id
    )
    SELECT query_doc_id, train_doc_id, c_micro, lex_micro,
           c_micro + lex_micro AS blended_micro, stage1_rank,
           CAST(row_number() OVER (PARTITION BY query_doc_id
                                   ORDER BY c_micro + lex_micro DESC,
                                            train_doc_id)
                AS BIGINT) AS stage2_rank
    FROM rescored
    QUALIFY stage2_rank <= {CASCADE_STAGE2_K}
    """


@register(
    "retrieval_rerank_cascade",
    oracle=_rerank_oracle(),
    tags=("llm", "retrieval", "rerank"),
)
def retrieval_rerank_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval cascade, the production RAG shape: a cheap
    high-recall dense stage builds a top-20 shortlist per probe, then
    an expensive high-precision cross-scorer reruns ONLY the shortlist
    and re-ranks it. The cross-score here is cosine ⊕ exact
    distinct-word overlap (an integer-exact deterministic stand-in for
    a cross-encoder forward pass — swapping in a model scorer changes
    the blend expression, not the plan). Emits both ranks so the
    cascade's reordering is itself auditable (stage2_rank vs
    stage1_rank deltas are the rerank's value-add).

    Exactness: cosines are 6-dp-rounded then micro-quantized (the
    proven margin-mining pattern); lexical overlap is exact integer
    Jaccard via cross-multiplied ``DIV`` (shared·1e6 / union — integer
    division, positive operands, identical in both engines); the blend
    is an integer sum; ties break on train_doc_id.

    Scale (100 TB): the probe block is CONSTANT-bounded (never grows
    with the corpus); stage 1 streams the corpus once against the
    broadcast probes; document TEXT is joined only for the
    |probes|·20 shortlist — the entire point of the cascade is that
    the expensive scorer's input is rank-bounded, not corpus-bounded."""
    from .similarity import _dot, _norm

    d = load(spark, sf_dir, "documents").select(
        "doc_id", _split_hh(F.col("doc_id")).alias("hh")
    )
    e = load(spark, sf_dir, "embeddings")
    vecs = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            "hh",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select("doc_id", "hh", "v", _norm(F.col("v")).alias("nrm"))
    )
    probes = (
        vecs.filter(F.col("hh") >= "e6")
        .orderBy("doc_id")
        .limit(CASCADE_N_PROBES)
        .select(
            F.col("doc_id").alias("query_doc_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    train = vecs.filter(F.col("hh") < "cd").select(
        F.col("doc_id").alias("train_doc_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    c_micro = F.round(
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), 6)
        * 1e6,
        0,
    ).cast("bigint")
    w1 = Window.partitionBy("query_doc_id").orderBy(
        F.desc("c_micro"), F.asc("train_doc_id")
    )
    shortlist = (
        train.join(F.broadcast(probes))
        .select("query_doc_id", "train_doc_id", c_micro.alias("c_micro"))
        .withColumn("stage1_rank", F.row_number().over(w1).cast("bigint"))
        .filter(F.col("stage1_rank") <= CASCADE_STAGE1_K)
    )
    wsets = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )
    qw = wsets.select(
        F.col("doc_id").alias("query_doc_id"), F.col("ws").alias("qws")
    )
    cw = wsets.select(
        F.col("doc_id").alias("train_doc_id"), F.col("ws").alias("cws")
    )
    rescored = (
        shortlist.join(qw, "query_doc_id")
        .join(cw, "train_doc_id")
        .select(
            "query_doc_id",
            "train_doc_id",
            "c_micro",
            "stage1_rank",
            # exact integer Jaccard: shared·1e6 DIV union — floor
            # division of positive integers, identical cross-engine
            F.expr(
                "CAST(size(array_intersect(qws, cws)) AS BIGINT) * 1000000"
                " DIV (size(qws) + size(cws)"
                "      - size(array_intersect(qws, cws)))"
            ).alias("lex_micro"),
        )
    )
    w2 = Window.partitionBy("query_doc_id").orderBy(
        F.desc("blended_micro"), F.asc("train_doc_id")
    )
    return (
        rescored.withColumn(
            "blended_micro", F.col("c_micro") + F.col("lex_micro")
        )
        .withColumn("stage2_rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("stage2_rank") <= CASCADE_STAGE2_K)
        .select(
            "query_doc_id",
            "train_doc_id",
            "c_micro",
            "lex_micro",
            "blended_micro",
            "stage1_rank",
            "stage2_rank",
        )
    )


# --------------------------------------------------------------------
# Quality-score calibration (reliability table + Brier terms)
# --------------------------------------------------------------------

# Integer keep-probability proxy built from the SAME structural
# features the registered Gopher battery consumes: p_micro =
# min(1e6, 9000·distinct_words + 30000·stopword_hits). The exact
# coefficients are a config choice — what the audit verifies is the
# CALIBRATION machinery (binning, per-bin gap, Brier terms), which is
# scorer-agnostic.
BRIER_W_DISTINCT = 9_000
BRIER_W_STOP = 30_000
BRIER_N_BINS = 10


def _brier_oracle() -> str:
    from .quality import (
        MAX_MEAN_WORD_LEN,
        MAX_WORDS,
        MIN_DISTINCT_FRAC,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
        REQUIRED_STOPWORDS,
    )

    return f"""
    WITH w AS (
      SELECT doc_id,
             string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n_words,
             n_chars
      FROM documents
    ), feat AS (
      SELECT doc_id, n_words,
             CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(words, x -> x IN {REQUIRED_STOPWORDS!r}))
                  AS BIGINT) AS stop_hits,
             round((CAST(n_chars AS DOUBLE) - n_words + 1) / n_words, 4)
               AS mean_word_len,
             round(CAST(len(list_distinct(words)) AS DOUBLE) / n_words, 4)
               AS distinct_frac
      FROM w
    ), scored AS (
      SELECT doc_id,
             least({BRIER_W_DISTINCT} * n_distinct
                   + {BRIER_W_STOP} * stop_hits, 1000000) AS p_micro,
             CAST((n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
              AND (mean_word_len BETWEEN {MIN_MEAN_WORD_LEN}
                                     AND {MAX_MEAN_WORD_LEN})
              AND stop_hits >= {MIN_STOPWORD_HITS}
              AND distinct_frac >= {MIN_DISTINCT_FRAC} AS INT) AS y
      FROM feat
    )
    SELECT least(p_micro // 100000, {BRIER_N_BINS - 1}) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_micro) // count(*) AS BIGINT) AS mean_p_micro,
           CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS keep_rate_micro,
           CAST(abs(sum(p_micro) // count(*)
                    - sum(y) * 1000000 // count(*)) AS BIGINT) AS gap_micro,
           CAST(sum((p_micro - y * 1000000) * (p_micro - y * 1000000))
                // count(*) AS BIGINT) AS brier_mean_micro2
    FROM scored
    GROUP BY 1
    """


@register(
    "docs_quality_brier_reliability",
    oracle=_brier_oracle(),
    tags=("llm", "quality", "calibration", "report"),
)
def docs_quality_brier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of a keep-probability score against the
    registered Gopher keep verdict: a 10-bin reliability table (mean
    predicted probability vs observed keep rate per bin, and their
    gap) plus the per-bin mean Brier term — the report that decides
    whether a quality scorer's probabilities can be TRUSTED as gates
    (a miscalibrated scorer ranks fine but thresholds wrong; cf. the
    reliability-diagram methodology quality-classifier ablations use).

    Exactness: the score is integer micro by construction; the keep
    label replicates the registered Gopher conjunction expression for
    expression (same constants, same 4-dp roundings); every per-bin
    statistic is integer arithmetic — floor divisions of nonnegative
    integers (``DIV``/``//``, identical cross-engine) and an exact
    integer Brier term (p−y·1e6)² summed order-free.

    Scale (100 TB): ONE scan → per-doc integer features (codegen, no
    shuffle) → a ≤10-group hash aggregate with map-side combine. The
    Brier term sum is bounded by n·1e12 — swap the BIGINT accumulator
    for DECIMAL(38,0) past ~9e6 rows per bin·partition; noted, not
    hit at fixture scale."""
    from .quality import (
        MAX_MEAN_WORD_LEN,
        MAX_WORDS,
        MIN_DISTINCT_FRAC,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
        REQUIRED_STOPWORDS,
    )

    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words)).cast("bigint")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*REQUIRED_STOPWORDS))
    ).cast("bigint")
    mean_word_len = F.round(
        (F.col("n_chars").cast("double") - n_words + 1) / n_words, 4
    )
    distinct_frac = F.round(n_distinct.cast("double") / n_words, 4)
    keep = (
        n_words.between(MIN_WORDS, MAX_WORDS)
        & mean_word_len.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (stop_hits >= MIN_STOPWORD_HITS)
        & (distinct_frac >= MIN_DISTINCT_FRAC)
    )
    scored = d.select(
        F.least(
            F.lit(BRIER_W_DISTINCT) * n_distinct + F.lit(BRIER_W_STOP) * stop_hits,
            F.lit(1_000_000).cast("bigint"),
        ).alias("p_micro"),
        keep.cast("int").alias("y"),
    )
    agg = scored.groupBy(
        F.least(
            F.expr("p_micro DIV 100000"), F.lit(BRIER_N_BINS - 1).cast("bigint")
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p_micro").alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(
            (F.col("p_micro") - F.col("y") * 1_000_000)
            * (F.col("p_micro") - F.col("y") * 1_000_000)
        ).alias("sb"),
    )
    return agg.select(
        "bin",
        "n_docs",
        F.expr("sp DIV n_docs").alias("mean_p_micro"),
        F.expr("(sy * 1000000) DIV n_docs").alias("keep_rate_micro"),
        F.expr("abs(sp DIV n_docs - (sy * 1000000) DIV n_docs)").alias(
            "gap_micro"
        ),
        F.expr("sb DIV n_docs").alias("brier_mean_micro2"),
    )


# --------------------------------------------------------------------
# Distinctive terms per source (integer tf×(N/df) ranking)
# --------------------------------------------------------------------

DISTINCTIVE_TOP_K = 5


def _distinctive_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tfc AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM tf GROUP BY 1, 2
    ), dfc AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term
    ), ns AS (
      SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents
    )
    SELECT source, term, tf, df, score, rank
    FROM (
      SELECT t.source, t.term, t.tf, d.df,
             t.tf * n.n_sources * 1000000 // d.df AS score,
             CAST(row_number() OVER (
               PARTITION BY t.source
               ORDER BY t.tf * n.n_sources * 1000000 // d.df DESC, t.term
             ) AS BIGINT) AS rank
      FROM tfc t JOIN dfc d USING (term) CROSS JOIN ns n
    )
    WHERE rank <= {DISTINCTIVE_TOP_K}
    """


@register(
    "docs_source_distinctive_terms",
    oracle=_distinctive_oracle(),
    tags=("llm", "text", "report"),
)
def docs_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} distinctive terms per source by the integer
    tf×(N_sources/df) ranking — the tf-idf family with an EXACT
    integer score (tf · N · 1e6 floor-divided by document frequency;
    no libm log anywhere, so the cross-engine ulp hazard class is
    structurally absent). The "what is this source actually about"
    fingerprint mixture design reads next to the JS-divergence
    source-similarity matrix: JS says two sources differ, this says
    HOW.

    Scale (100 TB): one (source, term) hash aggregate over the word
    explode (map-side combined — the Zipf head collapses early), one
    term-keyed df aggregate on the ALREADY-AGGREGATED tf table (term
    cardinality, not corpus), a 1-row source count broadcast, and a
    per-source top-k window over source-bounded groups. df here is
    source-granular (# sources containing the term) so the rank table
    is vocab-sized, never corpus-sized."""
    d = load(spark, sf_dir, "documents")
    tfc = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).localCheckpoint(eager=True)
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ns = d.agg(F.countDistinct("source").alias("n_sources"))
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term"))
    return (
        tfc.join(dfc, "term")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.expr("tf * n_sources * 1000000 DIV df").alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= DISTINCTIVE_TOP_K)
    )


# --------------------------------------------------------------------
# Cross-source duplication matrix
# --------------------------------------------------------------------


def _cross_source_oracle() -> str:
    from .dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL

    # Reuse the registered verified-pair oracle verbatim — the hash
    # check of this matrix re-proves the pair plan it composes.
    return f"""
    WITH g AS MATERIALIZED (
{GRAMS_CTE_SQL}
    ), p AS (
{JACCARD_PAIRS_SQL}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(p.jaccard) AS min_jaccard,
           max(p.jaccard) AS max_jaccard
    FROM p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """


@register(
    "docs_cross_source_duplication",
    oracle=_cross_source_oracle(),
    tags=("llm", "dedup", "report"),
)
def docs_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair matrix rolled up by source pair: for every
    verified trigram-Jaccard ≥ 0.30 pair, the (source_a, source_b)
    cell it lands in (canonically ordered), with pair count and the
    jaccard range — syndication/mirror detection. Off-diagonal mass
    means two sources are secretly the same feed (mixture weights
    double-count them); diagonal mass is within-source churn ordinary
    dedup already handles.

    Composes the registered ``docs_ngram_jaccard_pairs`` plan
    verbatim; the oracle reuses its SQL as a subquery, so the hash
    check re-proves the composition. min/max aggregate over 6-dp
    cosines SELECT one existing value (no float accumulation).

    Scale (100 TB): pair volume is inverted-index-bounded (never
    all-pairs); the two source lookups are doc-keyed joins against a
    (doc_id, source) projection — broadcastable per AQE at fixture
    scale, hash joins beyond; the final matrix is |sources|² bounded."""
    from .dedup import docs_ngram_jaccard_pairs

    pairs = docs_ngram_jaccard_pairs(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# --------------------------------------------------------------------
# Weekly retention cohorts + growth accounting
# --------------------------------------------------------------------


def _retention_oracle() -> str:
    return """
    WITH d0 AS (
      SELECT min(CAST(ts AS DATE)) AS d0 FROM events
    ), uw AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', d0.d0, CAST(e.ts AS DATE)) // 7 AS week
      FROM events e CROSS JOIN d0
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
    ), cs AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY cohort_week
    )
    SELECT c.cohort_week,
           uw.week - c.cohort_week AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           cs.cohort_size,
           CAST(count(*) * 1000000 // cs.cohort_size AS BIGINT)
             AS retention_micro
    FROM uw
    JOIN cohort c USING (user_id)
    JOIN cs ON cs.cohort_week = c.cohort_week
    GROUP BY c.cohort_week, uw.week - c.cohort_week, cs.cohort_size
    """


@register(
    "events_weekly_retention_cohorts",
    oracle=_retention_oracle(),
    tags=("events", "analytics", "report"),
)
def events_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = a user's first active
    week (weeks counted from the corpus min date — an integer day
    bucket, NOT an engine week-truncation, so Monday-vs-Sunday /
    ISO-week semantics can never diverge); each (cohort, offset) cell
    counts distinct users active that week with the exact-integer
    retention rate. The canonical growth-analytics triangle.

    Scale (100 TB): one distinct (user, week) aggregate is the only
    event-volume shuffle (map-side combined); cohorts are one
    user-keyed aggregate ON that frame; the matrix is
    |weeks|²-bounded. The min-date anchor is a scalar broadcast.
    Timestamps stay NTZ; day arithmetic is date-based (DST-immune)."""
    e = load(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    uw = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.expr("CAST(datediff(CAST(ts AS DATE), d0) AS BIGINT) DIV 7").alias(
                "week"
            ),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cs = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        uw.join(cohort, "user_id")
        .join(F.broadcast(cs), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "cohort_size",
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("(n_active * 1000000) DIV cohort_size").alias(
                "retention_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# Growth accounting: new / retained / resurrected / churned per week
# --------------------------------------------------------------------


def _lifecycle_oracle() -> str:
    return """
    WITH d0 AS (
      SELECT min(CAST(ts AS DATE)) AS d0,
             max(CAST(ts AS DATE)) AS d1
      FROM events
    ), uw AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', d0.d0, CAST(e.ts AS DATE)) // 7 AS week
      FROM events e CROSS JOIN d0
    ), maxw AS (
      SELECT date_diff('day', d0, d1) // 7 AS max_week FROM d0
    ), lagged AS (
      SELECT user_id, week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
             lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
      FROM uw
    ), states AS (
      SELECT week,
             CASE WHEN prev_week IS NULL THEN 'new'
                  WHEN week - prev_week = 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM lagged
      UNION ALL
      SELECT l.week + 1 AS week, 'churned' AS state
      FROM lagged l CROSS JOIN maxw m
      WHERE (l.next_week IS NULL OR l.next_week > l.week + 1)
        AND l.week + 1 <= m.max_week
    )
    SELECT week, state, CAST(count(*) AS BIGINT) AS n_users
    FROM states GROUP BY week, state
    """


@register(
    "events_user_lifecycle",
    oracle=_lifecycle_oracle(),
    tags=("events", "analytics", "report"),
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per week, how many users are new (first
    active week), retained (also active the prior week), resurrected
    (active after a gap), and churned (active week w, not w+1 —
    attributed to w+1, never past the corpus horizon). The identity
    actives(w) = new + retained + resurrected and the churn ledger
    are the product-health decomposition behind every DAU/WAU chart.

    Scale (100 TB): the distinct (user, week) aggregate is the only
    event-volume shuffle; both window passes (lag + lead) ride ONE
    user-key partition sort of that already-collapsed frame; the
    churn branch is a projection of the same frame (no self-join);
    final rollup is |weeks|·4-bounded. Week buckets are integer day
    arithmetic from the min-date anchor (no engine week truncation);
    the horizon guard keeps the last week from fake-churning."""
    e = load(spark, sf_dir, "events")
    d0 = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    uw = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.expr("CAST(datediff(CAST(ts AS DATE), d0) AS BIGINT) DIV 7").alias(
                "week"
            ),
        )
        .distinct()
    )
    maxw = d0.select(
        F.expr("CAST(datediff(d1, d0) AS BIGINT) DIV 7").alias("max_week")
    )
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_week"),
        F.lead("week").over(w).alias("next_week"),
    ).localCheckpoint(eager=True)
    states = lagged.select(
        "week",
        F.when(F.col("prev_week").isNull(), F.lit("new"))
        .when(F.col("week") - F.col("prev_week") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    ).unionAll(
        lagged.crossJoin(F.broadcast(maxw))
        .filter(
            (F.col("next_week").isNull() | (F.col("next_week") > F.col("week") + 1))
            & (F.col("week") + 1 <= F.col("max_week"))
        )
        .select((F.col("week") + 1).alias("week"), F.lit("churned").alias("state"))
    )
    return states.groupBy("week", "state").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --------------------------------------------------------------------
# RAG chunk plan (sliding token windows)
# --------------------------------------------------------------------

CHUNK_W = 32  # window (tokens)
CHUNK_S = 24  # stride (tokens) → 8-token overlap


def _chunk_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n
      FROM documents
    ), nc AS (
      SELECT doc_id, n,
             CASE WHEN n <= {CHUNK_W} THEN 1
                  ELSE 1 + (n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}
             END AS n_chunks
      FROM d
    ), ks AS (
      SELECT doc_id, n, n_chunks,
             unnest(range(0, n_chunks)) AS k
      FROM nc
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_idx,
           CAST(k * {CHUNK_S} + 1 AS BIGINT) AS start_tok,
           CAST(least(k * {CHUNK_S} + {CHUNK_W}, n) AS BIGINT) AS end_tok,
           CAST(least(k * {CHUNK_S} + {CHUNK_W}, n)
                - k * {CHUNK_S} AS BIGINT) AS n_toks,
           (k = n_chunks - 1) AS is_last,
           CAST({CHUNK_W} - (least(k * {CHUNK_S} + {CHUNK_W}, n)
                             - k * {CHUNK_S}) AS BIGINT) AS pad_toks
    FROM ks
    """


@register(
    "docs_rag_chunk_plan",
    oracle=_chunk_oracle(),
    tags=("llm", "rag", "chunking"),
)
def docs_rag_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sliding-window chunk plan per document —
    {CHUNK_W}-token windows at a {CHUNK_S}-token stride (8-token
    overlap), the RAG chunker's boundary contract: one row per chunk
    with 1-based token boundaries, fill, last-chunk flag, and padding
    waste. Planning the boundaries as integer rows (no text
    materialized) is what lets a 100 TB chunking job audit its padding
    overhead BEFORE paying the embed pass — and the boundary math is
    the part that silently drifts between implementations (fencepost
    at n ≤ W, short final chunk), so it is what the oracle pins.

    Exactness: pure integer arithmetic both sides — ceil division via
    (n − W + S − 1) DIV S on positive operands, 1-based boundaries by
    OUR convention in both plans (no engine array indexing is ever
    compared). Scale: one scan, one generator explode — output is
    ~n_tokens/{CHUNK_S} rows per doc, no shuffle at all."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    nc = d.select(
        "doc_id",
        "n",
        F.when(F.col("n") <= CHUNK_W, F.lit(1).cast("bigint"))
        .otherwise(
            F.lit(1)
            + F.expr(f"(n - {CHUNK_W} + {CHUNK_S} - 1) DIV {CHUNK_S}")
        )
        .alias("n_chunks"),
    )
    ks = nc.select(
        "doc_id",
        "n",
        "n_chunks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
            "k"
        ),
    )
    end = F.least(F.col("k") * CHUNK_S + CHUNK_W, F.col("n"))
    return ks.select(
        "doc_id",
        F.col("k").alias("chunk_idx"),
        (F.col("k") * CHUNK_S + 1).alias("start_tok"),
        end.alias("end_tok"),
        (end - F.col("k") * CHUNK_S).alias("n_toks"),
        (F.col("k") == F.col("n_chunks") - 1).alias("is_last"),
        (F.lit(CHUNK_W) - (end - F.col("k") * CHUNK_S)).alias("pad_toks"),
    )


# --------------------------------------------------------------------
# Per-dimension embedding health report
# --------------------------------------------------------------------


def _dim_stats_oracle() -> str:
    return """
    WITH x AS (
      SELECT unnest(embedding) AS xv,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ), q AS (
      SELECT dim,
             CAST(round(CAST(xv AS DOUBLE) * 10000.0, 0) AS BIGINT) AS qv
      FROM x
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum(qv) AS BIGINT) AS sum_e4,
           CAST(sum(qv * qv) AS BIGINT) AS sumsq_e8,
           round(CAST(sum(qv) AS DOUBLE) / count(*) / 10000.0, 6) AS mean,
           round(CAST(sum(qv * qv) AS DOUBLE) / count(*) / 100000000.0
                 - (CAST(sum(qv) AS DOUBLE) / count(*) / 10000.0)
                   * (CAST(sum(qv) AS DOUBLE) / count(*) / 10000.0),
                 6) AS variance
    FROM q
    GROUP BY dim
    """


@register(
    "embeddings_dimension_stats",
    oracle=_dim_stats_oracle(),
    tags=("llm", "embedding", "report"),
)
def embeddings_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health report: count, exact zero count,
    e4-quantized moment sums, mean and (population) variance per
    coordinate — the dead-dimension / variance-collapse / scale-drift
    audit run before committing an ANN index, a PQ codebook, or a
    whitening transform (a dimension whose variance collapsed carries
    no distance signal but still costs index bytes).

    Exactness: each element quantizes to integer e4 units BEFORE any
    aggregation (the order-free-integer-sum rule — float sums are
    order-dependent, these never are); mean/variance are then fixed
    expression trees over exact integers — bit-identical single/chained
    IEEE ops, the proven margin/variance pattern. Dimension ids are
    1-based by explicit convention in BOTH plans (Spark pos+1 vs
    DuckDB generate_subscripts) — engine positional semantics never
    meet the hash. sumsq fits BIGINT to ~9e9 rows·dim at |x| ≤ 3; the
    DECIMAL(38,0) accumulator swap is the trillion-row note.

    Scale (100 TB): ONE scan, one |dims|-group hash aggregate with
    map-side combine — shuffle is 64 rows per partition regardless of
    corpus size."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        F.posexplode("embedding").alias("pos", "xv")
    ).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("xv").cast("double") * 10000.0, 0).cast("bigint").alias("qv"),
    )
    agg = q.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("qv") == 0, 1).otherwise(0)).cast("bigint").alias(
            "n_zero"
        ),
        F.sum("qv").alias("sum_e4"),
        F.sum(F.col("qv") * F.col("qv")).alias("sumsq_e8"),
    )
    mean = F.col("sum_e4").cast("double") / F.col("n") / 10000.0
    return agg.select(
        "dim",
        "n",
        "n_zero",
        "sum_e4",
        "sumsq_e8",
        F.round(mean, 6).alias("mean"),
        F.round(
            F.col("sumsq_e8").cast("double") / F.col("n") / 100000000.0
            - mean * mean,
            6,
        ).alias("variance"),
    )


# --------------------------------------------------------------------
# Language-classifier confusion matrix
# --------------------------------------------------------------------


def _confusion_oracle() -> str:
    from .classifier import _NB_ORACLE

    # The registered classifier oracle verbatim as a subquery — this
    # matrix's hash check re-proves the whole NB scoring pipeline.
    return f"""
    WITH preds AS MATERIALIZED (
{_NB_ORACLE}
    ), cells AS (
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM preds GROUP BY 1, 2
    ), rows_ AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS row_total FROM cells GROUP BY lang
    ), cols_ AS (
      SELECT pred_lang, CAST(sum(n) AS BIGINT) AS col_total
      FROM cells GROUP BY pred_lang
    )
    SELECT c.lang, c.pred_lang, c.n, r.row_total, co.col_total,
           CAST(c.n * 1000000 // r.row_total AS BIGINT) AS row_share_micro,
           (c.lang = c.pred_lang) AS is_correct
    FROM cells c
    JOIN rows_ r USING (lang)
    JOIN cols_ co USING (pred_lang)
    """


@register(
    "docs_lang_confusion_matrix",
    oracle=_confusion_oracle(),
    tags=("llm", "classifier", "report"),
)
def docs_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the registered NB language classifier vs
    the gold ``lang`` labels: one row per observed (actual, predicted)
    cell with count, row/column totals, and the exact row share
    (recall contribution) — the per-class error report a
    language-routing pipeline reads (which languages leak into which,
    whether a class's errors concentrate in one confusable neighbor).

    Composes ``docs_nb_lang_classifier`` verbatim on the Spark side
    and embeds its oracle as a subquery on the DuckDB side, so this
    hash check re-proves the entire NB scoring pipeline plus the
    rollup. All emitted numbers are exact integers (floor-division
    share on positive operands).

    Scale (100 TB): the classifier's own cost dominates (see its
    module docstring — vocabulary-bounded broadcast scoring); this
    rollup adds one |langs|²-group hash aggregate and two
    |langs|-sized broadcast joins."""
    from .classifier import docs_nb_lang_classifier

    preds = docs_nb_lang_classifier(spark, sf_dir)
    cells = (
        preds.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    rows_ = cells.groupBy("lang").agg(F.sum("n").alias("row_total"))
    cols_ = cells.groupBy("pred_lang").agg(F.sum("n").alias("col_total"))
    return (
        cells.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "pred_lang")
        .select(
            "lang",
            "pred_lang",
            "n",
            "row_total",
            "col_total",
            F.expr("(n * 1000000) DIV row_total").alias("row_share_micro"),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
    )


# --------------------------------------------------------------------
# Customer spend Gini (sortless, histogram-exact)
# --------------------------------------------------------------------

GINI_BUCKET_CENTS = 100_000  # $1,000 buckets — domain-bounded histogram


@register(
    "customer_spend_gini_contract",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), h AS (
      SELECT cents // {GINI_BUCKET_CENTS} AS b,
             CAST(count(*) AS BIGINT) AS n_c
      FROM spend GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_c) AS BIGINT) AS n,
             CAST(sum(n_c * b) AS BIGINT) AS mass,
             CAST(count(*) AS BIGINT) AS n_buckets
      FROM h
    ), numer AS (
      SELECT CAST(sum(a.n_c * b2.n_c * abs(a.b - b2.b)) AS BIGINT) AS num
      FROM h a CROSS JOIN h b2
    )
    SELECT t.n AS n_customers,
           t.n_buckets,
           t.mass AS total_bucket_units,
           nu.num AS gini_numer,
           2 * t.n * t.mass AS gini_denom,
           round(CAST(nu.num AS DOUBLE) / (2 * t.n * t.mass), 6) AS gini
    FROM tot t CROSS JOIN numer nu
    """,
    tags=("analytics", "governance", "report"),
)
def customer_spend_gini_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime spend, computed SORTLESS
    from a domain-bounded histogram: spend in exact DECIMAL cents →
    $1,000 buckets → Gini as the exact mean-absolute-difference
    identity Σᵢⱼ nᵢnⱼ|vᵢ−vⱼ| / (2n·Σnᵢvᵢ) over bucket pairs — the
    inequality audit (how concentrated is revenue) beside the ABC
    classification's cumulative-share cut. The classic rank-based Gini
    formula needs a GLOBAL sort of all customers; the histogram
    identity replaces it with a triangular self-join of a ≤ few-hundred-
    row bucket table — the same sortless-cut machinery as the
    registered RFM quintiles, at 100 TB the difference between a
    corpus sort and dimension-table arithmetic.

    Exactness: numerator and denominator are emitted as EXACT BIGINTs
    (pairwise products bounded: nᵢnⱼ·|Δb| ≤ n²·b_max ≈ 1e14 at
    fixture scale; the DECIMAL(38,0) swap is the note past ~1e9
    customers); the Gini itself is ONE IEEE division of those exact
    integers, 6-dp rounded — bit-identical cross-engine. Bucketing is
    integer floor division of nonnegative cents."""
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        (
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)") * 100)
        )
        .cast("bigint")
        .alias("cents")
    )
    h = (
        spend.select(F.expr(f"cents DIV {GINI_BUCKET_CENTS}").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_c"))
        .localCheckpoint(eager=True)
    )
    tot = h.agg(
        F.sum("n_c").alias("n"),
        F.sum(F.col("n_c") * F.col("b")).alias("mass"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    h2 = h.select(F.col("b").alias("b2"), F.col("n_c").alias("n_c2"))
    numer = (
        h.crossJoin(h2)
        .agg(
            F.sum(
                F.col("n_c") * F.col("n_c2") * F.abs(F.col("b") - F.col("b2"))
            ).alias("num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(numer))
        .select(
            F.col("n").alias("n_customers"),
            "n_buckets",
            F.col("mass").alias("total_bucket_units"),
            F.col("num").alias("gini_numer"),
            (F.lit(2) * F.col("n") * F.col("mass")).alias("gini_denom"),
            F.round(
                F.col("num").cast("double")
                / (F.lit(2) * F.col("n") * F.col("mass")),
                6,
            ).alias("gini"),
        )
    )


# --------------------------------------------------------------------
# Dedup survivorship: per-source mix shift
# --------------------------------------------------------------------


def _mix_shift_oracle() -> str:
    from .clusters import _clusters_oracle

    return f"""
    WITH clus AS MATERIALIZED (
{_clusters_oracle()}
    ), tagged AS (
      SELECT c.doc_id, c.cluster_rep, d.source
      FROM clus c JOIN documents d ON d.doc_id = c.doc_id
    ), per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_before,
             CAST(sum(CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_after
      FROM tagged GROUP BY source
    ), tots AS (
      SELECT CAST(sum(n_before) AS BIGINT) AS t_before,
             CAST(sum(n_after) AS BIGINT) AS t_after
      FROM per_src
    )
    SELECT p.source, p.n_before, p.n_after,
           CAST(p.n_before - p.n_after AS BIGINT) AS n_removed,
           CAST(p.n_before * 1000000 // t.t_before AS BIGINT)
             AS share_before_micro,
           CAST(p.n_after * 1000000 // t.t_after AS BIGINT)
             AS share_after_micro,
           CAST(p.n_after * 1000000 // t.t_after
                - p.n_before * 1000000 // t.t_before AS BIGINT)
             AS shift_micro
    FROM per_src p CROSS JOIN tots t
    """


@register(
    "docs_dedup_survivorship_mix_shift",
    oracle=_mix_shift_oracle(),
    tags=("llm", "dedup", "mixture", "report"),
)
def docs_dedup_survivorship_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mix BEFORE vs AFTER keep-min-id cluster dedup
    — exact micro shares and the shift. Dedup is not mixture-neutral:
    a syndicated source loses most of its mass (its docs cluster with
    the origin's and lose the min-id race), silently re-weighting the
    mixture someone tuned upstream. This report is the check that a
    dedup pass didn't quietly change WHAT the corpus is made of —
    run it next to ``docs_cross_source_duplication`` (which predicts
    exactly which sources will bleed).

    Composes the registered connected-components assignments verbatim
    (oracle embeds the recursive-CTE clusters oracle, so the hash
    re-proves the composition). Shares are floor divisions of exact
    nonnegative counts; the shift is their integer difference
    (subtraction AFTER both floor divisions, identically bracketed in
    both plans).

    Scale (100 TB): clustering dominates (banded LSH → CC — the
    registered plan); this adds one doc-keyed source join and a
    |sources|-group aggregate."""
    from .clusters import docs_dup_clusters

    clus = docs_dup_clusters(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        clus.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                F.when(F.col("doc_id") == F.col("cluster_rep"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_after"),
        )
        .localCheckpoint(eager=True)
    )
    tots = per_src.agg(
        F.sum("n_before").alias("t_before"), F.sum("n_after").alias("t_after")
    )
    return (
        per_src.crossJoin(F.broadcast(tots))
        .select(
            "source",
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_removed"),
            F.expr("(n_before * 1000000) DIV t_before").alias(
                "share_before_micro"
            ),
            F.expr("(n_after * 1000000) DIV t_after").alias("share_after_micro"),
            F.expr(
                "(n_after * 1000000) DIV t_after"
                " - (n_before * 1000000) DIV t_before"
            ).alias("shift_micro"),
        )
    )


# --------------------------------------------------------------------
# Batch sessionization report (30-min gap)
# --------------------------------------------------------------------

SESSION_GAP_SEC = 1800


def _session_stats_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_id,
             date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
      FROM events
    ), f AS (
      SELECT user_id, event_id, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                    OR sec - lag(sec) OVER w >= {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ), s AS (
      SELECT user_id, sec,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    ), per AS (
      SELECT user_id, sid,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(sec) - min(sec) AS BIGINT) AS dur
      FROM s GROUP BY 1, 2
    )
    SELECT n_events,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(dur) AS BIGINT) AS total_duration_sec,
           CAST(min(dur) AS BIGINT) AS min_duration_sec,
           CAST(max(dur) AS BIGINT) AS max_duration_sec
    FROM per GROUP BY n_events
    """


@register(
    "events_session_stats",
    oracle=_session_stats_oracle(),
    tags=("events", "analytics", "report"),
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization report: stitch each user's events into
    30-minute-gap sessions (a gap ≥ {SESSION_GAP_SEC}s starts a new
    session — the same merge rule as the registered streaming
    ``window_session_30m``, so the batch and streaming session
    definitions provably agree), then the session-shape profile:
    per events-per-session count, how many sessions, and the
    duration spread. The engagement-shape table capacity planning
    and bot detection both read (1-event sessions are bounces;
    100-event sessions are scrapers).

    Exactness: per-event integer seconds from a NAIVE epoch anchor
    (``timestampdiff`` on TIMESTAMP_NTZ — never consults the session
    timezone); gaps/durations are differences of those integers, so
    boundary-crossing vs truncation semantics can never diverge;
    (sec, event_id) ordering makes the lag deterministic under ties.

    Scale (100 TB): ONE shuffle on user_id; the lag pass and the
    running-sum session-id pass ride the SAME partition sort (Spark
    plans one Exchange + one Sort reused by both windows — the proven
    gaps-and-islands shape); then two hash aggregates, the second on
    a |session-shapes|-sized frame."""
    e = load(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "sec",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) >= SESSION_GAP_SEC),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.select(
        "user_id", "sec", F.sum("is_new").over(wsum).alias("sid")
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("dur"),
    )
    return per.groupBy("n_events").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur").alias("total_duration_sec"),
        F.min("dur").alias("min_duration_sec"),
        F.max("dur").alias("max_duration_sec"),
    )


# --------------------------------------------------------------------
# Near-dup threshold sweep (one-pass sensitivity analysis)
# --------------------------------------------------------------------

SWEEP_BUCKET_MICRO = 50_000  # 5%-wide Jaccard buckets


def _threshold_sweep_oracle() -> str:
    from .dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL

    return f"""
    WITH g AS MATERIALIZED (
{GRAMS_CTE_SQL}
    ), p AS (
{JACCARD_PAIRS_SQL}
    ), h AS (
      SELECT CAST(round(jaccard * 1000000.0, 0) AS BIGINT)
               // {SWEEP_BUCKET_MICRO} AS bucket,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY 1
    )
    SELECT a.bucket,
           CAST(a.bucket * {SWEEP_BUCKET_MICRO} AS BIGINT) AS threshold_micro,
           a.n_pairs,
           CAST(sum(b.n_pairs) AS BIGINT) AS n_pairs_at_or_above
    FROM h a JOIN h b ON b.bucket >= a.bucket
    GROUP BY a.bucket, a.n_pairs
    """


@register(
    "docs_neardup_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    tags=("llm", "dedup", "report"),
)
def docs_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity in ONE pass: the verified near-dup
    pairs bucketed by Jaccard into 5%-wide bands, each with its count
    and the cumulative count at-or-above — i.e. how many pairs a
    dedup pass would act on at every candidate threshold, from one
    pair scan. The alternative (re-running the pair pipeline per
    threshold) multiplies the most expensive plan in the repo by the
    sweep size; this emits the whole sensitivity curve for free.

    Composes the registered ``docs_ngram_jaccard_pairs`` verbatim
    (oracle embeds its SQL). The 6-dp jaccard is micro-quantized with
    the proven round-then-cast pattern before bucketing, so band
    edges are integer comparisons. The cumulative column is a
    triangular self-join of the ≤20-row band table (broadcast; no
    window, no single-partition exchange).

    Scale (100 TB): pair volume is inverted-index-bounded; on top of
    the pair plan this adds one ≤20-group hash aggregate and
    20²-row arithmetic."""
    from .dedup import docs_ngram_jaccard_pairs

    pairs = docs_ngram_jaccard_pairs(spark, sf_dir)
    h = (
        pairs.select(
            F.expr(
                f"CAST(round(jaccard * 1000000.0, 0) AS BIGINT)"
                f" DIV {SWEEP_BUCKET_MICRO}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .localCheckpoint(eager=True)
    )
    h2 = h.select(F.col("bucket").alias("b2"), F.col("n_pairs").alias("n2"))
    return (
        h.join(F.broadcast(h2), F.col("b2") >= F.col("bucket"))
        .groupBy("bucket", "n_pairs")
        .agg(F.sum("n2").alias("n_pairs_at_or_above"))
        .select(
            "bucket",
            (F.col("bucket") * SWEEP_BUCKET_MICRO).alias("threshold_micro"),
            "n_pairs",
            "n_pairs_at_or_above",
        )
    )


# --------------------------------------------------------------------
# Conversion lag histogram (signup → first purchase)
# --------------------------------------------------------------------

LAG_BUCKET_SEC = 3600  # hourly buckets


def _conversion_lag_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_type,
             date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
      FROM events
    ), per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN sec END) AS s0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS p0
      FROM ev GROUP BY user_id
    ), conv AS (
      SELECT user_id, p0 - s0 AS lag_sec
      FROM per_user
      WHERE s0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= s0
    )
    SELECT CAST(lag_sec // {LAG_BUCKET_SEC} AS BIGINT) AS lag_bucket_hours,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(lag_sec) AS BIGINT) AS min_lag_sec,
           CAST(max(lag_sec) AS BIGINT) AS max_lag_sec
    FROM conv GROUP BY 1
    """


@register(
    "events_conversion_lag_histogram",
    oracle=_conversion_lag_oracle(),
    tags=("events", "analytics", "report"),
)
def events_conversion_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    purchase follows their first signup, the signup→purchase lag in
    hourly buckets — the activation-latency histogram growth teams
    read next to the registered conversion funnel (the funnel says
    HOW MANY convert; this says HOW FAST, and its tail exposes
    attribution-window bugs).

    Exactness: per-event integer seconds from the naive epoch anchor;
    the two firsts are conditional MINs in one hash aggregate; the
    lag is an integer difference, floor-divided into buckets
    (nonnegative by the p0 ≥ s0 guard).

    Scale (100 TB): ONE user-keyed hash aggregate over the event scan
    (map-side combined conditional mins — no window, no sort), then a
    |buckets|-group rollup. The funnel-order guard keeps
    never-signed-up purchasers out without a second pass."""
    e = load(spark, sf_dir, "events")
    sec = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    per_user = (
        e.select("user_id", "event_type", sec.alias("sec"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("sec"))).alias(
                "s0"
            ),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("sec"))
            ).alias("p0"),
        )
    )
    conv = per_user.filter(
        F.col("s0").isNotNull()
        & F.col("p0").isNotNull()
        & (F.col("p0") >= F.col("s0"))
    ).select((F.col("p0") - F.col("s0")).alias("lag_sec"))
    return conv.groupBy(
        F.expr(f"lag_sec DIV {LAG_BUCKET_SEC}").alias("lag_bucket_hours")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("lag_sec").alias("min_lag_sec"),
        F.max("lag_sec").alias("max_lag_sec"),
    )


# --------------------------------------------------------------------
# PQ distortion report (per-cell quantization error ledger)
# --------------------------------------------------------------------


def _pq_distortion_oracle() -> str:
    # Imported directly (NOT via registry.all_queries()) — this runs at
    # module-import time, and reading the registry here re-enters
    # `_ensure_loaded` while THIS module is the one being imported.
    from .kmeans import PQ_CODES_ORACLE as base

    return f"""
    WITH codes AS MATERIALIZED (
{base}
    ), q AS (
      SELECT subspace, code,
             CAST(round(dist_sq * 10000.0, 0) AS BIGINT) AS d_e4
      FROM codes
    ), cell AS (
      SELECT subspace, code,
             CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(d_e4) AS BIGINT) AS sum_dist_e4,
             CAST(max(d_e4) AS BIGINT) AS max_dist_e4
      FROM q GROUP BY 1, 2
    ), sub AS (
      SELECT subspace, CAST(sum(n_vectors) AS BIGINT) AS sub_total
      FROM cell GROUP BY subspace
    )
    SELECT c.subspace, c.code, c.n_vectors, c.sum_dist_e4, c.max_dist_e4,
           CAST(c.sum_dist_e4 // c.n_vectors AS BIGINT) AS mean_dist_e4,
           CAST(c.n_vectors * 1000000 // s.sub_total AS BIGINT)
             AS load_share_micro
    FROM cell c JOIN sub s USING (subspace)
    """


@register(
    "embeddings_pq_distortion_report",
    oracle=_pq_distortion_oracle(),
    tags=("llm", "embedding", "quantization", "report"),
)
def embeddings_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subspace, code) PQ health ledger: assignment count, exact
    e4-quantized distortion mass (sum / mean / max of the assigned
    squared L2), and each code's load share within its subspace — the
    report that decides whether a PQ codebook is usable BEFORE
    building the index (a code with 90% load means the subspace
    collapsed; a code with huge mean distortion means its region is
    under-covered; both are invisible in recall metrics until
    production).

    Composes the registered ``embeddings_pq_codes`` verbatim — its
    4-dp ``dist_sq`` is micro-quantized to integer e4 units BEFORE
    any aggregation (the order-free-integer-sum rule), so the
    distortion sums are exact; shares and means are floor divisions
    of nonnegative integers.

    Scale (100 TB): the assignment pass dominates (shuffle-free
    broadcast-codebook scoring — see the composed plan); this adds
    one (M·K)-group hash aggregate with map-side combine and an
    M-row broadcast join."""
    from .kmeans import embeddings_pq_codes

    codes = embeddings_pq_codes(spark, sf_dir)
    q = codes.select(
        "subspace",
        "code",
        F.round(F.col("dist_sq") * 10000.0, 0).cast("bigint").alias("d_e4"),
    )
    cell = q.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("d_e4").alias("sum_dist_e4"),
        F.max("d_e4").alias("max_dist_e4"),
    ).localCheckpoint(eager=True)
    sub = cell.groupBy("subspace").agg(F.sum("n_vectors").alias("sub_total"))
    return (
        cell.join(F.broadcast(sub), "subspace")
        .select(
            "subspace",
            "code",
            "n_vectors",
            "sum_dist_e4",
            "max_dist_e4",
            F.expr("sum_dist_e4 DIV n_vectors").alias("mean_dist_e4"),
            F.expr("(n_vectors * 1000000) DIV sub_total").alias(
                "load_share_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# Gopher rule attribution (which filter rule kills what)
# --------------------------------------------------------------------


def _rule_attribution_oracle() -> str:
    from .quality import (
        MAX_MEAN_WORD_LEN,
        MAX_WORDS,
        MIN_DISTINCT_FRAC,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
        REQUIRED_STOPWORDS,
    )

    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n_words, n_chars
      FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS INT)
               AS ok_words,
             CAST(round((CAST(n_chars AS DOUBLE) - n_words + 1) / n_words, 4)
                  BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN} AS INT)
               AS ok_wordlen,
             CAST(len(list_filter(words, x -> x IN {REQUIRED_STOPWORDS!r}))
                  >= {MIN_STOPWORD_HITS} AS INT) AS ok_stop,
             CAST(round(CAST(len(list_distinct(words)) AS DOUBLE) / n_words, 4)
                  >= {MIN_DISTINCT_FRAC} AS INT) AS ok_distinct
      FROM w
    ), ledger AS (
      SELECT *,
             (4 - ok_words - ok_wordlen - ok_stop - ok_distinct) AS n_fails
      FROM feat
    ), rules AS (
      SELECT 'n_words' AS rule, 1 - ok_words AS fail, n_fails FROM ledger
      UNION ALL
      SELECT 'mean_word_len', 1 - ok_wordlen, n_fails FROM ledger
      UNION ALL
      SELECT 'stopword_hits', 1 - ok_stop, n_fails FROM ledger
      UNION ALL
      SELECT 'distinct_frac', 1 - ok_distinct, n_fails FROM ledger
    ), tot AS (
      SELECT CAST(sum(CAST(n_fails > 0 AS INT)) AS BIGINT) AS n_killed,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM ledger
    )
    SELECT r.rule,
           CAST(sum(r.fail) AS BIGINT) AS n_fail,
           CAST(sum(CASE WHEN r.fail = 1 AND r.n_fails = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sole_fail,
           t.n_killed, t.n_docs,
           CAST(sum(r.fail) * 1000000 // greatest(t.n_killed, 1) AS BIGINT)
             AS share_of_kills_micro
    FROM rules r CROSS JOIN tot t
    GROUP BY r.rule, t.n_killed, t.n_docs
    """


@register(
    "docs_gopher_rule_attribution",
    oracle=_rule_attribution_oracle(),
    tags=("llm", "quality", "report"),
)
def docs_gopher_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-rule attribution for the registered Gopher battery: per
    rule, how many docs fail it, how many it is the SOLE killer of
    (the marginal docs only this rule removes), and its share of all
    kills — the tuning table for a quality gate (a rule with high
    n_fail but zero n_sole_fail is redundant; one with high sole
    kills deserves a threshold review before it silently shapes the
    corpus). Same constants, roundings, and feature expressions as
    the registered ``docs_gopher_quality`` / Brier audit, so the
    three reports describe one filter.

    Exactness: each rule verdict is a 0/1 integer computed with the
    proven 4-dp feature roundings; every emitted number is an integer
    sum or a floor division of integer sums.

    Scale (100 TB): ONE scan → per-doc rule bits (codegen) → a 4-way
    projection union rolled into a 4-group hash aggregate (the union
    reads the checkpointed bit frame, not the corpus, four times) —
    plus a 1-row kill-total broadcast."""
    from .quality import (
        MAX_MEAN_WORD_LEN,
        MAX_WORDS,
        MIN_DISTINCT_FRAC,
        MIN_MEAN_WORD_LEN,
        MIN_STOPWORD_HITS,
        MIN_WORDS,
        REQUIRED_STOPWORDS,
    )

    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_word_len = F.round(
        (F.col("n_chars").cast("double") - n_words + 1) / n_words, 4
    )
    distinct_frac = F.round(
        F.size(F.array_distinct(words)).cast("double") / n_words, 4
    )
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*REQUIRED_STOPWORDS)))
    feat = d.select(
        n_words.between(MIN_WORDS, MAX_WORDS).cast("int").alias("ok_words"),
        mean_word_len.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        .cast("int")
        .alias("ok_wordlen"),
        (stop_hits >= MIN_STOPWORD_HITS).cast("int").alias("ok_stop"),
        (distinct_frac >= MIN_DISTINCT_FRAC).cast("int").alias("ok_distinct"),
    ).withColumn(
        "n_fails",
        F.lit(4)
        - F.col("ok_words")
        - F.col("ok_wordlen")
        - F.col("ok_stop")
        - F.col("ok_distinct"),
    ).localCheckpoint(eager=True)
    tot = feat.agg(
        F.sum((F.col("n_fails") > 0).cast("int")).cast("bigint").alias("n_killed"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    rules = None
    for rule, ok_col in (
        ("n_words", "ok_words"),
        ("mean_word_len", "ok_wordlen"),
        ("stopword_hits", "ok_stop"),
        ("distinct_frac", "ok_distinct"),
    ):
        part = feat.select(
            F.lit(rule).alias("rule"),
            (1 - F.col(ok_col)).alias("fail"),
            "n_fails",
        )
        rules = part if rules is None else rules.unionAll(part)
    return (
        rules.groupBy("rule")
        .agg(
            F.sum("fail").cast("bigint").alias("n_fail"),
            F.sum(
                F.when((F.col("fail") == 1) & (F.col("n_fails") == 1), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_sole_fail"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "rule",
            "n_fail",
            "n_sole_fail",
            "n_killed",
            "n_docs",
            # greatest(,1) in BOTH plans: Spark non-ANSI x/0 -> NULL but
            # DuckDB // 0 RAISES, so an all-pass fixture would crash the
            # oracle instead of comparing. n_fail is 0 whenever n_killed
            # is 0, so the guarded result stays exact.
            F.expr("(n_fail * 1000000) DIV greatest(n_killed, 1)").alias(
                "share_of_kills_micro"
            ),
        )
    )
