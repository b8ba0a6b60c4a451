"""Domain-reweighting, n-gram and SemDeDup-contract queries, each
registered with its DuckDB oracle.

The operators:

- ``docs_doremi_reweight_step``: ONE linearized DoReMi /
  multiplicative-weights domain-reweighting step — per-source excess
  surprisal vs the corpus mean (exact integer micro, composes the
  registered pruned-LM surprisal plan on both sides) drives an
  integer MW factor and a renormalized next-round mixture share. The
  domain-mixture optimization primitive (Xie et al. '23) with the
  iterative-training loop replaced by its auditable single step.
- ``embeddings_ivf_balance_report``: IVF cell-load audit — per coarse
  cell: vector count and exact load factor vs perfect balance, plus
  the imbalance the search latency actually feels (a hot cell = a hot
  probe). The index-health twin of the PQ distortion ledger.
- ``docs_dedup_graph_degrees``: degree histogram of the verified
  near-dup pair graph — how many docs have 1, 2, … near-duplicates;
  the heavy-degree tail is the spam/mirror signal (a doc with 40
  near-dups is a template, not content). Composes the registered
  pair plan.
- ``events_dau_wau_stickiness``: per-day DAU, trailing-7-day WAU, and
  the exact DAU/WAU stickiness ratio — the engagement headline
  metric, computed from ONE distinct (user, day) frame with a
  7-day spine join (no rolling distinct window, which Spark cannot
  do exactly).
- ``corpus_token_budget_plan``: bucketed water-fill to a token budget
  — quality buckets filled highest-first until the 50% token budget
  is spent, with the marginal bucket taking the exact remainder. The
  sortless (histogram-cut) form of "take the best X tokens", the
  selection step every data-constrained training run executes.
- ``docs_contamination_attribution``: trace each held-out doc to the
  train doc sharing the MOST token trigrams (packed-key argmax, no
  SortAggregate) — the decon triage row; composes the r8 token-space
  pipeline verbatim.
- ``events_power_user_pareto``: sortless power-user concentration —
  per activity level, user/event mass at-or-above (the "top X% of
  users generate Y% of events" curve); the engagement twin of the
  spend Gini.
- ``orders_priority_sla``: SLA compliance by order priority (share of
  lines shipped within 30/90 days) — the does-priority-actually-
  matter audit on the co-partitioned fact join.
- ``docs_curriculum_shard_manifest``: quality-curriculum training
  shards — deterministic shard deal, highest-quality-first positions
  within each shard, per-(shard, bucket) contiguous position ranges
  as the manifest contract.
- ``embeddings_semdedup_hier_contract``: driver-checkable contract
  over the hierarchical (RP-tree) SemDeDup clusterer — the at-scale
  path the 16× rung adjudication names (hier implied exponent 0.236
  vs flat scaled-k IVF 1.195).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


# --------------------------------------------------------------------
# Linearized DoReMi reweighting step
# --------------------------------------------------------------------

DOREMI_ETA_DIV = 4  # factor = 1e6 + excess_micro/4 — the MW step size


def _doremi_oracle() -> str:
    from .lm import _LM_ORACLE

    return f"""
    WITH per_doc AS MATERIALIZED (
{_LM_ORACLE}
    ), src AS (
      SELECT d.source,
             CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(p.sum_surprisal_micro) AS BIGINT) AS s_micro
      FROM per_doc p JOIN documents d USING (doc_id)
      GROUP BY d.source
    ), corpus AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS n_all,
             CAST(sum(s_micro) AS BIGINT) AS s_all
      FROM src
    ), stepped AS (
      SELECT s.source, s.n_tokens,
             CAST(s.s_micro // s.n_tokens AS BIGINT) AS mean_micro,
             CAST(s.s_micro // s.n_tokens
                  - c.s_all // c.n_all AS BIGINT) AS excess_micro,
             greatest(CAST(0 AS BIGINT),
                      1000000 + CAST((s.s_micro // s.n_tokens
                                      - c.s_all // c.n_all)
                                     // {DOREMI_ETA_DIV} AS BIGINT))
               AS factor_micro,
             CAST(s.n_tokens * 1000000 // c.n_all AS BIGINT)
               AS share_before_micro
      FROM src s CROSS JOIN corpus c
    ), norm AS (
      SELECT CAST(sum(n_tokens * factor_micro) AS HUGEINT) AS z
      FROM stepped
    )
    SELECT st.source, st.n_tokens, st.mean_micro, st.excess_micro,
           st.factor_micro, st.share_before_micro,
           CAST(CAST(st.n_tokens AS HUGEINT) * st.factor_micro * 1000000
                // n.z AS BIGINT) AS share_after_micro
    FROM stepped st CROSS JOIN norm n
    """


@register(
    "docs_doremi_reweight_step",
    oracle=_doremi_oracle(),
    tags=("llm", "mixture", "selection"),
)
def docs_doremi_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One LINEARIZED DoReMi / multiplicative-weights domain-reweight
    step: each source's excess per-token surprisal over the corpus
    mean (under the registered pruned unigram LM — the stand-in for
    the proxy-vs-reference excess loss) scales its token mass by the
    integer MW factor 1e6 + excess/{DOREMI_ETA_DIV}, clamped at 0,
    then shares renormalize. Sources whose text the LM finds
    surprising (under-represented relative to capacity) gain mixture
    weight; easy sources lose it — ONE auditable step of the
    domain-mixture optimization loop (Xie et al., DoReMi, '23), with
    the exp() of the true MW update replaced by its first-order
    integer form so both engines compute bit-identical weights.

    Exactness: surprisal micro sums come from the registered
    hash-green plan; means/excesses are floor divisions of integer
    sums; the normalizer Σ n·factor is accumulated in DECIMAL
    (HUGEINT in the oracle) so the 1e6-scaled products never
    overflow; the final share is one integer multiply-divide.

    Scale (100 TB): the surprisal plan dominates (corpus scan +
    vocab-bounded LM broadcast); this adds one doc-keyed source join,
    a |sources|-group aggregate, and one-row broadcasts."""
    from .lm import docs_unigram_surprisal_filter

    per_doc = docs_unigram_surprisal_filter(spark, sf_dir)
    src_of = load(spark, sf_dir, "documents").select("doc_id", "source")
    src = (
        per_doc.join(src_of, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("sum_surprisal_micro").alias("s_micro"),
        )
        .localCheckpoint(eager=True)
    )
    corpus = src.agg(
        F.sum("n_tokens").alias("n_all"), F.sum("s_micro").alias("s_all")
    )
    stepped = (
        src.crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "n_tokens",
            F.expr("s_micro DIV n_tokens").alias("mean_micro"),
            F.expr("s_micro DIV n_tokens - s_all DIV n_all").alias(
                "excess_micro"
            ),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.expr(
                    f"1000000 + (s_micro DIV n_tokens - s_all DIV n_all)"
                    f" DIV {DOREMI_ETA_DIV}"
                ),
            ).alias("factor_micro"),
            F.expr("(n_tokens * 1000000) DIV n_all").alias(
                "share_before_micro"
            ),
        )
        .localCheckpoint(eager=True)
    )
    norm = stepped.agg(
        F.sum(
            (F.col("n_tokens") * F.col("factor_micro")).cast("decimal(38,0)")
        ).alias("z")
    )
    return stepped.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        "mean_micro",
        "excess_micro",
        "factor_micro",
        "share_before_micro",
        (
            (
                F.col("n_tokens").cast("decimal(38,0)")
                * F.col("factor_micro")
                * 1_000_000
            )
            / F.col("z")
        )
        .cast("bigint")
        .alias("share_after_micro"),
    )


# --------------------------------------------------------------------
# IVF cell-balance report
# --------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    return """
    WITH cells AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vectors
      FROM embeddings GROUP BY label
    ), tot AS (
      SELECT CAST(sum(n_vectors) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(max(n_vectors) AS BIGINT) AS max_cell
      FROM cells
    )
    SELECT c.label, c.n_vectors,
           CAST(c.n_vectors * t.n_cells * 1000000 // t.n AS BIGINT)
             AS load_factor_micro,
           CAST(t.max_cell * t.n_cells * 1000000 // t.n AS BIGINT)
             AS worst_load_factor_micro,
           CAST(c.n_vectors * 1000000 // t.max_cell AS BIGINT)
             AS share_of_hottest_micro
    FROM cells c CROSS JOIN tot t
    """


@register(
    "embeddings_ivf_balance_report",
    oracle=_ivf_balance_oracle(),
    tags=("llm", "embedding", "index", "report"),
)
def embeddings_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-cell load audit: per cell, the vector count and the
    exact load factor vs perfect balance (1e6 = balanced; the cell a
    query probes determines that query's candidate-scan cost, so the
    WORST load factor — emitted on every row for the report's
    consumer — is the index's tail-latency multiplier). The
    index-health twin of the PQ distortion ledger: PQ says codes are
    tight, this says probes are even; both run before committing an
    IVF-PQ index build.

    Exactness: all counts integer; load factors are
    multiply-then-floor-divide of exact integers.

    Scale (100 TB): ONE |cells|-group hash aggregate over the scan
    (map-side combined) + a one-row broadcast cross."""
    e = load(spark, sf_dir, "embeddings")
    cells = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = cells.agg(
        F.sum("n_vectors").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n_vectors").alias("max_cell"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "label",
        "n_vectors",
        F.expr("(n_vectors * n_cells * 1000000) DIV n").alias(
            "load_factor_micro"
        ),
        F.expr("(max_cell * n_cells * 1000000) DIV n").alias(
            "worst_load_factor_micro"
        ),
        F.expr("(n_vectors * 1000000) DIV max_cell").alias(
            "share_of_hottest_micro"
        ),
    )


# --------------------------------------------------------------------
# Near-dup graph degree profile
# --------------------------------------------------------------------


def _graph_degrees_oracle() -> str:
    from .dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL

    return f"""
    WITH g AS MATERIALIZED (
{GRAMS_CTE_SQL}
    ), p AS (
{JACCARD_PAIRS_SQL}
    ), ends AS (
      SELECT doc_a AS doc_id FROM p
      UNION ALL
      SELECT doc_b FROM p
    ), deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
      FROM ends GROUP BY doc_id
    )
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc_id
    FROM deg GROUP BY degree
    UNION ALL
    SELECT CAST(0 AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(d.doc_id) AS BIGINT) AS example_doc_id
    FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id
    WHERE deg.doc_id IS NULL
    """


@register(
    "docs_dedup_graph_degrees",
    oracle=_graph_degrees_oracle(),
    tags=("llm", "dedup", "report"),
)
def docs_dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the verified near-dup pair graph: how many
    documents have exactly d near-duplicates (plus a deterministic
    example doc per degree), INCLUDING the degree-0 row so the
    histogram partitions the whole corpus. The degree TAIL is the
    template/mirror/spam signal — a doc with 40 near-dups is
    boilerplate wearing a content costume, and connected-components
    cluster sizes (the registered report) can't see it when the giant
    cluster is star-shaped vs clique-shaped; degrees can. Composes
    the registered ``docs_ngram_jaccard_pairs`` verbatim.

    Exactness: pure integer counting; the example is MIN(doc_id).

    Scale (100 TB): pair volume is inverted-index-bounded; degrees
    are one doc-keyed hash aggregate over 2|pairs| rows, the
    histogram one more over |docs-with-dups|; the degree-0 row is a
    doc-keyed LEFT-ANTI join against the (small) positive-degree
    frame plus a one-row aggregate."""
    from .dedup import docs_ngram_jaccard_pairs

    pairs = docs_ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=True)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("degree")
    ).localCheckpoint(eager=True)
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("example_doc_id"),
    )
    zero = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .join(F.broadcast(deg.select("doc_id")), "doc_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .select(
            F.lit(0).cast("bigint").alias("degree"),
            "n_docs",
            "example_doc_id",
        )
    )
    return hist.unionAll(zero)


# --------------------------------------------------------------------
# DAU / WAU stickiness
# --------------------------------------------------------------------

WAU_WINDOW_DAYS = 7


def _stickiness_oracle() -> str:
    return f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM ud
    ), spine AS (
      SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds
    ), dau AS (
      SELECT s.d, CAST(count(u.user_id) AS BIGINT) AS dau
      FROM spine s LEFT JOIN ud u ON u.d = s.d
      GROUP BY s.d
    ), wau AS (
      SELECT s.d, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM spine s
      JOIN ud u ON u.d BETWEEN s.d - {WAU_WINDOW_DAYS - 1} AND s.d
      GROUP BY s.d
    ), b2 AS (
      SELECT d0 FROM bounds
    )
    SELECT dau.d - b2.d0 + 1 AS day_idx, dau.dau, wau.wau,
           CAST(dau.dau * 1000000 // wau.wau AS BIGINT)
             AS stickiness_micro
    FROM dau JOIN wau USING (d) CROSS JOIN b2
    WHERE dau.d - b2.d0 + 1 >= {WAU_WINDOW_DAYS}
    """


@register(
    "events_dau_wau_stickiness",
    oracle=_stickiness_oracle(),
    tags=("events", "analytics", "report"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-{WAU_WINDOW_DAYS}-day WAU, and the exact
    DAU/WAU stickiness ratio (the engagement headline: what fraction
    of the weekly audience shows up daily), emitted from the first
    full window onward. Rolling DISTINCT counts have no exact window
    form in any engine — the correct distributed shape is the one
    used here: collapse events to the distinct (user, day) frame
    ONCE, then a ≤{WAU_WINDOW_DAYS}-way day-spine range join feeds an
    exact count-distinct per day. Day buckets are integer arithmetic
    from the epoch anchor (timezone-free).

    Exactness: counts are integers; stickiness is one floor division;
    the day spine is dense so quiet days report DAU 0.

    Scale (100 TB): ONE event-volume aggregate (the distinct (user,
    day), map-side combined); the spine join multiplies the ALREADY-
    COLLAPSED frame by ≤{WAU_WINDOW_DAYS}, and its count-distinct
    shuffles |uw|·{WAU_WINDOW_DAYS} user-day rows — calendar-bounded
    fan-out, never event-volume."""
    e = load(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            ).alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d"), "d0"
    ).localCheckpoint(eager=True)
    dau = (
        spine.join(ud, "d", "left")
        .groupBy("d", "d0")
        .agg(F.count(F.col("user_id")).alias("dau"))
    )
    wau = (
        spine.alias("s")
        .join(
            ud.alias("u"),
            F.col("u.d").between(
                F.col("s.d") - (WAU_WINDOW_DAYS - 1), F.col("s.d")
            ),
        )
        .groupBy(F.col("s.d").alias("d"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            (F.col("d") - F.col("d0") + 1).alias("day_idx"),
            "dau",
            "wau",
            F.expr("(dau * 1000000) DIV wau").alias("stickiness_micro"),
        )
        .filter(F.col("day_idx") >= WAU_WINDOW_DAYS)
    )


# --------------------------------------------------------------------
# Token-budget water-fill plan (sortless histogram cut)
# --------------------------------------------------------------------

BUDGET_SHARE_MICRO = 500_000  # plan to keep 50% of corpus tokens


def _budget_plan_oracle() -> str:
    from .quality import REQUIRED_STOPWORDS

    return f"""
    WITH feat AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             least(9000 * len(list_distinct(string_split(text, ' ')))
                   + 30000 * len(list_filter(string_split(text, ' '),
                                             x -> x IN {REQUIRED_STOPWORDS!r})),
                   1000000) AS p_micro
      FROM documents
    ), buckets AS (
      SELECT least(p_micro // 100000, 9) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM feat GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS t_all FROM buckets
    ), budget AS (
      SELECT CAST(t_all * {BUDGET_SHARE_MICRO} // 1000000 AS BIGINT) AS b
      FROM tot
    ), cum AS (
      SELECT a.bucket, a.n_docs, a.tokens,
             CAST(sum(CASE WHEN b.bucket > a.bucket THEN b.tokens
                           ELSE 0 END) AS BIGINT) AS cum_above
      FROM buckets a CROSS JOIN buckets b
      GROUP BY a.bucket, a.n_docs, a.tokens
    )
    SELECT c.bucket, c.n_docs, c.tokens, c.cum_above, bu.b AS budget_tokens,
           CAST(CASE WHEN c.cum_above >= bu.b THEN 0
                     WHEN c.cum_above + c.tokens <= bu.b THEN c.tokens
                     ELSE bu.b - c.cum_above END AS BIGINT) AS take_tokens,
           (c.cum_above + c.tokens <= bu.b) AS fully_taken
    FROM cum c CROSS JOIN budget bu
    """


@register(
    "corpus_token_budget_plan",
    oracle=_budget_plan_oracle(),
    tags=("llm", "selection", "mixture"),
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-fill: plan which quality buckets to keep so
    exactly {BUDGET_SHARE_MICRO}ppm of corpus tokens survive, filling
    from the highest-quality bucket down, with the MARGINAL bucket
    taking the exact remainder — "keep the best X tokens" as every
    data-constrained run executes it, computed SORTLESS: the naive
    form globally sorts all docs by score; the histogram-cut form
    (the proven RFM/Gini/CCNet machinery) reduces the corpus to a
    ≤10-row bucket table and does the cumulative fill as bucket-table
    arithmetic. The quality score is the Brier audit's p_micro, so
    the calibration report and this plan describe the same scorer.

    Exactness: per-doc score and token counts are integers; the
    budget is one floor multiply-divide; cumulative-from-above is a
    triangular sum of the ≤10-row bucket table; the three-way take
    CASE is pure integer comparison.

    Scale (100 TB): ONE scan → per-doc integer features → a ≤10-group
    hash aggregate; everything after is constant-size. The per-doc
    KEEP decision materializes later as one broadcast-join of this
    plan against the scored scan — no sort at any scale."""
    from .quality import REQUIRED_STOPWORDS

    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    p_micro = F.least(
        F.lit(9000) * F.size(F.array_distinct(words)).cast("bigint")
        + F.lit(30000)
        * F.size(F.filter(words, lambda w: w.isin(*REQUIRED_STOPWORDS))).cast(
            "bigint"
        ),
        F.lit(1_000_000).cast("bigint"),
    )
    buckets = (
        d.select(
            p_micro.alias("p_micro"), F.size(words).cast("bigint").alias("n_tokens")
        )
        .select(
            F.least(F.expr("p_micro DIV 100000"), F.lit(9).cast("bigint")).alias(
                "bucket"
            ),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
        )
        .localCheckpoint(eager=True)
    )
    tot = buckets.agg(F.sum("tokens").alias("t_all"))
    budget = tot.select(
        F.expr(f"(t_all * {BUDGET_SHARE_MICRO}) DIV 1000000").alias("b")
    )
    b2 = buckets.select(F.col("bucket").alias("b2"), F.col("tokens").alias("tk2"))
    cum = (
        buckets.join(F.broadcast(b2), how="cross")
        .groupBy("bucket", "n_docs", "tokens")
        .agg(
            F.sum(
                F.when(F.col("b2") > F.col("bucket"), F.col("tk2")).otherwise(0)
            ).alias("cum_above")
        )
    )
    return cum.crossJoin(F.broadcast(budget)).select(
        "bucket",
        "n_docs",
        "tokens",
        "cum_above",
        F.col("b").alias("budget_tokens"),
        F.when(F.col("cum_above") >= F.col("b"), F.lit(0).cast("bigint"))
        .when(
            F.col("cum_above") + F.col("tokens") <= F.col("b"), F.col("tokens")
        )
        .otherwise(F.col("b") - F.col("cum_above"))
        .alias("take_tokens"),
        (F.col("cum_above") + F.col("tokens") <= F.col("b")).alias(
            "fully_taken"
        ),
    )


# --------------------------------------------------------------------
# Contamination attribution (trace the leak to its train doc)
# --------------------------------------------------------------------


ATTRIB_DF_CEILING = 64  # drop grams in > 64 train docs (non-discriminative)


def _attribution_oracle() -> str:
    from .bpe import _bpe_oracle
    from .staged_r8 import _HH_SQL, TOKEN_NGRAM_N

    # Same tokenize→trigram pipeline as the (r8) token-space
    # contamination audit — embedded verbatim so this hash re-proves
    # the composition — extended with the per-(test, train) doc-pair
    # shared-gram count and the packed-key argmax.
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
    ), train_g AS (
      SELECT doc_id AS train_doc_id, unnest(gs) AS g
      FROM grams WHERE hh < 'cd'
    ), rare AS (
      SELECT g FROM train_g GROUP BY g
      HAVING count(*) <= {ATTRIB_DF_CEILING}
    ), test_g AS (
      SELECT t.doc_id, t.g
      FROM (SELECT doc_id, unnest(gs) AS g
            FROM grams WHERE hh >= 'e6') t
      JOIN rare USING (g)
    ), pair_hits AS (
      SELECT t.doc_id, tr.train_doc_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM test_g t JOIN train_g tr USING (g)
      GROUP BY 1, 2
    )
    SELECT doc_id, train_doc_id, n_shared
    FROM pair_hits
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_shared DESC, train_doc_id) = 1
    """
    )


@register(
    "docs_contamination_attribution",
    oracle=_attribution_oracle(),
    tags=("llm", "decontamination", "tokenizer"),
)
def docs_contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace each contaminated held-out doc to its STRONGEST train-side
    leak: the train document sharing the most DISCRIMINATIVE token
    trigrams (grams in ≤ {ATTRIB_DF_CEILING} train docs — higher-df
    grams are function-word chrome that carries no attribution signal;
    ties to the lowest train id). The (r8) token-space audit says
    WHETHER a held-out doc leaks; this says FROM WHERE — the row a
    decon triage actually acts on (delete the train doc? whitelist
    the idiom?). Same BPE tokenize→trigram pipeline, composed
    verbatim.

    Exactness: shared-gram counts are integers; the per-doc argmax is
    the packed-BIGINT primitive-key max (n_shared·2³² + (2³²−1 −
    train_doc)) — a hash aggregate, never a struct-max SortAggregate;
    the oracle's QUALIFY row_number is the same (count DESC, id ASC)
    order.

    Scale (100 TB): the df ceiling is the load-bearing bound — it caps
    every gram's posting list at {ATTRIB_DF_CEILING}, so the pair
    frame is ≤ |test grams| · {ATTRIB_DF_CEILING} however large the
    corpus (without it, high-df grams make the join tend quadratic —
    measured 1.78 shuffle exponent on the inflated fixture before the
    ceiling, linear after). One (test, train) hash aggregate + one
    test-doc-keyed packed max."""
    from .bpe import bpe_train
    from .staged_r8 import TOKEN_NGRAM_N, _split_hh

    _, vocab, _ = bpe_train(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
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
    train_g = grams.filter(F.col("hh") < "cd").select(
        F.col("doc_id").alias("train_doc_id"), F.explode("gs").alias("g")
    ).localCheckpoint(eager=True)
    # df ceiling: grams in more than ATTRIB_DF_CEILING train docs are
    # non-discriminative chrome (function-word trigrams) — excluding
    # them sharpens the argmax AND bounds every posting list the pair
    # join fans out over, which is what keeps this linear at any
    # corpus size (the registered df-ceiling pattern).
    rare = train_g.groupBy("g").agg(F.count(F.lit(1)).alias("df_")).filter(
        F.col("df_") <= ATTRIB_DF_CEILING
    ).select("g")
    test_g = (
        grams.filter(F.col("hh") >= "e6")
        .select("doc_id", F.explode("gs").alias("g"))
        .join(rare, "g")
    )
    pair_hits = (
        test_g.join(train_g, "g")
        .groupBy("doc_id", "train_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    best = pair_hits.groupBy("doc_id").agg(
        F.max(
            F.col("n_shared") * F.lit(4294967296).cast("bigint")
            + (F.lit(4294967295).cast("bigint") - F.col("train_doc_id"))
        ).alias("packed")
    )
    return best.select(
        "doc_id",
        (
            F.lit(4294967295).cast("bigint")
            - F.col("packed") % F.lit(4294967296).cast("bigint")
        ).alias("train_doc_id"),
        F.expr("packed DIV 4294967296").alias("n_shared"),
    )


# --------------------------------------------------------------------
# Power-user concentration (sortless Pareto over event counts)
# --------------------------------------------------------------------


def _power_user_oracle() -> str:
    return """
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ), h AS (
      SELECT n_events AS bucket,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(n_events) AS BIGINT) AS events
      FROM per_user GROUP BY n_events
    ), tot AS (
      SELECT CAST(sum(n_users) AS BIGINT) AS u,
             CAST(sum(events) AS BIGINT) AS e
      FROM h
    )
    SELECT a.bucket, a.n_users, a.events,
           CAST(sum(b.n_users) AS BIGINT) AS users_at_or_above,
           CAST(sum(b.events) AS BIGINT) AS events_at_or_above,
           CAST(sum(b.n_users) * 1000000 // t.u AS BIGINT)
             AS user_share_micro,
           CAST(sum(b.events) * 1000000 // t.e AS BIGINT)
             AS event_share_micro
    FROM h a JOIN h b ON b.bucket >= a.bucket CROSS JOIN tot t
    GROUP BY a.bucket, a.n_users, a.events, t.u, t.e
    """


@register(
    "events_power_user_pareto",
    oracle=_power_user_oracle(),
    tags=("events", "analytics", "report"),
)
def events_power_user_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user concentration (the Pareto / "1% rule" audit): per
    events-per-user level, the user and event mass at-or-above it —
    read off any row to get "the top X% of users generate Y% of
    events", computed SORTLESS: one user-key aggregate collapses the
    event volume, the activity histogram is |levels|-bounded, and the
    cumulative curve is a triangular join of that tiny table (the
    threshold-sweep machinery). The engagement-inequality twin of the
    customer-spend Gini.

    Exactness: integer counts; shares are floor divisions of exact
    sums.

    Scale (100 TB): ONE event-volume shuffle (user counts, map-side
    combined); everything after is activity-histogram arithmetic."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    h = (
        per_user.groupBy(F.col("n_events").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").alias("events"),
        )
        .localCheckpoint(eager=True)
    )
    tot = h.agg(F.sum("n_users").alias("u"), F.sum("events").alias("e"))
    b = h.select(
        F.col("bucket").alias("b2"),
        F.col("n_users").alias("nu2"),
        F.col("events").alias("ev2"),
    )
    return (
        h.join(F.broadcast(b), F.col("b2") >= F.col("bucket"))
        .groupBy("bucket", "n_users", "events")
        .agg(
            F.sum("nu2").alias("users_at_or_above"),
            F.sum("ev2").alias("events_at_or_above"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_users",
            "events",
            "users_at_or_above",
            "events_at_or_above",
            F.expr("(users_at_or_above * 1000000) DIV u").alias(
                "user_share_micro"
            ),
            F.expr("(events_at_or_above * 1000000) DIV e").alias(
                "event_share_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# Order-priority SLA compliance
# --------------------------------------------------------------------

SLA_FAST_DAYS = 30
SLA_SLOW_DAYS = 90


def _sla_oracle() -> str:
    return f"""
    WITH j AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lat
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN lat <= {SLA_FAST_DAYS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_{SLA_FAST_DAYS}d,
           CAST(sum(CASE WHEN lat <= {SLA_SLOW_DAYS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_{SLA_SLOW_DAYS}d,
           CAST(sum(CASE WHEN lat <= {SLA_FAST_DAYS} THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT)
             AS sla_{SLA_FAST_DAYS}d_micro,
           CAST(sum(CASE WHEN lat <= {SLA_SLOW_DAYS} THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT)
             AS sla_{SLA_SLOW_DAYS}d_micro
    FROM j GROUP BY o_orderpriority
    """


@register(
    "orders_priority_sla",
    oracle=_sla_oracle(),
    tags=("analytics", "report"),
)
def orders_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA compliance by order priority: per priority class, the share
    of line items shipped within {SLA_FAST_DAYS} and {SLA_SLOW_DAYS}
    days of the order — the table that tells an ops team whether
    '1-URGENT' actually ships faster than '5-LOW' (on synthetic
    fixtures it provably does not, which is itself the audit's
    point: priority labels with no latency effect are process debt).

    Exactness: integer day latencies; SLA shares are floor divisions.

    Scale (100 TB): the co-partitioned orders⋈lineitem fact join (the
    ship-latency plan) + a |priorities|-group conditional-sum hash
    aggregate with map-side combine."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority", F.datediff("sd", "od").alias("lat")
    )
    fast = F.sum(F.when(F.col("lat") <= SLA_FAST_DAYS, 1).otherwise(0)).cast(
        "bigint"
    )
    slow = F.sum(F.when(F.col("lat") <= SLA_SLOW_DAYS, 1).otherwise(0)).cast(
        "bigint"
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            fast.alias(f"n_within_{SLA_FAST_DAYS}d"),
            slow.alias(f"n_within_{SLA_SLOW_DAYS}d"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            f"n_within_{SLA_FAST_DAYS}d",
            f"n_within_{SLA_SLOW_DAYS}d",
            F.expr(
                f"(n_within_{SLA_FAST_DAYS}d * 1000000) DIV n_lines"
            ).alias(f"sla_{SLA_FAST_DAYS}d_micro"),
            F.expr(
                f"(n_within_{SLA_SLOW_DAYS}d * 1000000) DIV n_lines"
            ).alias(f"sla_{SLA_SLOW_DAYS}d_micro"),
        )
    )


# --------------------------------------------------------------------
# Curriculum shard manifest (quality-ordered training shards)
# --------------------------------------------------------------------

CURRICULUM_SHARDS = 8


def _curriculum_oracle() -> str:
    from .quality import REQUIRED_STOPWORDS

    return f"""
    WITH scored AS (
      SELECT doc_id,
             least(9000 * len(list_distinct(string_split(text, ' ')))
                   + 30000 * len(list_filter(string_split(text, ' '),
                                             x -> x IN {REQUIRED_STOPWORDS!r})),
                   1000000) AS p_micro,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), sharded AS (
      SELECT doc_id, p_micro, n_tokens,
             CAST(doc_id % {CURRICULUM_SHARDS} AS BIGINT) AS shard,
             least(p_micro // 100000, 9) AS bucket
      FROM scored
    ), positioned AS (
      SELECT shard, bucket, doc_id, n_tokens,
             CAST(row_number() OVER (
               PARTITION BY shard
               ORDER BY bucket DESC, doc_id) AS BIGINT) AS position
      FROM sharded
    )
    SELECT shard, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(position) AS BIGINT) AS first_position,
           CAST(max(position) AS BIGINT) AS last_position
    FROM positioned GROUP BY shard, bucket
    """


@register(
    "docs_curriculum_shard_manifest",
    oracle=_curriculum_oracle(),
    tags=("llm", "selection", "curriculum"),
)
def docs_curriculum_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training-shard manifest: docs deal into
    {CURRICULUM_SHARDS} deterministic shards (doc_id mod — the
    registered shard-manifest convention) and each shard orders its
    docs highest-quality-first ((bucket DESC, doc_id) — deterministic,
    RNG-free); the manifest row per (shard, bucket) carries the doc
    and token mass plus the CONTIGUOUS position range — the contract
    that lets a trainer stream easy/high-quality mass first (quality
    curriculum) while every shard stays independently orderable. The
    per-(shard, bucket) position ranges being non-overlapping and
    exhaustive IS the curriculum property, and it's what the oracle
    hash pins.

    Exactness: integer score buckets (the Brier/budget scorer);
    positions are row_numbers under a fully deterministic order.

    Scale (100 TB): ONE shuffle — the shard-key partition sort that
    assigns positions (each shard sorts independently; shard count
    scales with the fleet, the classic write-side pattern); the
    manifest rollup is (shards × 10)-bounded."""
    from .quality import REQUIRED_STOPWORDS

    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    p_micro = F.least(
        F.lit(9000) * F.size(F.array_distinct(words)).cast("bigint")
        + F.lit(30000)
        * F.size(F.filter(words, lambda w: w.isin(*REQUIRED_STOPWORDS))).cast(
            "bigint"
        ),
        F.lit(1_000_000).cast("bigint"),
    )
    sharded = d.select(
        "doc_id",
        (F.col("doc_id") % CURRICULUM_SHARDS).cast("bigint").alias("shard"),
        F.least(
            (p_micro / 100_000).cast("bigint"), F.lit(9).cast("bigint")
        ).alias("bucket"),
        F.size(words).cast("bigint").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.desc("bucket"), F.asc("doc_id"))
    positioned = sharded.select(
        "shard",
        "bucket",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("position"),
    )
    return positioned.groupBy("shard", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("position").alias("first_position"),
        F.max("position").alias("last_position"),
    )


# --------------------------------------------------------------------
# Hierarchical SemDeDup contract (corpus-level facts, driver-hashable)

HIER_KEPT_BAND_PPM = 100000  # kept-rate agreement band vs flat: 10%


@register(
    "embeddings_semdedup_hier_contract",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_points,
           TRUE AS all_assigned,
           TRUE AS cells_within_cap,
           TRUE AS lowest_ids_kept,
           TRUE AS kept_rate_close
    FROM embeddings
    """,
    tags=("llm", "dedup", "similarity", "clustering", "contract"),
)
def embeddings_semdedup_hier_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkable contract pinning the hierarchical (RP-tree) SemDeDup
    variant — the at-scale clusterer (16× rung: hier implied exponent
    0.236 / 6.4 s warm vs flat scaled-k IVF 1.195 / 128.6 s). Cell
    geometry depends on float mean summation order, so the query
    emits corpus-level facts (the IVF-contract pattern), one row:

    - ``total_points``: corpus size (oracle recomputes);
    - ``all_assigned``: exactly one verdict per vector;
    - ``cells_within_cap``: every SPLITTABLE cell ≤ 2×⌈n/k⌉ — the
      adaptive size gate's bound, the property that keeps the
      within-cell pair scan linear in corpus size. "Splittable" =
      holds ≥ 2 DISTINCT vectors: the clusterer's no-shrink FREEZE
      rule (``semdedup_hier``) intentionally leaves an
      exact-duplicate clump bigger than the cap at its natural size
      (identical vectors project identically on every hyperplane, so
      no split can shrink it — only upstream ``dedup_exact`` can),
      so the cap is NOT a hard bound for distinct-count-1 cells and
      those are excluded from the check;
    - ``lowest_ids_kept``: the greedy prune kept each cell's lowest
      vec_id;
    - ``kept_rate_close``: |kept_hier − kept_flat| ≤ 10% of n vs the
      flat data-derived-k variant (same ε, same prune — only the
      partitioner differs, so survivor volume must broadly agree).

    Scale (100 TB): the hier clusterer is O(n·log k·d) with no k·d
    broadcast (see ``semdedup_hier``); the flat comparator rides the
    same fixture-scale path the registered scaled-k stress variant
    uses; everything else is one-row aggregate metadata."""
    import math as _math

    from .semdedup import (
        SEMDEDUP_TARGET_CLUSTER_SIZE,
        semdedup,
        semdedup_hier,
    )

    emb = load(spark, sf_dir, "embeddings")
    # ONE pinned (vec_id, v) frame feeds both clusterer variants (r11;
    # each previously re-ran the parquet load + double-cast, plus its
    # own count()). Fanning it before the pin was measured and
    # REJECTED in r12 (hier_contract warm 5.08→5.78 on the 3×2
    # interleaved A/B) — see kmeans._load_vectors.
    from pyspark.sql import functions as _F

    base = emb.select(
        "vec_id",
        _F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=True)
    n_corpus = base.count()
    k = max(1, _math.ceil(n_corpus / SEMDEDUP_TARGET_CLUSTER_SIZE))
    cap = 2 * max(1, _math.ceil(n_corpus / k))
    hier = semdedup_hier(spark, sf_dir, base=base).localCheckpoint(
        eager=True
    )
    flat_kept = (
        semdedup(spark, sf_dir, k=None, base=base)
        .agg(F.sum(F.col("kept").cast("int")).alias("fk"))
        .select(F.col("fk").cast("bigint").alias("flat_kept"))
    )
    # dv = distinct vectors in the cell; a dv=1 cell is an
    # exact-duplicate clump the FREEZE rule leaves at natural size —
    # exempt from the cap (see docstring). The vec_id join is
    # co-partitionable and linear at scale.
    per_cell = (
        hier.join(emb.select("vec_id", "embedding"), "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.countDistinct("embedding").alias("dv"),
            F.expr("min_by(kept, vec_id)").alias("lowest_kept"),
        )
    )
    cell_facts = per_cell.agg(
        F.expr(f"bool_and(cn <= {cap} OR dv = 1)").alias(
            "cells_within_cap"
        ),
        F.expr("bool_and(lowest_kept)").alias("lowest_ids_kept"),
    )
    hier_facts = hier.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_points"),
        F.countDistinct("vec_id").alias("n_distinct"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("hier_kept"),
    )
    band = F.lit(n_corpus * HIER_KEPT_BAND_PPM // 1000000)
    return (
        hier_facts.crossJoin(F.broadcast(cell_facts))
        .crossJoin(F.broadcast(flat_kept))
        .select(
            "total_points",
            (
                (F.col("total_points") == F.lit(n_corpus))
                & (F.col("n_distinct") == F.lit(n_corpus))
            ).alias("all_assigned"),
            "cells_within_cap",
            "lowest_ids_kept",
            (
                F.abs(F.col("hier_kept") - F.col("flat_kept")) <= band
            ).alias("kept_rate_close"),
        )
    )
