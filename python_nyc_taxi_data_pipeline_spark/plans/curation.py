"""Corpus-curation operators that COMPOSE the dedup/split primitives —
the steps a training-data pipeline actually ships:

- apply near-dup clustering to produce the deduplicated corpus
  (keep one representative per duplicate cluster);
- pack documents into fixed-token-budget training sequences
  (deterministic running-sum packing — no RNG, reproducible across
  engines and cluster sizes);
- train/test decontamination: find near-dup pairs that CROSS the
  hash-split boundary (the leakage a benchmark-contamination audit
  hunts for).

All three are pure DataFrame plans with full DuckDB oracles: the
cluster oracle reuses the recursive-CTE connected components
(`llm/clusters.py`), the packing oracle the same window running sum,
and the contamination oracle the shared Jaccard pair SQL.

Scale notes: dedup-apply is one broadcast-or-shuffle join of docs
against the (tiny) cluster map; packing is a window over a global
ordering — at 100 TB the single ORDER BY becomes range-partitioned
sort (Spark's window already does that; the pack ids stay
deterministic because the ordering key is total); contamination is the
pair join filtered by two cheap hash lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..llm.clusters import _clusters_oracle, docs_dup_clusters
from ..llm.dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL, docs_ngram_jaccard_pairs
from ..registry import register

PACK_BUDGET = 256  # tokens per training sequence (fixture docs are short)


@register(
    "docs_dedup_apply",
    oracle=f"""
    WITH clusters AS (
{_clusters_oracle()}
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_rep
    """,
    tags=("llm", "dedup", "curation"),
)
def docs_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup step APPLIED: keep exactly one representative (the
    cluster's min doc_id) per near-dup cluster, pass singletons
    through — the corpus a training run would consume. One join of the
    doc table against the cluster map (tiny: one row per doc in a
    cluster), so the full corpus shuffles at most once."""
    d = load(spark, sf_dir, "documents")
    comp = docs_dup_clusters(spark, sf_dir)
    return (
        d.join(comp, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster_rep"))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "docs_pack_sequences",
    oracle=f"""
    WITH t AS (
      -- CAST: DuckDB len() is BIGINT and SUM() OVER is HUGEINT; the
      -- driver hash is dtype-sensitive, so pin both n_tokens and
      -- pack_id to BIGINT to match Spark's int64 columns.
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS offset_tokens
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(offset_tokens // {PACK_BUDGET} AS BIGINT) AS pack_id
    FROM c
    """,
    tags=("llm", "packing", "curation"),
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing of the documents table (see
    ``pack_by_budget``): RNG-free — reproducible across
    engines/cluster sizes, the property rand()-based packing loses on
    retry."""
    d = load(spark, sf_dir, "documents")
    # cast: F.size is INT; the oracle (DuckDB len) is BIGINT — align.
    t = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_by_budget(t, "doc_id", "n_tokens", PACK_BUDGET).select(
        "doc_id", "n_tokens", "pack_id"
    )


def pack_by_budget(
    df: DataFrame, order_col: str, tokens_col: str, budget: int
) -> DataFrame:
    """Reusable deterministic packing operator: rows fill fixed
    ``budget``-token sequences in ``order_col`` order; a row's pack is
    its cumulative token offset integer-divided by the budget.

    The cumulative offset is a DISTRIBUTED PREFIX SUM, not a global
    window: an unpartitioned ``Window.orderBy`` would collapse the
    whole input into one task. Instead: range-repartition on the
    ordering key, per-partition running sums (each partition local),
    and a driver-side cumulation of the per-partition subtotals joined
    back as broadcast base offsets (one metadata-sized collect). The
    result depends only on the total ``order_col`` order — range
    boundaries (sampled, run-varying) can move rows between partitions
    without changing any offset. Output: input columns + ``pack_id``."""
    spark = df.sparkSession
    n_part = max(2, spark.sparkContext.defaultParallelism)
    t = (
        df.repartitionByRange(n_part, order_col)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning: pid must match the
        # frame the subtotals were computed from
    )
    subtotals = sorted(
        (r["__pid"], r["sub"])
        for r in t.groupBy("__pid").agg(F.sum(tokens_col).alias("sub")).collect()
    )
    bases, acc = {}, 0
    for pid, sub in subtotals:
        bases[pid] = acc
        acc += sub
    base_df = local_frame(spark, bases.items(), "__pid int, __base long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return (
        t.join(F.broadcast(base_df), "__pid")
        .withColumn("__offset", F.col("__base") + within)
        .withColumn("pack_id", F.expr(f"__offset div {budget}"))
        .drop("__pid", "__base", "__offset")
    )


@register(
    "docs_train_test_contamination",
    oracle=f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    ),
    pairs AS (
{JACCARD_PAIRS_SQL}
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN s sa ON p.doc_a = sa.doc_id
    JOIN s sb ON p.doc_b = sb.doc_id
    WHERE sa.split <> sb.split
    """,
    tags=("llm", "decontamination", "curation"),
)
def docs_train_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: near-duplicate pairs that CROSS the
    deterministic md5 train/val/test split — each one is evaluation
    leakage (the test doc has a near-copy in training). Composes the
    shared Jaccard pair plan with two lookups of the per-doc split
    label (SF-scaled, so unhinted — AQE broadcasts while they fit) (the
    split is derived, not stored — zero extra state)."""
    pairs = docs_ngram_jaccard_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    hh = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(hh < "cd", "train").when(hh < "e6", "val").otherwise("test")
    s = d.select("doc_id", split.alias("split"))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "jaccard", "split_a", "split_b")
    )


def _embeddings_dedup_oracle() -> str:
    """Recursive-CTE connected components over the exact cosine
    near-dup pair edges (same shape as the text-side cluster oracle)."""
    from ..llm.similarity import NEARDUP_COSINE

    return f"""
    WITH RECURSIVE v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS MATERIALIZED (
      SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x * x), (acc, x) -> acc + x)) AS nrm
      FROM v
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a, n b
      WHERE a.vec_id < b.vec_id
        AND list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                        (acc, x) -> acc + x) / (a.nrm * b.nrm) >= {NEARDUP_COSINE}
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.lbl < e.dst
    )
    SELECT emb.vec_id, emb.label,
           coalesce(min(r.lbl), emb.vec_id) AS cluster_rep,
           (coalesce(min(r.lbl), emb.vec_id) = emb.vec_id) AS kept
    FROM embeddings emb LEFT JOIN reach r ON r.node = emb.vec_id
    GROUP BY emb.vec_id, emb.label
    """


@register(
    "embeddings_dedup_apply",
    oracle=_embeddings_dedup_oracle(),
    tags=("llm", "dedup", "embedding", "curation"),
)
def embeddings_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup APPLIED to the embedding modality: connected
    components over the exact cosine near-dup pairs (the
    block-partitioned GEMM plan), each vector mapped to its cluster's
    min-id representative, ``kept`` marking the survivor — the row set
    a training run would filter on. Reuses the generic min-label
    propagation from ``llm/clusters.py``; the near-dup edge generation
    is the only modality-specific part."""
    from ..llm.clusters import connected_components
    from ..llm.similarity import embeddings_neardup_pairs

    pairs = embeddings_neardup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pairs)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    rep = F.coalesce(F.col("component"), F.col("vec_id"))
    return (
        emb.join(comp, emb.vec_id == comp.node, "left")
        .select(
            "vec_id",
            "label",
            rep.alias("cluster_rep"),
            (rep == F.col("vec_id")).alias("kept"),
        )
    )


SOURCE_QUOTA = 10  # max docs kept per source (fixture sources hold ~25)


@register(
    "docs_source_quota_sample",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS INT) AS rk
      FROM documents
    )
    WHERE rk <= {SOURCE_QUOTA}
    """,
    tags=("llm", "sampling", "curation"),
)
def docs_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling: cap each source at {SOURCE_QUOTA}
    documents, selected by a DETERMINISTIC pseudo-random order
    (md5(doc_id) — engine-reproducible, unlike rand(); the hash order is
    uncorrelated with document content, so the kept subset is an
    unbiased sample of each source). The mixture-control step every
    pretraining corpus build runs to stop one crawl dominating.

    Scale: one shuffle on source. A pathologically hot source makes one
    window partition large; at 100 TB pre-gate with an approximate
    per-source count and a hash-threshold filter (keep rows whose
    md5 < quota/count quantile) before the exact window — same output,
    bounded partition."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SOURCE_QUOTA)
    )


@register(
    "docs_mixture_weights",
    oracle="""
    WITH per_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM per_lang
    )
    SELECT p.lang, p.n_docs,
           round(p.n_docs / t.total, 6) AS actual_frac,
           round((1.0 / t.n_langs) / (p.n_docs / t.total), 6) AS sample_weight
    FROM per_lang p, tot t
    ORDER BY p.lang
    """,
    tags=("llm", "sampling", "curation"),
)
def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting: per-language sampling weight that
    would rebalance the corpus to a UNIFORM language mixture
    (weight = target_frac / actual_frac; >1 = upsample, <1 =
    downsample) — the knob a data-mixture plan turns (cf. DoReMi-style
    mixture tuning; here the target is uniform). Pure two-level
    aggregate: per-lang counts, then a 1-row global broadcast."""
    d = load(spark, sf_dir, "documents")
    per_lang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)  # tiny; reused by the global total
        # AND the weight projection — documents scans exactly once
    )
    tot = per_lang.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return (
        per_lang.join(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("actual_frac"),
            F.round(
                (F.lit(1.0) / F.col("n_langs"))
                / (F.col("n_docs") / F.col("total")),
                6,
            ).alias("sample_weight"),
        )
        .orderBy("lang")
    )


@register(
    "docs_quality_median_filter",
    oracle="""
    SELECT doc_id, lang, n_chars, round(pr, 6) AS pr FROM (
      SELECT doc_id, lang, n_chars,
             PERCENT_RANK() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
             ) AS pr
      FROM documents
    )
    WHERE pr >= 0.5
    """,
    tags=("llm", "quality", "curation"),
)
def docs_quality_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-percentile gate: keep each language's top
    half by a quality proxy (n_chars; swap in any score column), via
    percent_rank within the language — the "filter to the top X% by
    quality, per language so high-resource languages don't starve
    low-resource ones" curation step. One shuffle on lang; the
    percent_rank formula ((rank-1)/(n-1)) is engine-identical and the
    (n_chars, doc_id) ordering is total, so the kept set is exact."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .withColumn("pr", F.round("pr", 6))
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation: the composed pipeline a training run consumes.

def _stopword_ratio_sql() -> str:
    from ..llm.text import STOPWORDS

    return (
        "round(CAST(len(list_filter(string_split(text, ' '), "
        f"w -> w IN {STOPWORDS!r})) AS DOUBLE)"
        " / len(string_split(text, ' ')), 4)"
    )


def _curation_e2e_oracle() -> str:
    return f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    ),
    pairs AS (
{JACCARD_PAIRS_SQL}
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT p.doc_a AS doc_id
        FROM pairs p JOIN s sa ON p.doc_a = sa.doc_id
                     JOIN s sb ON p.doc_b = sb.doc_id
        WHERE sa.split = 'train' AND sb.split <> 'train'
        UNION
        SELECT p.doc_b AS doc_id
        FROM pairs p JOIN s sa ON p.doc_a = sa.doc_id
                     JOIN s sb ON p.doc_b = sb.doc_id
        WHERE sb.split = 'train' AND sa.split <> 'train'
      )
    ),
    q AS (
      SELECT doc_id, text FROM documents
      WHERE len(string_split(text, ' ')) >= 50
        AND {_stopword_ratio_sql()} BETWEEN 0.01 AND 0.6
    ),
    dd AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    train AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM dd d JOIN s ON d.doc_id = s.doc_id
      WHERE s.split = 'train'
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS offset_tokens
      FROM train
    )
    SELECT doc_id, n_tokens,
           CAST(offset_tokens // {PACK_BUDGET} AS BIGINT) AS pack_id
    FROM c
    """


@register(
    "corpus_curation_e2e",
    oracle=_curation_e2e_oracle(),
    tags=("llm", "curation", "e2e"),
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline — what a pretraining data run
    actually executes, end to end: quality gate → exact dedup
    (keep-first) → train-split selection with near-dup decontamination
    → deterministic sequence packing. Returns the packed training
    corpus (doc_id, n_tokens, pack_id); the oracle chains the same
    four stages as DuckDB CTEs, so the driver hash checks the whole
    composition, not just the parts.

    Stage shapes at 100 TB:
    - quality gate: pure map, fused into the scan (no shuffle);
    - exact dedup: ROW_NUMBER over md5(text) — one hash shuffle on a
      16-byte key;
    - decontamination: the inverted-index Jaccard pair plan (cost
      Σ df(gram)², never all-pairs) + one broadcast of the
      contaminated-id set (bounded by pair count, not corpus size)
      feeding a LEFT ANTI join;
    - packing: the distributed prefix sum of ``pack_by_budget`` (no
      global single-task window)."""
    *_, train_final = _curation_stages(spark, sf_dir)
    train = train_final.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    # Stage 4 — deterministic packing.
    return pack_by_budget(train, "doc_id", "n_tokens", PACK_BUDGET).select(
        "doc_id", "n_tokens", "pack_id"
    )


def _curation_stages(spark: SparkSession, sf_dir: str):
    """The shared curation stage frames, in funnel order: raw corpus,
    quality-gated, exact-deduped, train-split, decontaminated. Both the
    composed e2e query and the funnel report derive from these, so the
    two can never drift."""
    from ..llm.text import STOPWORDS, _words

    d = load(spark, sf_dir, "documents")

    # Stage 1 — quality gate (same predicate as docs_quality_score).
    words = _words(F.col("text"))
    n_words = F.size(words)
    stop_ratio = F.round(
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double")
        / n_words,
        4,
    )
    gated = d.filter((n_words >= 50) & stop_ratio.between(0.01, 0.6))

    # Stage 2 — exact dedup, keep lowest doc_id per text hash.
    rn = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    deduped = (
        gated.select("doc_id", "text", rn.alias("__rn"))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # Stage 3 — train split minus decontaminated ids.
    contaminated = _contaminated_ids(spark, sf_dir)
    train_pre = (
        deduped.withColumn("__split", _split_col())
        .filter(F.col("__split") == "train")
        .select("doc_id", "text")
    )
    train_final = train_pre.join(contaminated, "doc_id", "left_anti")
    return d, gated, deduped, train_pre, train_final


def _split_col():
    """The deterministic md5 train/val/test split expression — ONE
    definition shared by the stage builder and the decontamination set
    (the 'cd'/'e6' thresholds must stay byte-identical between them)."""
    hh = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return F.when(hh < "cd", "train").when(hh < "e6", "val").otherwise("test")


def _contaminated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-side members of any train↔holdout near-dup pair (the
    decontamination drop set), one ``doc_id`` column."""
    d = load(spark, sf_dir, "documents")
    split = _split_col()
    # Pin the (tiny) pair set once: `labeled` is consumed twice below
    # (both union branches), and without a barrier each consumer
    # re-runs the whole inverted-index pair plan — measured 10.5s → ~6s
    # at sf0.1 for the full pipeline.
    pairs = docs_ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=True)
    sp = d.select("doc_id", split.alias("split"))
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    labeled = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .localCheckpoint(eager=True)
    )
    return (
        labeled.filter(
            (F.col("split_a") == "train") & (F.col("split_b") != "train")
        )
        .select(F.col("doc_a").alias("doc_id"))
        .union(
            labeled.filter(
                (F.col("split_b") == "train") & (F.col("split_a") != "train")
            ).select(F.col("doc_b").alias("doc_id"))
        )
        .distinct()
    )


def _funnel_oracle() -> str:
    count_row = (
        "SELECT '{name}' AS stage, CAST({idx} AS INT) AS stage_idx,"
        " CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)"
        " AS n_tokens FROM {src}"
    )
    return f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    ),
    pairs AS (
{JACCARD_PAIRS_SQL}
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT p.doc_a AS doc_id
        FROM pairs p JOIN s sa ON p.doc_a = sa.doc_id
                     JOIN s sb ON p.doc_b = sb.doc_id
        WHERE sa.split = 'train' AND sb.split <> 'train'
        UNION
        SELECT p.doc_b AS doc_id
        FROM pairs p JOIN s sa ON p.doc_a = sa.doc_id
                     JOIN s sb ON p.doc_b = sb.doc_id
        WHERE sb.split = 'train' AND sa.split <> 'train'
      )
    ),
    q AS (
      SELECT doc_id, text FROM documents
      WHERE len(string_split(text, ' ')) >= 50
        AND {_stopword_ratio_sql()} BETWEEN 0.01 AND 0.6
    ),
    dd AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM q
      ) WHERE rn = 1
    ),
    tp AS (
      SELECT d.doc_id, d.text FROM dd d JOIN s ON d.doc_id = s.doc_id
      WHERE s.split = 'train'
    ),
    tf AS (
      SELECT doc_id, text FROM tp
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    {count_row.format(name="raw", idx=1, src="documents")}
    UNION ALL {count_row.format(name="quality_gate", idx=2, src="q")}
    UNION ALL {count_row.format(name="exact_dedup", idx=3, src="dd")}
    UNION ALL {count_row.format(name="train_split", idx=4, src="tp")}
    UNION ALL {count_row.format(name="decontaminated", idx=5, src="tf")}
    """


@register(
    "corpus_curation_funnel",
    oracle=_funnel_oracle(),
    tags=("llm", "curation", "report"),
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition report for the curation pipeline — the ops
    dashboard every large filtering run ships with: one row per stage
    (raw → quality gate → exact dedup → train split → decontaminated)
    with surviving doc and token counts.

    Derives directly from the SAME stage frames as
    ``corpus_curation_e2e`` (``_curation_stages``) — a union of five
    per-stage scalar aggregates — so the report can never disagree with
    the pipeline it describes; a referee test additionally pins the
    counts.

    Plan shape (MEASURED, not assumed): the union-of-aggregates form
    looks like five pipeline replays but is not — Catalyst's
    ReuseExchange dedupes the shared filter/dedup lineage across the
    union branches, and each branch's count/sum partial-aggregates
    below the union, so the branches shuffle one partial-agg row each.
    A single-pass rewrite (per-doc survival flags + one conditional
    aggregation) was tried in r5 and benched SLOWER at sf0.1 (warm
    3.6 s vs 2.4 s); the r6 rewrite (``corpus_curation_funnel_
    singlepass`` — min-over-gated window instead of a per-stage
    re-filter) closed that gap, and the scale_stress crossover probe
    (STRESS_local.json ``funnel_form_compare``) now measures the two
    forms within noise of each other: union/singlepass warm ratio
    1.09 at 1×, 1.08 at 2×, 1.01 at 4× corpus inflation on the first
    recorded sweep and 1.18 / 0.95 / 1.21 on the round-final one —
    the ratio oscillates around parity with no scale trend, i.e. the
    forms are equivalent within run noise. No consistent crossover
    appeared — the union form's branch reuse amortizes WITH scale
    rather than against it — so this form stays registered and no
    input-size gating is warranted; re-probe if the stage list grows.
    Each branch is a benign Keys:[] scalar aggregate."""
    stage_frames = _curation_stages(spark, sf_dir)
    names = [
        "raw", "quality_gate", "exact_dedup", "train_split", "decontaminated",
    ]
    out = None
    for idx, (name, frame) in enumerate(zip(names, stage_frames), 1):
        row = frame.agg(
            F.lit(name).alias("stage"),
            F.lit(idx).cast("int").alias("stage_idx"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.size(F.split("text", " ")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def corpus_curation_funnel_singlepass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The single-pass rewrite of ``corpus_curation_funnel``: per-doc
    survival flags computed in ONE lineage (gate predicate → first-
    gated-per-hash window → split → contaminated left join), then one
    conditional aggregation unpivoted to the same 5-row report.

    NOT registered — ``corpus_curation_funnel``'s union-of-aggregates
    form measured FASTER at sf0.1 (see its docstring); this form exists
    so tools/scale_stress.py can probe for the crossover the funnel
    docstring predicts at inflated scale (the union form re-scans the
    corpus per branch; this one scans it once but drags every doc
    through the window + contamination join). Semantics are pinned
    equal to the staged form by a referee test."""
    from ..llm.text import STOPWORDS, _words

    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words)
    stop_ratio = F.round(
        F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double")
        / n_words,
        4,
    )
    gated = (n_words >= 50) & stop_ratio.between(0.01, 0.6)
    flags = d.select("doc_id", "text", gated.alias("g"))
    # keep-first among GATED docs per content hash (same semantics as
    # the staged form's row_number over the gated frame)
    min_gated = F.min(F.when(F.col("g"), F.col("doc_id"))).over(
        Window.partitionBy(F.md5("text"))
    )
    flags = flags.withColumn("dd", F.col("g") & (F.col("doc_id") == min_gated))
    flags = flags.withColumn("tp", F.col("dd") & (_split_col() == "train"))
    contaminated = _contaminated_ids(spark, sf_dir).withColumn(
        "__contam", F.lit(True)
    )
    flags = flags.join(contaminated, "doc_id", "left").withColumn(
        "tf", F.col("tp") & F.col("__contam").isNull()
    )
    tok = F.size(F.split("text", " ")).cast("long")

    def _pair(flag, label):
        return [
            F.count(F.when(flag, 1)).cast("long").alias(f"{label}_d"),
            F.coalesce(F.sum(F.when(flag, tok)), F.lit(0))
            .cast("long")
            .alias(f"{label}_t"),
        ]

    row = flags.agg(
        *_pair(F.lit(True), "raw"),
        *_pair(F.col("g"), "q"),
        *_pair(F.col("dd"), "dd"),
        *_pair(F.col("tp"), "tp"),
        *_pair(F.col("tf"), "tf"),
    )
    return row.selectExpr(
        "stack(5,"
        " 'raw', 1, raw_d, raw_t,"
        " 'quality_gate', 2, q_d, q_t,"
        " 'exact_dedup', 3, dd_d, dd_t,"
        " 'train_split', 4, tp_d, tp_t,"
        " 'decontaminated', 5, tf_d, tf_t"
        ") as (stage, stage_idx, n_docs, n_tokens)"
    ).select(
        "stage",
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "n_docs",
        "n_tokens",
    )


@register(
    "docs_pack_payloads",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, text, n_tokens,
             coalesce(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS offset_tokens
      FROM t
    )
    SELECT CAST(offset_tokens // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(text, chr(30) ORDER BY doc_id)) AS payload_md5
    FROM c
    GROUP BY pack_id
    """,
    tags=("llm", "packing", "curation"),
)
def docs_pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the packed TRAINING PAYLOADS: concatenate each
    pack's documents (doc_id order, RS-separator) — the row a training
    loader actually reads. The result ships the payload's md5 rather
    than the multi-KB string so the driver compare stays cheap; the
    hash pins byte-exact assembly (separator, ordering, membership).

    Scale: reuses ``pack_by_budget``'s distributed prefix sum, then ONE
    shuffle on pack_id; per-group assembly is a sorted struct array
    fold (deterministic — no collect_list order dependence)."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    packed = pack_by_budget(t, "doc_id", "n_tokens", PACK_BUDGET)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
                        lambda s: s["text"],
                    ),
                    "\x1e",
                )
            ).alias("payload_md5"),
        )
    )


@register(
    "docs_dedup_apply_best",
    oracle=f"""
    WITH clusters AS (
{_clusters_oracle()}
    ), m AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             CAST(len(string_split(d.text, ' ')) AS INT) AS n_words,
             c.cluster_rep AS cluster_id
      FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    ), r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY cluster_id ORDER BY n_words DESC, doc_id
             ) AS rn,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS INT)
               AS cluster_size
      FROM m
    )
    SELECT doc_id, lang, n_chars, n_words, cluster_id, cluster_size
    FROM r WHERE rn = 1
    """,
    tags=("llm", "dedup", "curation"),
)
def docs_dedup_apply_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy dedup: like ``docs_dedup_apply`` but the kept
    representative is the cluster's BEST member — longest document
    (max n_words), doc_id tie-break — rather than the smallest id.
    This is the convention real curation pipelines use (keep the most
    complete copy of a boilerplate-trimmed page), and it exercises
    deterministic per-group arg-max selection.

    Scale: one corpus shuffle on cluster_id for the row_number /
    count window pair (both share the partitioning, one exchange).
    Near-dup cluster sizes are bounded in practice (they are transitive
    closures of above-threshold Jaccard pairs, not topical groups), so
    the per-partition window state stays small; a
    pathological mega-cluster would already have been capped upstream
    by the df-ceiling on the pair generator."""
    d = load(spark, sf_dir, "documents")
    comp = docs_dup_clusters(spark, sf_dir)
    m = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("int").alias("n_words"),
    ).join(comp.select("doc_id", F.col("cluster_rep").alias("cluster_id")), "doc_id")
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.desc("n_words"), F.asc("doc_id"))
    return (
        m.withColumn("rn", F.row_number().over(wo))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("int"))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "n_words", "cluster_id", "cluster_size")
    )


BLOOM_K = 4  # hash functions
BLOOM_BITS_PER_ITEM = 10  # ~1% FPR at K=4


def bloom_m_for(n_items: int) -> int:
    """Data-derived filter size: the next power of two giving
    ``BLOOM_BITS_PER_ITEM`` bits per test-set shingle (floor 2^14).
    A FIXED M saturates as the held-out set grows — at 4x the fixture
    the FPR of a 2^17-bit filter rises from ~2% to ~40%, silently
    degrading the prefilter to a pass-through (the SemDeDup
    data-derived-k lesson applied to sketches)."""
    m = 1 << 14
    while m < n_items * BLOOM_BITS_PER_ITEM:
        m <<= 1
    return m

_BLOOM_DECON_ORACLE = """
    WITH s AS (
      SELECT doc_id, text,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hh
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), g AS (
      SELECT doc_id, hh,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]
             )) AS grams
      FROM s
    ), test_sh AS (
      SELECT DISTINCT unnest(grams) AS sh FROM g WHERE hh >= 'e6'
    ), train AS (
      SELECT doc_id, grams FROM g WHERE hh < 'cd'
    ), tr_sh AS (
      SELECT doc_id, unnest(grams) AS sh FROM train
    ), m AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_matching_shingles
      FROM tr_sh t JOIN test_sh x ON x.sh = t.sh
      GROUP BY t.doc_id
    )
    SELECT tr.doc_id,
           CAST(len(tr.grams) AS BIGINT) AS n_shingles,
           CAST(coalesce(m.n_matching_shingles, 0) AS BIGINT)
             AS n_matching_shingles,
           coalesce(m.n_matching_shingles, 0) > 0 AS exact_contaminated
    FROM train tr LEFT JOIN m ON m.doc_id = tr.doc_id
"""


@register(
    "docs_bloom_decontamination",
    oracle=_BLOOM_DECON_ORACLE,
    tags=("llm", "decontamination", "curation", "sketch"),
)
def docs_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-shingle decontamination (the GPT-3-style audit: a train
    doc is contaminated if it shares any word-trigram with the test
    split) computed THROUGH a Bloom-filter prefilter — the production
    plan at corpus scale. The test split's distinct shingles build an
    M-bit / ``BLOOM_K``-hash filter (M data-derived via
    ``bloom_m_for`` — ``BLOOM_BITS_PER_ITEM`` bits per shingle, ~1%
    FPR at ANY held-out-set size) as ≤ M/64 (widx, word) rows via one
    tiny bit_or aggregate; train shingles probe it with a broadcast
    join, and ONLY bloom-candidate shingles reach the exact equi-join
    against the test shingle set.

    The oracle recomputes full exact contamination with no bloom, so
    the driver's hash compare IS the no-false-negative proof: if the
    prefilter dropped one true match, per-doc counts would differ and
    the check would fail. False positives cost only wasted exact-join
    probes, never wrong output (the pytest property test bounds their
    rate).

    Scale (100 TB): the held-out set is benchmark-sized, so its filter
    broadcasts at megabytes (size M ~ n*K/ln 2) while the train side
    — the 10^12-shingle relation — is touched exactly once, and the
    expensive string equi-join runs only on the ~FPR-sized candidate
    remnant instead of every train shingle. Filter build is one
    aggregation over the test shingles; no corpus-sized shuffle keys
    a string."""
    from ..llm.dedup import word_trigrams

    d = load(spark, sf_dir, "documents")
    hh = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    # materialize the word split BEFORE the trigram lambda (the
    # hashed_shingle_table split-barrier pattern — see word_trigrams)
    # Fanning this frame was measured and REJECTED in r12 (interleaved
    # 3×2 A/B: warm 1.83/1.73/1.73 plain vs 2.26/2.41/2.12 fanned) —
    # repartitioning the exploded word ARRAYS (~300 strings/row) costs
    # more than the K codegen hash-probes it would parallelize.
    w = d.select(
        "doc_id", hh.alias("hh"), F.split("text", " ").alias("w")
    ).localCheckpoint(eager=True)
    grams = (
        w.select("doc_id", "hh", word_trigrams(F.col("w")).alias("grams"))
        .filter(F.size("grams") >= 1)
        .localCheckpoint(eager=True)  # consumed by test set, train base, probe
    )
    # test-split distinct shingles: benchmark-sized, two consumers
    # (bloom build + exact join) — checkpoint once
    test_sh = (
        grams.filter(F.col("hh") >= "e6")
        .select(F.explode("grams").alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bloom_m = bloom_m_for(test_sh.count())  # scalar on the checkpoint

    def positions(sh: F.Column) -> F.Column:
        return F.array(
            *[F.pmod(F.xxhash64(sh, F.lit(k)), F.lit(bloom_m)) for k in range(BLOOM_K)]
        )

    bloom = F.broadcast(
        test_sh.select(F.explode(positions(F.col("sh"))).alias("pos"))
        .select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("widx"),
            F.expr("CAST(pos % 64 AS INT)").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("word"))
    )
    train = grams.filter(F.col("hh") < "cd")
    tr_sh = train.select("doc_id", F.explode("grams").alias("sh"))
    # probe: K positions per shingle -> K broadcast bloom lookups -> a
    # shingle is a candidate iff ALL K bits are set. One broadcast-hash
    # join PER HASH keeps the probe entirely map-side — the former
    # positions-explode + groupBy(doc_id, sh) form paid a
    # corpus-shingle-sized shuffle keyed by the shingle STRING just to
    # re-merge the K rows each shingle had been split into.
    cand = tr_sh
    bit_set = []
    for k in range(BLOOM_K):
        pos = F.pmod(F.xxhash64(F.col("sh"), F.lit(k)), F.lit(bloom_m))
        cand = cand.withColumn(f"widx{k}", (pos / 64).cast("int")).withColumn(
            f"bit{k}", pos.cast("int") % 64
        )
        cand = cand.join(
            F.broadcast(
                bloom.select(
                    F.col("widx").alias(f"widx{k}"),
                    F.col("word").alias(f"word{k}"),
                )
            ),
            f"widx{k}",
            "left",
        )
        bit_set.append(
            F.expr(
                f"word{k} IS NOT NULL"
                f" AND (shiftright(word{k}, bit{k}) & 1) = 1"
            )
        )
    all_set = bit_set[0]
    for c in bit_set[1:]:
        all_set = all_set & c
    cand = cand.filter(all_set).select("doc_id", "sh")
    # exact join on the candidate remnant only — the production path
    matches = (
        cand.join(test_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matching_shingles"))
    )
    return (
        train.select("doc_id", F.size("grams").cast("bigint").alias("n_shingles"))
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_matching_shingles", F.lit(0))
            .cast("bigint")
            .alias("n_matching_shingles"),
            (F.coalesce("n_matching_shingles", F.lit(0)) > 0).alias(
                "exact_contaminated"
            ),
        )
    )
