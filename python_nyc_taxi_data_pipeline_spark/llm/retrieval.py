"""Lexical retrieval: BM25-style top-k scoring over the corpus.

Training-data pipelines use retrieval both ways: pulling quality
exemplars (retrieve-then-filter) and mining hard negatives for
embedding training. This module scores a fixed query battery against
every document with a BM25-shaped ranking function and returns the
top-k per query — the lexical complement of the ANN family in
``llm.similarity`` / ``llm.kmeans``.

Cross-engine exactness note: classic BM25 idf is a logarithm, and
``Math.log`` (JVM) vs libm ``log`` (DuckDB) may differ in the last
ulp — enough to flip a 6-dp rounded hash. The ranking here uses the
RATIONAL idf ``(N - df + 0.5) / (df + 0.5)`` (the same odds ratio
BM25 wraps in ln): monotone in the same direction, purely arithmetic,
bit-identical across engines. Document-length normalization and the
term-frequency saturation are standard (k1 = 1.2, b = 0.75).

Scale design (100 TB corpus, q queries, t query terms):
- The query battery and its per-term document frequencies are
  metadata-sized: df comes from one filtered aggregation over the
  exploded corpus (only rows matching query terms survive the scan
  filter), then broadcasts.
- Per-doc term counts shuffle once on (doc_id, term) — the exploded
  rows are pre-filtered to query terms, so volume is corpus hits, not
  corpus size.
- The per-(query, doc) score folds over a SORTED (term_idx, partial)
  array, so both engines add in the same order → exact value oracle.
- Top-k per query is a bounded window over candidates that matched at
  least one term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load, local_frame
from ..registry import register

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 5
# Fixture vocabulary is synthetic-English word soup; these terms hit.
# 20 queries (2-4 terms, all from the fixture vocabulary): three fused
# lists is an anecdote, not a recall measurement — the ANN-hybrid eval
# (`llm/fusion.py`) needs statistical teeth, and every stage downstream
# is designed to stay q·k-bounded so battery width is metadata, not
# corpus, cost.
BM25_QUERIES = (
    "spark table scan",
    "hash join merge",
    "window sort key",
    "batch stream data",
    "column filter query",
    "group agg value",
    "fast scan big table",
    "slow query order",
    "merge sort row",
    "vector data line",
    "key value part",
    "customer order line",
    "dup row filter",
    "small batch agg",
    "stream window value",
    "part key hash",
    "big data spark",
    "query filter sort scan",
    "table row column",
    "join group window",
)


def _terms() -> list[tuple[int, int, str]]:
    """(query_id, term_idx, term) rows for the fixed battery."""
    out = []
    for qid, q in enumerate(BM25_QUERIES):
        for ti, term in enumerate(q.split(" ")):
            out.append((qid, ti, term))
    return out


def _bm25_oracle() -> str:
    terms_values = ", ".join(
        f"({qid}, {ti}, '{term}')" for qid, ti, term in _terms()
    )
    return f"""
    WITH qt(query_id, term_idx, term) AS (
      VALUES {terms_values}
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               / count(*) AS avgdl
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT w.doc_id, w.w AS term, CAST(count(*) AS DOUBLE) AS tf
      FROM words w
      WHERE w.w IN (SELECT DISTINCT term FROM qt)
      GROUP BY w.doc_id, w.w
    ),
    df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents
    ),
    partials AS (
      SELECT qt.query_id, tf.doc_id, qt.term_idx,
             ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                     + {BM25_B} * dl.dl / stats.avgdl))
               AS p
      FROM qt
      JOIN tf ON tf.term = qt.term
      JOIN df ON df.term = qt.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(p ORDER BY term_idx), (a, b) -> a + b), 6)
               AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM partials
      GROUP BY query_id, doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, n_terms_hit,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id
           ) AS INT) AS rank
    FROM scores
    QUALIFY rank <= {BM25_TOP_K}
    """


@register("docs_bm25_topk", oracle=_bm25_oracle(), tags=("llm", "retrieval"))
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per query for the fixed 20-query battery under
    the rational-idf BM25 ranking (see module docstring). Ties break
    on doc_id; ``n_terms_hit`` exposes how many query terms matched.

    Plan: corpus explodes to (doc_id, term) pre-filtered to the query
    vocabulary (scan-level IN filter), one (doc_id, term) count
    shuffle, broadcast df/N/avgdl statistics, order-pinned fold per
    (query, doc), bounded top-k window."""
    d = load(spark, sf_dir, "documents")
    terms_df = F.broadcast(
        local_frame(spark, _terms(), "query_id long, term_idx int, term string")
    )
    vocab = sorted({t for _, _, t in _terms()})

    stats_row = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.split("text", " "))).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    ).first()
    n_docs, avgdl = float(stats_row["n_docs"]), float(stats_row["avgdl"])

    words = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    ).filter(F.col("term").isin(vocab))
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("dl").alias("dl"),
    )
    df_tbl = F.broadcast(
        tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    partial = (
        tf.join(df_tbl, "term")
        .join(terms_df, "term")
        .select(
            "query_id",
            "doc_id",
            "term_idx",
            (
                ((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
                )
            ).alias("p"),
        )
    )
    scores = (
        partial.groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term_idx", "p"))).alias("ps"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.expr(
                    "aggregate(transform(ps, s -> s.p),"
                    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
                ),
                6,
            ).alias("score"),
            "n_terms_hit",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
    )
