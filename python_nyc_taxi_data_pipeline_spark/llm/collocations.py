"""Collocation (phrase) mining: word2vec-style bigram phrase scores.

The phrase-detection pass that runs before tokenizer/embedding training
(Mikolov et al. '13): score every adjacent word pair by
``(count(ab) - delta) * T / (count(a) * count(b))`` and promote the top
scorers to phrases. A high score means the bigram occurs far more often
than its parts predict.

Cross-engine exactness: the score is (exact BIGINT numerator product) /
(exact BIGINT denominator product) — ONE IEEE-754 division of two
integers, bit-identical in Spark and DuckDB, rounded to 6 dp. No
logarithms in the ranked quantity (PMI's ln would rank identically but
adds a libm-parity risk for zero gain).

Scale (100 TB): positional bigrams explode from a per-row projection
(the word array binds once in a lambda, the spans.py CSE pattern);
bigram and unigram counts are two map-side-combined aggregations; the
unigram join keys are single words against a vocab-sized table (AQE
decides broadcast); top-k is TakeOrderedAndProject. No window over an
unpartitioned key, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register

PHRASE_DELTA = 5  # discount: suppresses rare-pair flukes
MIN_PAIR_COUNT = 10
TOP_PHRASES = 20

_COLLOC_ORACLE = f"""
    WITH w AS (
      SELECT string_split(text, ' ') AS ws FROM documents
    ), uni AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(ws) AS tok FROM w)
      GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS t FROM uni
    ), bi AS (
      SELECT ws[i] AS a, ws[i + 1] AS b, CAST(count(*) AS BIGINT) AS c_ab
      FROM w, unnest(range(1, len(ws))) AS u(i)
      GROUP BY 1, 2
    ), scored AS (
      SELECT bi.a, bi.b, bi.c_ab, ua.c AS c_a, ub.c AS c_b,
             round(CAST((bi.c_ab - {PHRASE_DELTA}) * (SELECT t FROM tot)
                        AS DOUBLE)
                   / (ua.c * ub.c), 6) AS phrase_score
      FROM bi
      JOIN uni ua ON ua.tok = bi.a
      JOIN uni ub ON ub.tok = bi.b
      WHERE bi.c_ab >= {MIN_PAIR_COUNT}
    )
    SELECT a, b, c_ab, c_a, c_b, phrase_score,
           CAST(row_number() OVER (
             ORDER BY phrase_score DESC, a, b
           ) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {TOP_PHRASES}
"""


@register("docs_collocations_pmi", oracle=_COLLOC_ORACLE, tags=("llm", "text", "phrases"))
def docs_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PHRASES} phrase candidates by the discounted word2vec
    phrase score (see module docstring)."""
    d = load(spark, sf_dir, "documents")
    w = d.select(
        F.expr(
            "transform(array(split(text, ' ')), ws ->"
            " case when size(ws) < 2 then array()"
            " else transform(sequence(1, size(ws) - 1),"
            "   i -> struct(ws[i - 1] as a, ws[i] as b)) end)[0]"
        ).alias("pairs")
    )
    bi = (
        w.select(F.explode("pairs").alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_PAIR_COUNT)
    )
    uni = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # consumed by the total AND two joins
    )
    total = int(uni.agg(F.sum("c")).collect()[0][0])
    scored = (
        bi.join(uni.select(F.col("tok").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("tok").alias("b"), F.col("c").alias("c_b")), "b")
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                ((F.col("c_ab") - PHRASE_DELTA) * F.lit(total)).cast("double")
                / (F.col("c_a") * F.col("c_b")),
                6,
            ).alias("phrase_score"),
        )
    )
    # rank is enumerated driver-side over the bounded TakeOrdered
    # result (TOP_PHRASES rows) — a global rank window would force a
    # SinglePartition exchange for nothing (the bpe-merges precedent)
    top = scored.orderBy(
        F.desc("phrase_score"), F.asc("a"), F.asc("b")
    ).take(TOP_PHRASES)
    return local_frame(
        spark,
        [
            (r["a"], r["b"], r["c_ab"], r["c_a"], r["c_b"], r["phrase_score"], i + 1)
            for i, r in enumerate(top)
        ],
        "a string, b string, c_ab long, c_a long, c_b long,"
        " phrase_score double, rank int",
    )
