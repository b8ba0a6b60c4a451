"""Invariants for llm.kmeans (nearest-centroid assignment + Lloyd) and
llm.quality (Gopher rule battery, duplicated-n-gram fraction).

The kmeans query is registered rows-only (double means are
partition-order-sensitive in the last ulps), so the mathematical
contracts live here: argmin correctness against a NumPy oracle,
deterministic tie-breaks, and non-increasing Lloyd inertia.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_nyc_taxi_data_pipeline_spark.llm.kmeans import (
    K_CENTROIDS,
    _load_vectors,
    assign_nearest,
    lloyd_iterate,
    _seed_centroids,
)
from python_nyc_taxi_data_pipeline_spark.llm.quality import (
    DUP_NGRAM_N,
    doc_ngrams,
)

from tests.conftest import SF_DIR


def _inertia(vectors, centroids):
    return (
        assign_nearest(vectors, centroids)
        .agg(F.sum("dist_sq").alias("s"))
        .collect()[0]["s"]
    )


def test_assign_nearest_matches_numpy_argmin(spark):
    vectors = _load_vectors(spark, SF_DIR)
    centroids = _seed_centroids(vectors, K_CENTROIDS)
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist_sq"])
        for r in assign_nearest(vectors, centroids).collect()
    }
    cmat = np.array([c for _, c in centroids])
    cids = np.array([cid for cid, _ in centroids])
    for row in vectors.collect():
        d = ((np.array(row["evec"]) - cmat) ** 2).sum(axis=1)
        best = int(np.argmin(d))  # np.argmin takes the first (lowest) index
        cid, dist = got[row["vec_id"]]
        assert cid == cids[best]
        assert math.isclose(dist, float(d[best]), rel_tol=1e-9)


def test_assign_nearest_tie_breaks_on_lowest_cid(spark):
    vectors = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, evec array<double>"
    )
    # Two equidistant centroids — the lower cid must win.
    centroids = [(3, [0.0, 0.0]), (7, [2.0, 0.0])]
    row = assign_nearest(vectors, centroids).collect()[0]
    assert row["cluster_id"] == 3
    assert row["dist_sq"] == 1.0


def test_lloyd_inertia_non_increasing(spark):
    vectors = _load_vectors(spark, SF_DIR).cache()
    try:
        centroids = _seed_centroids(vectors, K_CENTROIDS)
        inertias = [_inertia(vectors, centroids)]
        for _ in range(3):
            centroids, _ = lloyd_iterate(vectors, centroids, 1)
            inertias.append(_inertia(vectors, centroids))
    finally:
        vectors.unpersist(blocking=False)
    for prev, cur in zip(inertias, inertias[1:]):
        assert cur <= prev * (1 + 1e-9), inertias
    assert inertias[-1] < inertias[0]  # it actually moved


def test_lloyd_is_deterministic(spark):
    vectors = _load_vectors(spark, SF_DIR)
    seed = _seed_centroids(vectors, K_CENTROIDS)
    a = lloyd_iterate(vectors, seed, 2)
    b = lloyd_iterate(vectors, seed, 2)
    assert a == b


def test_doc_ngrams_short_doc_is_empty_not_reversed_sequence(spark):
    # sequence(1, 0) in Spark counts DOWN — the guard must return [],
    # not grams of a reversed index range.
    df = spark.createDataFrame(
        [("a b c",), ("one two three four five six seven eight",)],
        "text string",
    ).select(doc_ngrams(F.col("text")).alias("g"))
    short, exact = [r["g"] for r in df.collect()]
    assert short == []
    assert len(exact) == 1  # exactly one 8-gram for an 8-word doc


def test_doc_ngrams_distinct_and_order_free(spark):
    text = " ".join(["w%d" % (i % 9) for i in range(30)])
    n = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.size(doc_ngrams(F.col("text"))).alias("n"))
        .collect()[0]["n"]
    )
    # 30 words → 23 raw 8-grams, but the pattern repeats every 9 words,
    # so distinct count is 9.
    assert n == 9


def test_dup_ngram_fraction_flags_shared_boilerplate(spark):
    boiler = "this is the shared boilerplate footer of the page"
    rows = [
        (1, f"unique alpha text one two three four five {boiler}"),
        (2, f"other beta content six seven eight nine ten {boiler}"),
        (3, "totally distinct words nothing shared with anyone here at all"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    grams = d.select("doc_id", F.explode(doc_ngrams(F.col("text"))).alias("g"))
    df = grams.groupBy("g").agg(F.count("*").alias("ndocs"))
    dup = (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)) / F.count("*")).alias(
                "frac"
            )
        )
    )
    fr = {r["doc_id"]: r["frac"] for r in dup.collect()}
    assert fr[3] == 0.0
    assert fr[1] > 0 and fr[2] > 0
    # the 9-word boilerplate contributes 2 shared 8-grams to each doc
    assert fr[1] == pytest.approx(2 / (9 + DUP_NGRAM_N - 6 - 1), abs=0.2)
