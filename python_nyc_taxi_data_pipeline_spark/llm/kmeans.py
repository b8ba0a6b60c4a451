"""Embedding clustering: nearest-centroid assignment and Lloyd k-means.

The training-data use case is corpus bucketing — clustering document
embeddings to stratify mixtures, find semantic near-dup groups, or
build IVF-style coarse quantizers (``llm.similarity`` uses the same
shape for its partitioned ANN path).

Scale design (100 TB of embeddings, k clusters, d dims):
- Centroids are k×d doubles — metadata-sized. They live on the driver
  between iterations and reach executors as a broadcast one-row
  DataFrame (the same broadcast-centroid-matrix design as Spark
  MLlib's KMeans); the corpus is never collected.
- Assignment is a pure map: per row, argmin over k literal-centroid
  distances via JVM array lambdas — ZERO shuffle, zero Python.
- The Lloyd update is the only shuffle, once per iteration:
  posexplode(embedding) → SUM/COUNT per (cluster, dim) — k·d groups,
  map-side combined, then collected (k·d values, metadata-sized) to
  rebuild centroids driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register
from .similarity import _as_double

K_CENTROIDS = 8
LLOYD_ITERATIONS = 3

Centroid = tuple[int, list[float]]


def _centroid_frame(spark: SparkSession, centroids: list[Centroid]) -> DataFrame:
    """The k×d centroid matrix (or PQ codebook) as a one-row ``cents``
    frame for a broadcast attach."""
    return local_frame(
        spark,
        [([{"c": int(cid), "v": [float(x) for x in cvec]} for cid, cvec in centroids],)],
        "cents array<struct<c:bigint,v:array<double>>>",
    )


def assign_nearest(vectors: DataFrame, centroids: list[Centroid]) -> DataFrame:
    """(vec_id, evec) → (vec_id, evec, cluster_id, dist_sq) as a pure
    map stage: the k distances form an array of (dist, cid) structs and
    ``array_min`` picks the lexicographic minimum — deterministic
    tie-break on the lowest cid, no shuffle, no window.

    The k×d centroid matrix reaches executors as a BROADCAST one-row
    DataFrame (BroadcastNestedLoopJoin against one row = a free
    map-side attach), not as a k·d-term literal expression: the literal
    variant spent ~5s/iteration in parse+analyze+codegen of a
    512-constant tree, re-paid every Lloyd round, dwarfing the actual
    scan. The argmin expression itself is constant-size in k and d."""
    cmat_df = _centroid_frame(vectors.sparkSession, centroids)
    best = F.expr(
        """array_min(transform(cents, s -> named_struct(
              'd', aggregate(zip_with(evec, s.v, (a, b) -> (a-b)*(a-b)),
                             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x),
              'c', s.c)))"""
    )
    return vectors.crossJoin(F.broadcast(cmat_df)).select(
        "vec_id",
        "evec",
        best["c"].alias("cluster_id"),
        best["d"].alias("dist_sq"),
    )


def _load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured and REJECTED (r12 interleaved 3×2 A/B): fanning this
    # scan regressed every Lloyd consumer (embeddings_kmeans warm
    # 2.98→3.15, semdedup family similar) — the 2 k-row corpus's k×d
    # argmin is too light to amortize the added exchange, unlike the
    # pca_power moment fold where the same guard won 3.1→1.1. The one
    # consumer it helped (embeddings_pq_codes 1.00→0.84) fans inline.
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("evec")
    )


def _seed_centroids(vectors: DataFrame, k: int) -> list[Centroid]:
    """Deterministic init: the k lowest vec_ids (a k-row collect)."""
    rows = vectors.filter(F.col("vec_id") < k).collect()
    return [(int(r["vec_id"]), list(r["evec"])) for r in sorted(rows, key=lambda r: r["vec_id"])]


@register(
    "embeddings_nearest_centroid",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < {K_CENTROIDS}
    ),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS evec FROM embeddings
    ),
    d AS (
      SELECT e.vec_id, c.cid,
             list_reduce(
               [ (evec[i]-cvec[i])*(evec[i]-cvec[i])
                 for i in generate_series(1, len(evec)) ],
               (a, b) -> a + b) AS dist_sq
      FROM e CROSS JOIN c
    )
    SELECT vec_id, cid AS cluster_id, round(dist_sq, 4) AS dist_sq
    FROM d
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq, cid) = 1
    """,
    tags=("llm", "clustering"),
)
def embeddings_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer assignment: every embedding to its nearest of
    the k seed centroids (the k lowest vec_ids), exact L2, deterministic
    tie-break. One shuffle-free codegen pass over the corpus."""
    vectors = _load_vectors(spark, sf_dir)
    assigned = assign_nearest(vectors, _seed_centroids(vectors, K_CENTROIDS))
    return assigned.select(
        "vec_id", "cluster_id", F.round("dist_sq", 4).alias("dist_sq")
    )


def lloyd_iterate(
    vectors: DataFrame, centroids: list[Centroid], iterations: int
) -> tuple[list[Centroid], list[float]]:
    """Run ``iterations`` Lloyd rounds; returns the final centroids and
    each round's inertia. One k·d-group aggregation shuffle per round;
    the per-row assignment is fused into the same stage (no join back
    to the corpus).

    Each round's inertia (Σ dist_sq vs that round's INPUT centroids)
    rides along in the same shuffle for free: after posexplode every
    row contributes its dist_sq to exactly d (cluster, dim) groups, so
    Σ_groups sum(dist_sq) = d·inertia — no separate corpus pass."""
    inertias: list[float] = []
    for _ in range(iterations):
        sums = (
            assign_nearest(vectors, centroids)
            .select(
                "cluster_id", "dist_sq", F.posexplode("evec").alias("dim", "v")
            )
            .groupBy("cluster_id", "dim")
            .agg(
                F.sum("v").alias("s"),
                F.count("*").alias("n"),
                F.sum("dist_sq").alias("dsum"),
            )
            .collect()  # k·d rows — metadata-sized by construction
        )
        by_cid: dict[int, dict[int, float]] = {}
        for row in sums:
            by_cid.setdefault(int(row["cluster_id"]), {})[int(row["dim"])] = (
                row["s"] / row["n"]
            )
        n_dims = max(len(d) for d in by_cid.values())
        inertias.append(sum(row["dsum"] for row in sums) / n_dims)
        centroids = [
            (cid, [dims[i] for i in range(len(dims))])
            for cid, dims in sorted(by_cid.items())
        ]
    return centroids, inertias


@register(
    "embeddings_kmeans",
    oracle="""
    SELECT count(*) AS total_points,
           TRUE AS clusters_within_k,
           TRUE AS inertia_improved
    FROM embeddings
    """,
    tags=("llm", "clustering"),
)
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkable k-means contract (the ``events_user_trend`` pattern):
    Lloyd's per-cluster means are float-order-sensitive in the last
    ulps, so instead of shipping raw centroids the registered query
    runs the full 3-iteration Lloyd loop and emits one row of exactly
    hashable facts — point conservation (every embedding assigned to
    exactly one cluster; the count the oracle recomputes), cluster
    count bounded by k, and non-increasing inertia vs the seeded
    assignment. A broken assignment or update step flips a boolean and
    fails the driver hash."""
    vectors = _load_vectors(spark, sf_dir).cache()
    try:
        seeds = _seed_centroids(vectors, K_CENTROIDS)
        # inertia_0 (vs the seeds) rides along in the first Lloyd
        # shuffle — no separate seed-assignment pass over the corpus.
        centroids, inertias = lloyd_iterate(vectors, seeds, LLOYD_ITERATIONS)
        final = assign_nearest(vectors, centroids).agg(
            F.count("*").alias("total_points"),
            F.countDistinct("cluster_id").alias("k_used"),
            F.sum("dist_sq").alias("inertia_n"),
        )
        return final.select(
            "total_points",
            (
                (F.col("k_used") >= F.lit(1))
                & (F.col("k_used") <= F.lit(K_CENTROIDS))
            ).alias("clusters_within_k"),
            (F.col("inertia_n") <= F.lit(inertias[0]) * (1.0 + 1e-9)).alias(
                "inertia_improved"
            ),
        )
    finally:
        vectors.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ building block)

PQ_M = 4  # subspaces
PQ_K = 4  # codes per subspace (codebook = sub-vectors of the PQ_K lowest vec_ids)

# Module-level so composing oracles (staged_r8's PQ distortion report)
# can import it directly instead of reading it back through
# `registry.all_queries()` at import time — that call re-enters the
# registry load and breaks when the composing module itself is the one
# being imported by `_ensure_loaded`.
PQ_CODES_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS code, v FROM e WHERE vec_id < {PQ_K}
    ),
    sub AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
    ),
    dims AS (
      SELECT len(v) // {PQ_M} AS sd FROM e LIMIT 1
    ),
    pairs AS (
      SELECT e.vec_id, sub.m, s.code,
             list_reduce(
               [ (e.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 * (e.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 for i in generate_series(1, sd) ],
               (a, b) -> a + b) AS dist_sq
      FROM e CROSS JOIN sub CROSS JOIN seeds s CROSS JOIN dims
    )
    SELECT vec_id, CAST(m AS BIGINT) AS subspace,
           CAST(code AS BIGINT) AS code,
           round(dist_sq, 4) AS dist_sq
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dist_sq, code) = 1
    """


def _pq_sub_dist(vec: str, cent: str, m: str, sub_dim: int) -> str:
    """SQL: squared L2 distance between subspace ``m`` (0-based) of the
    arrays ``vec`` and ``cent``, folded in dimension order."""
    return f"""aggregate(
        zip_with(slice({vec}, {m} * {sub_dim} + 1, {sub_dim}),
                 slice({cent}, {m} * {sub_dim} + 1, {sub_dim}),
                 (a, b) -> (a-b)*(a-b)),
        CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""


def _pq_coded(vectors: DataFrame, seeds: list[Centroid], *keep: str) -> DataFrame:
    """(``keep``…, m, best): one row per (vector, subspace ``m``) with
    ``best.c`` the nearest codebook entry of that sub-vector (exact L2,
    tie-break on the lowest code) and ``best.d`` its squared distance.
    The codebook ``seeds`` is attached as a broadcast one-row frame (see
    ``assign_nearest``); the explode to ``PQ_M`` rows is the only
    fan-out, with no shuffle."""
    sub_dim = len(seeds[0][1]) // PQ_M
    best = F.expr(
        "array_min(transform(cents, s -> named_struct("
        f"'d', {_pq_sub_dist('evec', 's.v', 'm', sub_dim)}, 'c', s.c)))"
    )
    return (
        vectors.crossJoin(F.broadcast(_centroid_frame(vectors.sparkSession, seeds)))
        .select(
            *keep,
            "evec",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        )
        .select(*keep, "m", best.alias("best"))
    )


@register(
    "embeddings_pq_codes",
    oracle=PQ_CODES_ORACLE,
    tags=("llm", "embedding", "quantization"),
)
def embeddings_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment: split each d-dim embedding into
    ``PQ_M`` contiguous subspaces and code each against a deterministic
    per-subspace codebook (the sub-vectors of the ``PQ_K`` lowest
    vec_ids), exact L2 argmin with tie-break on the lowest code. One
    row per (vec_id, subspace) — the code table an IVF-PQ index stores
    instead of raw floats (d×4 bytes → M×1 byte per vector).

    Scale: the codebook is M×K×(d/M) doubles = metadata, broadcast as a
    one-row DataFrame (see ``assign_nearest``); assignment is a single
    shuffle-free codegen pass with an explode to M rows per vector. At
    100 TB nothing is collected and the scan parallelism is the input's.
    """
    # Inline fan (guide §2.5): the ONE _load_vectors consumer the r12
    # A/B showed fan-out helping (warm 1.00→0.84, 3/3 probes) — the
    # M-subspace explode multiplies the per-row fold work. Guarded
    # no-op once the scan is wide; the seed collect below reuses the
    # unfanned frame (a 4-row filter needs no rebalance).
    from ..catalog import fan_out_if_narrow

    vectors_plain = _load_vectors(spark, sf_dir)
    vectors = fan_out_if_narrow(
        load(spark, sf_dir, "embeddings"), vectors_plain
    )
    seeds = _seed_centroids(vectors_plain, PQ_K)
    return _pq_coded(vectors, seeds, "vec_id").select(
        "vec_id",
        F.col("m").cast("long").alias("subspace"),
        F.col("best.c").alias("code"),
        F.round("best.d", 4).alias("dist_sq"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ search: coarse-cell pruning + asymmetric distance computation (ADC)


def _adc_oracle() -> str:
    from .similarity import QUERY_MOD, TOP_K

    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS code, v FROM e WHERE vec_id < {PQ_K}
    ),
    sub AS (
      SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
    ),
    dims AS (
      SELECT len(v) // {PQ_M} AS sd FROM e LIMIT 1
    ),
    cand_dist AS (
      SELECT e.vec_id, e.label, sub.m, s.code,
             list_reduce(
               [ (e.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 * (e.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 for i in generate_series(1, sd) ],
               (a, b) -> a + b) AS dist_sq
      FROM e CROSS JOIN sub CROSS JOIN seeds s CROSS JOIN dims
    ),
    codes AS (
      SELECT vec_id, label, m, code FROM cand_dist
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist_sq, code) = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, q.label, sub.m, s.code,
             list_reduce(
               [ (q.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 * (q.v[sub.m * sd + i] - s.v[sub.m * sd + i])
                 for i in generate_series(1, sd) ],
               (a, b) -> a + b) AS pd
      FROM e q CROSS JOIN sub CROSS JOIN seeds s CROSS JOIN dims
      WHERE q.vec_id % {QUERY_MOD} = 0
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             round(list_reduce(list(l.pd ORDER BY l.m), (a, b) -> a + b), 6)
               AS adc_dist
      FROM codes c JOIN lut l
        ON c.m = l.m AND c.code = l.code AND c.label = l.label
      WHERE c.vec_id <> l.query_id
      GROUP BY l.query_id, c.vec_id
      HAVING count(*) = {PQ_M}
    )
    SELECT query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY adc_dist, neighbor_id
           ) AS INT) AS rank
    FROM adc
    QUALIFY rank <= {TOP_K}
    """


@register("knn_pq_adc", oracle=_adc_oracle(), tags=("llm", "similarity", "pq"))
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbors, the way a 100 TB vector
    index actually serves queries: candidates are pruned to the query's
    coarse cell (``label``, standing in for a trained coarse quantizer
    as in ``knn_cosine_partitioned``), then scored by ASYMMETRIC
    DISTANCE — the exact query sub-vector against each candidate's PQ
    centroid, a (subspace, code) table lookup instead of a d-dim float
    scan. Top-5 per query by ADC distance, ties on neighbor_id.

    Scale shape: the LUT is |queries|×M×K rows (metadata-sized, built
    distributively — no collect — and broadcast to the scoring join);
    candidates carry only their M codes, so the scoring join moves
    |cell|×M tiny rows per query before the (query, neighbor) roll-up.
    The per-pair distance folds over the SORTED (m, pd) array — both
    engines add in subspace order, so the float result is bit-identical
    and the oracle checks exact values, not tolerances. The
    ``nm = M`` filter pins the lookup join's completeness."""
    from pyspark.sql.window import Window

    from .similarity import QUERY_MOD, TOP_K

    # fan-out measured and rejected here (r12 A/B: knn_pq_adc warm
    # 2.29→2.56 with it) — see _load_vectors.
    vectors = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("evec")
    )
    seeds = _seed_centroids(vectors, PQ_K)  # the one codebook collect
    codes = _pq_coded(vectors, seeds, "vec_id", "label").select(
        "vec_id", "label", "m", F.col("best.c").alias("code")
    )
    sub_dim = len(seeds[0][1]) // PQ_M
    # LUT: per (query, subspace, code) partial distance — exact query
    # vector vs codebook centroid. One generator per select (Spark
    # allows a single explode per projection): subspaces first, then
    # codebook entries.
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            _as_double(F.col("embedding")).alias("qvec"),
        )
    )
    lut = (
        queries.crossJoin(F.broadcast(_centroid_frame(spark, seeds)))
        .select(
            "query_id",
            "qlabel",
            "qvec",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("qm"),
        )
        .select(
            "query_id",
            "qlabel",
            "qvec",
            "qm",
            F.explode("cents").alias("cent"),
        )
        .select(
            "query_id",
            "qlabel",
            "qm",
            F.col("cent.c").alias("qcode"),
            F.expr(_pq_sub_dist("qvec", "cent.v", "qm", sub_dim)).alias("pd"),
        )
    )
    scored = codes.join(
        F.broadcast(lut),
        (F.col("m") == F.col("qm"))
        & (F.col("code") == F.col("qcode"))
        & (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    folded = (
        scored.groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sort_array(F.collect_list(F.struct("m", "pd"))).alias("pds"),
            F.count(F.lit(1)).alias("nm"),
        )
        .filter(F.col("nm") == PQ_M)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    "aggregate(transform(pds, p -> p.pd),"
                    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
                ),
                6,
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        folded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
