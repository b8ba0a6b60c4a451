"""Semantic deduplication (SemDeDup shape: Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication"): cluster the embedding space, then drop all but one
representative of every within-cluster ε-ball.

The clustering here is nearest-of-k-fixed-seeds (the k lowest vec_ids)
rather than iterated Lloyd: assignments become a pure deterministic
expression over (vector, seed) cosines, which makes the WHOLE operator
— assignment, within-cluster pair scan, greedy pruning — exactly
reproducible by the DuckDB oracle. The iterated-kmeans variant of the
same pipeline is available by composing ``llm.kmeans`` +
``llm.similarity`` (`embeddings_dedup_apply`), which carries
bound-contract oracles instead.

Scale notes (100 TB):
- seeds are k·d values — a legal broadcast at any corpus size
  (k is a config, not data-dependent);
- assignment is map-side (one cosine per seed per vector, no shuffle);
- the pair scan shuffles once on cluster_id and is O(Σ cluster²) —
  SemDeDup's intrinsic cost; in production k grows with the corpus
  (k ≈ n / target_cluster_size) precisely to keep per-cluster
  quadratic work bounded;
- greedy keep-lowest-id pruning is one aggregation over the pair list,
  not an iterative loop (a doc is dropped iff ANY lower-id same-cluster
  doc sits within the ε-ball — no chaining).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EMB_DIM, load
from ..registry import register
from .similarity import _as_double, _dot, _norm

SEMDEDUP_K = 8  # fixture pin for the registered query (oracle stability)
SEMDEDUP_COSINE = 0.42  # ε-ball threshold (fixture p99.9+, cf. NEARDUP_COSINE)
# Production default: k grows with the corpus, k = ceil(n / target
# cluster size), which bounds the within-cluster quadratic pair scan at
# O(n · target_cluster_size) regardless of corpus scale.
SEMDEDUP_TARGET_CLUSTER_SIZE = 64
# Most seed doubles (k·d) the fixed-seed path folds into one broadcast row.
SEED_ROW_MAX_DOUBLES = 50_000_000


def _semdedup_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x * x), (acc, x) -> acc + x)) AS nrm
      FROM v
    ), seeds AS (
      SELECT vec_id AS seed_id, v AS sv, nrm AS snrm
      FROM n ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ), scored AS (
      SELECT a.vec_id, s.seed_id,
             round(list_reduce(list_transform(list_zip(a.v, s.sv),
                                              p -> p[1] * p[2]),
                               (acc, x) -> acc + x)
                   / (a.nrm * s.snrm), 6) AS cos
      FROM n a CROSS JOIN seeds s
    ), assign AS (
      SELECT vec_id, seed_id AS cluster_id
      FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY cos DESC, seed_id
      ) = 1
    ), dropped AS (
      SELECT DISTINCT y.vec_id
      FROM assign x
      JOIN assign y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
      JOIN n na ON na.vec_id = x.vec_id
      JOIN n nb ON nb.vec_id = y.vec_id
      WHERE round(list_reduce(list_transform(list_zip(na.v, nb.v),
                                             p -> p[1] * p[2]),
                              (acc, x) -> acc + x)
                  / (na.nrm * nb.nrm), 6) >= {SEMDEDUP_COSINE}
    )
    SELECT a.vec_id, a.cluster_id,
           (d.vec_id IS NULL) AS kept
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup with a configurable (default DATA-DERIVED) cluster
    count: ``k=None`` derives k = ceil(n / SEMDEDUP_TARGET_CLUSTER_SIZE)
    from the corpus size — the production scaling that keeps expected
    cluster size (and therefore the within-cluster quadratic pair scan)
    constant as the corpus grows; the derivation costs one count()
    (parquet-footer metadata, not a scan). Pass an explicit ``k`` to pin
    it (the registered fixture query pins {SEMDEDUP_K}).

    Scale ceiling: seeds are broadcast (k·d doubles), so data-derived k
    holds to roughly k·d ≲ 10^8 (corpus ~10^9 docs at d=64). Past the
    broadcast ceiling, the same SemDeDup pipeline should ride iterated
    k-means + IVF assignment instead (``llm.kmeans`` composed as in
    ``embeddings_dedup_apply``) — assignment compute is n·k cosines
    either way; this fixed-seed variant exists for exact oracle
    reproducibility.

    ``base``: an optional pre-staged (vec_id, v: array<double>) frame —
    contract queries that run several variants pass ONE pinned frame so
    the parquet load + double-cast executes once, not per variant."""
    # fan-out measured and REJECTED for this family (r12 interleaved
    # 3×2 A/B: embeddings_semdedup warm 2.68→2.89, both contracts
    # ~+1 s) — the 2 k-row corpus's per-row folds are too light to
    # amortize the added exchange; see kmeans._load_vectors.
    e = base if base is not None else load(
        spark, sf_dir, "embeddings"
    ).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    if k is None:
        k = max(1, math.ceil(e.count() / SEMDEDUP_TARGET_CLUSTER_SIZE))
    n = e.select("vec_id", "v", _norm(F.col("v")).alias("nrm"))
    k_seeds = (
        n.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("v").alias("sv"),
            F.col("nrm").alias("snrm"),
        )
    )
    # argmin via struct-min over a SINGLE-ROW broadcast seed matrix
    # (the kmeans.assign_nearest design): per row, all k rounded
    # cosines fold map-side and array_min picks the lexicographic
    # (−cos, seed_id) minimum — exactly the oracle's ORDER BY cos DESC,
    # seed_id tie-break. The r10 form crossJoined the k seed ROWS and
    # re-grouped by vec_id, which shuffled every vector k times
    # (n·k·d doubles — the dominant exchange of this plan at any
    # scale); the map-side fold removes that exchange outright
    # (guide §2.4). Cosine arithmetic is element-identical (_dot fold,
    # same rounding), proven by the exact per-row oracle of
    # ``embeddings_semdedup`` at all three SFs.
    #
    # LIMIT (tighter than the k-row broadcast relation it replaced):
    # collect_list folds all k seeds into ONE array cell, so k·d seed
    # doubles must fit a single row value, built by a one-task final
    # agg. The guard stops at SEED_ROW_MAX_DOUBLES (400 MB of doubles,
    # a 5x margin under Spark's ~2 GB single-value ceiling): at
    # d = EMB_DIM = 64 that is k ≤ 781,250, far above any sane SemDeDup
    # seed count (k ≈ n/target_cluster). It raises instead of letting an
    # executor OOM; past it the IVF contract variant is the right tool.
    if k * EMB_DIM > SEED_ROW_MAX_DOUBLES:
        raise ValueError(
            f"semdedup fixed-seed path would fold k*d={k * EMB_DIM} doubles "
            f"into one broadcast row (limit {SEED_ROW_MAX_DOUBLES}); use the "
            "IVF variant"
        )
    seed_mat = F.broadcast(
        k_seeds.agg(
            F.array_sort(
                F.collect_list(F.struct("seed_id", "sv", "snrm"))
            ).alias("seeds")
        )
    )
    best = F.array_min(
        F.transform(
            F.col("seeds"),
            lambda s: F.struct(
                (
                    -F.round(
                        _dot(F.col("v"), s["sv"])
                        / (F.col("nrm") * s["snrm"]),
                        6,
                    )
                ).alias("neg_cos"),
                s["seed_id"].alias("seed_id"),
            ),
        )
    )
    assign = (
        n.crossJoin(seed_mat)
        .select("vec_id", "v", "nrm", best["seed_id"].alias("cluster_id"))
        # three consumers below (both pair sides + the final projection)
        # — pin the assignment once instead of recomputing the
        # k-seed scoring per branch
        .localCheckpoint(eager=True)
    )
    return _prune_within_clusters(assign)


def _prune_within_clusters(assign: DataFrame) -> DataFrame:
    """Within-cluster ε-ball greedy keep-lowest-id pruning, shared by
    the fixed-seed and iterated-k-means (IVF) variants. ``assign`` must
    carry (vec_id, cluster_id, v, nrm) and SHOULD already be pinned
    (checkpointed) — it feeds three consumers (both pair sides + the
    final projection)."""
    a = assign.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster_id").alias("c"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = assign.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster_id").alias("c"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    pair_cos = F.round(
        _dot(F.col("av"), F.col("bv")) / (F.col("anrm") * F.col("bnrm")), 6
    )
    dropped = (
        a.join(b, "c")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(pair_cos >= SEMDEDUP_COSINE)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assign.select("vec_id", "cluster_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def semdedup_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = SEMDEDUP_K,
    iterations: int = 3,
    base: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup past the broadcast-seed ceiling: iterated k-means as
    the clusterer (``llm.kmeans`` — Lloyd rounds with the broadcast
    centroid-MATRIX one-row frame, k·d metadata per round) instead of
    the fixed-seed cosine assignment, then the SAME within-cluster
    ε-ball pruning. This is the composition the ``semdedup`` docstring
    names for corpora where data-derived k·d outgrows a seed broadcast:
    centroids stay metadata-sized (they are k·d doubles refreshed per
    round, never corpus-sized), assignment stays a zero-shuffle map
    stage, and the only added cost is ``iterations`` corpus passes.

    ``k=None`` derives k = ceil(n / SEMDEDUP_TARGET_CLUSTER_SIZE) like
    the production fixed-seed path. Returns (vec_id, cluster_id, kept);
    cluster GEOMETRY differs from the fixed-seed variant (L2 Lloyd vs
    single-shot cosine), so the registered contract query checks
    corpus-level agreement facts, not row equality."""
    from .kmeans import _seed_centroids, assign_nearest, lloyd_iterate

    # ``base`` (a pre-pinned (vec_id, v) frame from a contract caller)
    # is already materialized — skip the cache/unpersist dance the
    # standalone path needs for its Lloyd rounds.
    if base is not None:
        e = base.select("vec_id", F.col("v").alias("evec"))
    else:
        # fan-out measured and rejected (r12 A/B) — see the fixed-seed
        # path above.
        e = load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double(F.col("embedding")).alias("evec")
        )
    if k is None:
        k = max(1, math.ceil(e.count() / SEMDEDUP_TARGET_CLUSTER_SIZE))
    if base is None:
        e = e.cache()
    try:
        centroids, _ = lloyd_iterate(e, _seed_centroids(e, k), iterations)
        assign = (
            assign_nearest(e, centroids)
            .select(
                "vec_id",
                "cluster_id",
                F.col("evec").alias("v"),
                _norm(F.col("evec")).alias("nrm"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        if base is None:
            e.unpersist(blocking=False)
    return _prune_within_clusters(assign)


@register(
    "embeddings_semdedup_ivf_contract",
    oracle="""
    SELECT count(*) AS total_points,
           TRUE AS both_assign_all,
           TRUE AS clusters_within_k,
           TRUE AS kept_agreement_ok,
           TRUE AS kept_rate_close
    FROM embeddings
    """,
    tags=("llm", "dedup", "similarity", "clustering"),
)
def embeddings_semdedup_ivf_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkable contract pinning the iterated-k-means SemDeDup variant
    (``semdedup_ivf`` — the over-broadcast-ceiling path) to the exact
    fixed-seed variant (the ``knn_lsh_recall_eval`` /
    ``embeddings_kmeans`` pattern: Lloyd centroids are float-order
    sensitive in the last ulps, so the query emits corpus-level facts
    the driver can hash, not raw assignments). One row:

    - ``total_points``: the corpus size (oracle recomputes);
    - ``both_assign_all``: each variant returned exactly one verdict
      per vector;
    - ``clusters_within_k``: the IVF variant used ≤ k clusters;
    - ``kept_agreement_ok``: per-vector kept/dropped agreement between
      the variants ≥ 0.9 (measured 0.986 at sf0.001/sf0.01 — cluster
      geometry differs, ε-ball verdicts mostly don't);
    - ``kept_rate_close``: |kept_ivf − kept_fixed| ≤ 5% of the corpus.

    A broken Lloyd update, assignment, or pruning stage flips a boolean
    and fails the driver hash."""
    # ONE pinned (vec_id, v) frame feeds both variants and the corpus
    # count (r11): previously each variant re-ran the parquet load +
    # double-cast, and the count was a third scan.
    # Fanning this shared base was measured and REJECTED (r12
    # interleaved 3×2 A/B: ivf_contract warm 4.69→6.59, hier_contract
    # 5.08→5.78) — the per-row folds are too light at this corpus
    # width to amortize the exchange; see kmeans._load_vectors.
    base = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .localCheckpoint(eager=True)
    )
    fixed = semdedup(spark, sf_dir, k=SEMDEDUP_K, base=base).select(
        "vec_id", F.col("kept").alias("kept_fixed")
    )
    ivf = semdedup_ivf(spark, sf_dir, k=SEMDEDUP_K, base=base).select(
        "vec_id",
        F.col("kept").alias("kept_ivf"),
        F.col("cluster_id").alias("ivf_cluster"),
    )
    n_total = base.count()
    joined = fixed.join(ivf, "vec_id", "full_outer")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("kept_fixed").isNull() | F.col("kept_ivf").isNull(), 1)).alias("n_unmatched"),
        F.countDistinct("ivf_cluster").alias("k_used"),
        F.avg(
            (F.col("kept_fixed") == F.col("kept_ivf")).cast("double")
        ).alias("agree"),
        F.sum(F.col("kept_fixed").cast("long")).alias("kept_fixed_n"),
        F.sum(F.col("kept_ivf").cast("long")).alias("kept_ivf_n"),
    ).select(
        F.lit(n_total).cast("long").alias("total_points"),
        ((F.col("n_rows") == n_total) & (F.col("n_unmatched") == 0)).alias(
            "both_assign_all"
        ),
        (F.col("k_used") <= SEMDEDUP_K).alias("clusters_within_k"),
        (F.col("agree") >= 0.9).alias("kept_agreement_ok"),
        (
            F.abs(F.col("kept_ivf_n") - F.col("kept_fixed_n"))
            <= F.lit(int(n_total * 0.05))
        ).alias("kept_rate_close"),
    )


@register(
    "embeddings_semdedup",
    oracle=_semdedup_oracle(),
    tags=("llm", "dedup", "similarity", "clustering"),
)
def embeddings_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: assign every vector to its
    nearest of {SEMDEDUP_K} fixed seed vectors (by rounded cosine,
    seed_id tie-break), scan within-cluster pairs, and drop any vector
    with a lower-id cluster-mate at cosine ≥ {SEMDEDUP_COSINE}. Returns
    (vec_id, cluster_id, kept) for the full corpus — the kept=TRUE rows
    are the semantically-deduplicated training subset. k is pinned to
    the fixture constant here so the oracle stays exact; ``semdedup``
    (k=None) is the production data-derived-k path, covered by the
    k-scaling scale-stress entry."""
    return semdedup(spark, sf_dir, k=SEMDEDUP_K)


# --------------------------------------------------------------------
# Hierarchical SemDeDup — the O(n·b·log k) clusterer for data-derived k
# --------------------------------------------------------------------

HIER_BRANCH = 8  # children per cell per level (power of 2)
# Past this many cells the per-level (cell → mean) table stops
# broadcasting and becomes a hash join on cell_id — at deep levels
# there are many cells, so the join distributes with no skew.
HIER_BROADCAST_CELLS = 4096
# Hard depth backstop. log_8(n) is ~10 at 1e9 docs and ~13.4 at the
# 1e12 design point; the no-shrink freeze below guarantees per-level
# progress, so 20 is headroom, not a termination device. It must stay
# <= 20: b-ary heap cell ids reach ~1.14*8^L at depth L, and depth 21
# would push `cell * branch` past int64 (an ANSI arithmetic error).
HIER_MAX_LEVELS = 20


def _hier_rp_child(bits: int) -> str:
    """Deterministic split of a cell into 2^bits children: the sign
    pattern of the MEAN-CENTERED vector's projections onto ``bits``
    cell-salted integer-mixed hyperplanes — an RP-tree node split.
    Centering on the cell mean (column ``mu``, joined per cell) makes
    every plane cut through the cell's mass, so splits stay roughly
    balanced regardless of where the cell sits in space; salting the
    planes by cell id decorrelates cuts across cells and levels. Needs
    NO windows and NO data-seed collects even for a single cell, and
    cannot collapse the way nearest-synthetic-seed Lloyd assignment
    does (measured on this fixture: argmin-to-children-means folded
    the 8-way split back into the corpus's 2 natural modes)."""
    terms = []
    for p in range(bits):
        # Golden-ratio Weyl mix: consecutive (cell, p, j) inputs land
        # 0.618·2^32 apart mod 2^32 — equidistributed components (a
        # plain linear-congruential ramp here makes every plane ~the
        # all-ones direction and every level cut along the same axis,
        # which collapsed the tree to 2-4 cells on this fixture). Both
        # pmods keep products under int64 (ANSI overflow): cell is
        # reduced BEFORE the salt multiply — deep heap ids reach ~2^60,
        # and a raw `cell * 1103515245` overflows past depth ~11. For
        # cell < 2^31 the reduction is the identity, so shallow-tree
        # geometry (every realistic corpus) is unchanged.
        plane_j = (
            "(CAST(pmod(pmod(pmod(cell, 2147483647) * 1103515245"
            f" + {p} * 12345 + j, 2147483647) * 2654435761,"
            " 4294967296) AS DOUBLE) / 4294967296.0E0) - 0.5E0"
        )
        proj = (
            "aggregate(zip_with(zip_with(v, mu, (x, m) -> x - m),"
            f" transform(sequence(0, {{dim}} - 1), j -> {plane_j}),"
            " (x, y) -> x * y),"
            " CAST(0 AS DOUBLE), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def semdedup_hier(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    branch: int = HIER_BRANCH,
    base: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup with a HIERARCHICAL (RP-tree) clusterer — the at-scale
    answer to the scaled-k cost wall the rung probes measured: flat
    assignment against k data-derived centroids is O(n·k·d) compute
    per pass, and with the production rule k = n/{tcs} that term is
    quadratic in corpus size (BENCH_rung_16x: ``embeddings_semdedup_
    ivf_scaledk`` implied exponent 1.16 and climbing). Here every
    OVERSIZED cell (> 2× the target size) splits into ``branch``
    children by mean-centered salted-hyperplane sign bits, repeated
    until no cell is oversized — total compute O(n · log k · d),
    near-linear, the recursive-partition shape production ANN
    trainers (RP-tree/annoy forests, hierarchical k-means) use.

    Scale architecture (100 TB):
    - per level the only aggregate is the per-OVERSIZED-cell MEAN
      (posexplode (cell, dim) average — the linear shuffle
      ``lloyd_iterate`` pays); already-small cells drop out of later
      levels entirely, so per-level work decays once the tree
      approaches the target granularity;
    - the (cell → mean) table is BROADCAST while metadata-sized
      (≤ {bc} cells) and a hash join on cell_id once cells are
      plentiful (no skew then, and no k·d broadcast wall — the flat
      variant's failure mode — ever appears);
    - the split itself is a map-side sign fold over the centered
      vector — deterministic, collapse-proof, NO windows, NO
      data-seed collects;
    - lineage is truncated per level (localCheckpoint) so the plan
      stays flat across levels;
    - the final within-cell ε-ball prune is the shared
      ``_prune_within_clusters`` — the adaptive size gate bounds every
      SPLITTABLE cell at 2× target, so the pair scan stays
      O(n · {tcs}). A cell no hyperplane can shrink (zero split
      progress — e.g. more than 2× target EXACT-DUPLICATE embeddings,
      whose mean-centered projections are all identical) is FROZEN at
      its natural size instead of looping toward the depth backstop;
      its within-cell pair scan is then the honest O(c²) cost of the
      clump, which only upstream exact dedup (``dedup_exact``) can
      remove.

    Cell GEOMETRY depends on float mean summation order in the last
    ulps (like every Lloyd-family clusterer), so this variant carries
    law-based tests and stress/rung entries instead of a DuckDB value
    oracle.

    Returns (vec_id, cluster_id, kept). ``base``: optional pre-staged
    (vec_id, v) frame (see ``semdedup``)."""
    # fan-out measured and rejected (r12 A/B) — see the fixed-seed path.
    e = base if base is not None else load(
        spark, sf_dir, "embeddings"
    ).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    n_count = e.count()
    if k is None:
        k = max(1, math.ceil(n_count / SEMDEDUP_TARGET_CLUSTER_SIZE))
    # Adaptive size gate: a cell splits only while it holds more than
    # 2x the target size, so (a) depth grows smoothly with n instead
    # of stepping a full extra corpus pass at every ceil(log_b k)
    # boundary, (b) already-small cells are never over-split (recall
    # is not sacrificed to tree granularity), and (c) the bound on
    # the final cell size — and with it the within-cell pair scan —
    # holds for every cell a hyperplane CAN shrink; a cell that makes
    # zero split progress (an exact-duplicate clump bigger than the
    # cap) is frozen at its natural size by the no-shrink rule in the
    # loop below. Cell ids use b-ary heap numbering
    # (child = cell*b + ch + 1), injective across depths, so stopped
    # leaves and live children never collide.
    cap = 2 * max(1, math.ceil(n_count / k))
    head = e.select(F.size("v").alias("d")).head()
    dim = int(head["d"]) if head is not None else 0
    bits = max(1, int(math.log2(branch)))
    rp_child = _hier_rp_child(bits).format(dim=dim)
    pts = e.withColumn("cell", F.lit(0).cast("bigint")).localCheckpoint(
        eager=True
    )
    done: DataFrame | None = None
    prev_cn: DataFrame | None = None  # (cell, cn) of cells split last level
    for _level in range(HIER_MAX_LEVELS):
        over = (
            pts.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cn"))
            .filter(F.col("cn") > cap)
        )
        if prev_cn is not None:
            # No-shrink FREEZE (termination guarantee): a still-
            # oversized child holding its parent's ENTIRE count made
            # zero split progress — every point produced the same sign
            # pattern (exact-duplicate embeddings centered on their own
            # mean project identically on every plane), and re-salting
            # cannot separate identical inputs. Such a cell is final at
            # its natural size; without this rule it loops to the depth
            # backstop. Children are heap-numbered (cell >= 1), so the
            # parent id is exact integer math.
            stuck = (
                over.withColumn(
                    "parent", F.expr(f"(cell - 1) DIV {branch}")
                )
                .join(
                    prev_cn.select(
                        F.col("cell").alias("parent"),
                        F.col("cn").alias("pcn"),
                    ),
                    "parent",
                )
                .filter(F.col("cn") == F.col("pcn"))
                .select("cell")
            )
            over = over.join(stuck, "cell", "left_anti")
        over = over.localCheckpoint(eager=True)  # metadata-scale frame
        n_over_cells = over.count()
        # Finished cells (small enough OR frozen) leave the loop — later
        # levels never recount them, so per-level work truly decays.
        fin = pts.join(
            F.broadcast(over.select("cell"))
            if n_over_cells <= HIER_BROADCAST_CELLS
            else over.select("cell"),
            "cell",
            "left_anti",
        )
        done = fin if done is None else done.unionByName(fin)
        if n_over_cells == 0:
            pts = None
            break
        if n_over_cells <= HIER_BROADCAST_CELLS:
            over = F.broadcast(over)
        sel = pts.join(over.select("cell"), "cell")
        mu = (
            sel.select("cell", F.posexplode("v").alias("j", "x"))
            .groupBy("cell", "j")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(j, m))),"
                    " s -> s.m)"
                ).alias("mu")
            )
        )
        if n_over_cells <= HIER_BROADCAST_CELLS:
            mu = F.broadcast(mu)
        split = sel.join(mu, "cell").select(
            "vec_id",
            "v",
            (
                F.col("cell") * branch
                + F.expr(rp_child).cast("bigint")
                + 1
            ).alias("cell"),
        )
        pts = split.localCheckpoint(eager=True)
        prev_cn = over.select("cell", "cn")
    if pts is not None:
        # Depth backstop exhausted with cells still oversized (cannot
        # happen with the freeze rule short of ~8^20 genuine cells) —
        # whatever remains is final at its current granularity.
        done = pts if done is None else done.unionByName(pts)
    assign = done.select(
        "vec_id",
        F.col("cell").alias("cluster_id"),
        "v",
        _norm(F.col("v")).alias("nrm"),
    ).localCheckpoint(eager=True)
    return _prune_within_clusters(assign)


semdedup_hier.__doc__ = semdedup_hier.__doc__.format(
    tcs=SEMDEDUP_TARGET_CLUSTER_SIZE, bc=HIER_BROADCAST_CELLS
)
