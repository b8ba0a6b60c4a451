"""Duplicate clustering: connected components over near-dup pair edges.

Near-dup detection (Jaccard / MinHash) yields PAIRS; deduplication
needs GROUPS — the connected components of the pair graph — so each
cluster keeps one representative. This is the iterative step of every
web-scale dedup pipeline (cf. the alternating-star formulations of
"Connected Components in MapReduce and Beyond", Kiveris et al. '14);
here: min-label propagation expressed as DataFrame joins.

Scale notes: each iteration is one join + one aggregate (shuffles on
node id); iterations ≈ graph diameter (near-dup clusters are shallow —
a handful of rounds). ``localCheckpoint`` per iteration truncates the
growing lineage — without it the plan doubles every round and the
driver, not the data, becomes the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

# First min-label round (1-based) that fuses the pointer jump in. The
# jump costs one extra join+shuffle per round and only SAVES rounds on
# graphs deeper than ~2 hops; near-dup clusters are shallow by
# construction (fixture diameter ≤ 2 — every measured graph converges
# before round 3), so the early rounds run the plain 2-shuffle pass and
# the jump arms only for the long-chain tail where its O(log diameter)
# collapse actually pays (r12 interleaved A/B: always-jump vs never-jump
# vs gate — numbers in bench_archive/OPTIMIZATION_r12.md).
CC_JUMP_AFTER = 3


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Min-label propagation. Input: undirected edge list. Output:
    (node, component) where component = min node id reachable.

    Raises ``ValueError`` when ``max_iter`` rounds pass without a round
    that moves no label: the labels would not be the components yet."""
    sym = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=False)

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def label_sum(df: DataFrame):
        # decimal(38,0) accumulator: overflow-safe at any node-id scale
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = label_sum(labels)
    for rnd in range(1, max_iter + 1):
        # ONE fused pass per round: neighbor labels and own labels union
        # into a single min-aggregate (2 shuffles/round: the join and the
        # groupBy), replacing the previous neighbor-agg + left-join +
        # change-detection-join (3 shuffles + an extra join).
        prop = (
            sym.join(labels, sym.dst == labels.node)
            .select(F.col("src").alias("node"), F.col("component"))
            .union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # POINTER JUMP fused into the same round (r11): component ←
        # label(component) when one exists. Labels only ever decrease
        # and label(x) is itself a reachable node's label, so the
        # fixpoint (min reachable id) is unchanged — but long chains
        # now collapse in O(log diameter) rounds instead of
        # O(diameter). The jump is ROUND-GATED (r12): it adds one
        # join+shuffle per round, which on shallow graphs (near-dup
        # clusters converge in ≤ 2 rounds) costs more than the rounds
        # it saves — so the first CC_JUMP_AFTER-1 rounds run the plain
        # 2-shuffle pass and the jump arms only for deeper graphs,
        # keeping the O(log diameter) bound for the long-chain tail.
        if rnd >= CC_JUMP_AFTER:
            jump = labels.select(
                F.col("node").alias("component"), F.col("component").alias("c2")
            )
            new_labels = (
                prop.join(jump, "component", "left")
                .select(
                    "node",
                    F.coalesce("c2", "component").alias("component"),
                )
                .localCheckpoint(eager=True)  # truncate lineage per round
            )
        else:
            new_labels = prop.localCheckpoint(eager=True)
        # Convergence via a SCALAR: per-node labels only ever decrease,
        # so sum(component) is strictly monotone until the fixpoint —
        # equal sums ⟺ no label moved (metadata-sized action, no join).
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise ValueError(
            f"connected_components did not converge in max_iter={max_iter} rounds"
        )
    return labels


def _clusters_oracle() -> str:
    """DuckDB twin of min-label propagation: a recursive CTE computing
    reachability over the same (deterministic) Jaccard pair edges, then
    min reachable label per node. The ``r.lbl < e.dst`` guard prunes
    non-decreasing propagations — the component minimum always passes it
    (it is smaller than every other node on any path), so the result is
    unchanged and the recursion state stays linear in cluster size."""
    from .dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL

    # MATERIALIZED: without it DuckDB may re-evaluate the quadratic
    # pair join inside every recursion step (measured 3-4× slower).
    return f"""
    WITH RECURSIVE g AS MATERIALIZED (
{GRAMS_CTE_SQL}
    ),
    pairs AS MATERIALIZED (
{JACCARD_PAIRS_SQL}
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.lbl < e.dst
    )
    SELECT d.doc_id,
           coalesce(min(r.lbl), d.doc_id) AS cluster_rep
    FROM documents d LEFT JOIN reach r ON r.node = d.doc_id
    GROUP BY d.doc_id
    """


@register("docs_dup_clusters", oracle=_clusters_oracle(), tags=("llm", "dedup", "iterative"))
def docs_dup_clusters(spark, sf_dir: str) -> DataFrame:
    """Duplicate groups from the near-dup pair graph: every document in
    a cluster maps to the cluster's min-doc_id representative;
    singletons map to themselves. The iterative Spark loop is checked
    against a DuckDB recursive-CTE connected components over the same
    deterministic edge set (plus a driver-side union-find in the unit
    test)."""
    from .dedup import docs_ngram_jaccard_pairs

    pairs = docs_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_rep"),
        )
    )
