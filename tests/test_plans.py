"""Physical-plan regression tests: the scale-relevant plan properties
(broadcasts, pushdown, top-k, no stray shuffles) must not silently rot."""

from __future__ import annotations

import __spark_entry__ as E

from tests.conftest import SF_DIR, plan_of


def test_flagship_broadcasts_dim(built):
    p = built("flagship_supplier_metrics").plan
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # the fact side must never shuffle for J1


def test_watermark_filters_push_to_scan(built):
    p = built("watermark_in_window").plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThan" in p


def test_top_k_uses_take_ordered(built):
    p = built("top_k_customers").plan
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # no global sort shuffle


def test_q1_reads_only_needed_columns(built):
    p = built("tpch_q1_pricing_summary").plan
    # column pruning: the 7 used columns, not the full 11-column schema
    scan_lines = [line for line in p.splitlines() if "ReadSchema" in line]
    assert scan_lines
    assert "l_orderkey" not in scan_lines[0]
    assert "l_quantity" in scan_lines[0]


def test_dedup_exact_is_hash_aggregate_not_sort(built):
    p = built("dedup_exact").plan
    assert "HashAggregate" in p
    assert "Window" not in p


def test_q5_all_dims_broadcast(built):
    p = built("tpch_q5_local_supplier_volume").plan
    # region/nation/supplier/customer all broadcast → ≥4 broadcast joins
    assert p.count("BroadcastHashJoin") >= 4


def test_q6_predicates_and_projection_reach_scan(built):
    p = built("tpch_q6_forecast_revenue").plan
    scan_lines = [line for line in p.splitlines() if "ReadSchema" in line]
    assert scan_lines and "l_orderkey" not in scan_lines[0]
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]


def test_q4_semi_join_no_full_materialization(built):
    p = built("tpch_q4_order_priority").plan
    assert "LeftSemi" in p


def test_q16_not_in_lowers_to_broadcast_anti_join(built):
    p = built("tpch_q16_supplier_cnt").plan
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_q10_top20_uses_take_ordered(built):
    p = built("tpch_q10_returned_items").plan
    assert "TakeOrderedAndProject" in p


def test_neardup_is_block_partitioned_gemm(built):
    p = built("embeddings_neardup_pairs").plan
    # block-partitioned exact all-pairs: no corpus broadcast, no
    # nested-loop join — the n² scoring runs as per-block-pair GEMMs
    # behind a shuffle on (bi, bj)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "FlatMapGroupsInPandas" in p
    assert "hashpartitioning(bi" in p


def test_join_strategy_hints_are_honored(spark):
    # the engine controls join strategy when AQE/stats would guess
    # wrong: hints must survive optimization
    import __spark_entry__  # noqa: F401  (ensures session configs)
    from python_nyc_taxi_data_pipeline_spark.catalog import load

    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer")
    shuffled = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in plan_of(shuffled)
    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in plan_of(merged)


def test_q9_dims_broadcast_one_agg_shuffle(built):
    p = built("tpch_q9_product_type_profit").plan
    # part/supplier/nation are broadcast; only orders⋈lineitem may shuffle
    assert p.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(p_name), StringContains(p_name,widget)" in p


def test_q2_argmin_runs_on_deduped_pairs(built):
    p = built("tpch_q2_min_cost_supplier").plan
    # the distinct (partkey, suppkey) aggregate precedes the window
    assert "HashAggregate" in p and "Window" in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in p  # top-100 without a global sort


def test_q21_single_orderkey_shuffle_no_self_joins(built):
    p = built("tpch_q21_waiting_suppliers").plan
    # the EXISTS/NOT-EXISTS pair is one grouped aggregate + window, not
    # two extra lineitem self-joins: exactly ONE lineitem scan
    assert p.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in p


def test_salted_agg_is_two_stage_no_join(built):
    p = built("events_type_value_salted").plan
    # two groupBys → two shuffle exchanges (salted partial + merge), no join
    assert "Join" not in p
    assert p.count("Exchange") >= 2


def test_dup_span_fraction_uses_window_not_join_for_df(built):
    p = built("docs_corpus_dup_span_fraction").plan
    # document frequency is a count window over the span hash — exactly
    # one join remains (the LEFT join back to the full corpus)
    assert "Window" in p
    assert p.count("SortMergeJoin") <= 1


def test_pq_codes_broadcast_codebook_single_pass(built):
    p = built("embeddings_pq_codes").plan
    # the codebook attaches via a broadcast NLJ against one row; the
    # corpus itself never shuffles (no Exchange hashpartitioning on it)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def _tree_nodes(plan: str):
    """Parse the tree section of ``explain('formatted')`` into
    (depth, node_name, node_id) tuples, in order."""
    import re

    nodes = []
    for line in plan.splitlines():
        if line.startswith("=="):
            continue
        m = re.match(r"^([:\s+\-*]*)\s*\*?\s*([A-Za-z][\w .]*?)\s*\((\d+)\)\s*(?:,.*)?$", line)
        if not m:
            # detail section starts after the tree; stop at "(N) NodeName"
            if re.match(r"^\(\d+\) ", line):
                break
            continue
        art, name, nid = m.groups()
        nodes.append((len(art), name.strip(), int(nid)))
    return nodes


def _single_partition_exchange_ids(plan: str):
    """Node ids of Exchange nodes whose Arguments include SinglePartition
    (the formatted output prints the node name and its Arguments on
    separate lines, so a naive 'Exchange SinglePartition' substring
    never matches — this parses the per-node detail blocks)."""
    import re

    ids = []
    for block in re.split(r"\n\n", plan):
        m = re.match(r"^\((\d+)\) (?:AQEShuffleRead|Exchange)\b", block)
        if m and "SinglePartition" in block:
            ids.append(int(m.group(1)))
    return ids


def _node_detail(plan: str, nid: int) -> str:
    import re

    for block in re.split(r"\n\n", plan):
        if re.match(rf"^\({nid}\) ", block):
            return block
    return ""


def _benign_single_partition(plan: str, nid: int) -> bool:
    """A SinglePartition exchange is benign iff its PARENT is a scalar
    (ungrouped, ``Keys: []``) aggregate — the partial-agg-then-merge
    shape where at most one row per upstream partition crosses the wire.
    Anything else funneling through one partition (global window, global
    sort, repartition(1)) is a scale killer and stays flagged."""
    nodes = _tree_nodes(plan)
    idx = next((i for i, (_, _, n) in enumerate(nodes) if n == nid), None)
    if idx is None:
        return False
    depth = nodes[idx][0]
    parent = next(
        ((d, name, pid) for d, name, pid in reversed(nodes[:idx]) if d < depth),
        None,
    )
    if parent is None:
        return False
    _, pname, pid = parent
    if pname not in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
        return False
    return "Keys: []" in _node_detail(plan, pid)


SF_SCALED_TABLES = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _jseq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _walk(jplan):
    yield jplan
    for child in _jseq(jplan.children()):
        yield from _walk(child)


def _is_bounded_subtree(jplan) -> bool:
    """True iff a broadcast-hinted logical subtree is provably bounded:
    either it reduces to at most one row (an ungrouped Aggregate at the
    top, modulo aliases/projections/filters), or every leaf it scans is
    a bounded relation (nation/region parquet, literal LocalRelation,
    OneRowRelation) — never an SF-scaled parquet table."""
    node = jplan
    while node.getClass().getSimpleName() in (
        "Project",
        "Filter",
        "SubqueryAlias",
        "Deduplicate",
        "GlobalLimit",
        "LocalLimit",
    ):
        node = node.children().apply(0)
    if (
        node.getClass().getSimpleName() == "Aggregate"
        and node.groupingExpressions().isEmpty()
    ):
        return True  # scalar aggregate → exactly one row at any SF
    for n in _walk(jplan):
        if n.getClass().getSimpleName() in ("LogicalRelation", "LogicalRelationWithTable"):
            try:
                paths = " ".join(
                    str(p) for p in _jseq(n.relation().location().rootPaths())
                )
            except Exception:
                paths = n.toString().splitlines()[0]
            if any(f"{t}.parquet" in paths for t in SF_SCALED_TABLES):
                return False
    return True


def test_no_broadcast_hint_on_sf_scaled_relations(built):
    """Broadcast hints are only legal on provably-bounded sides: nation/
    region (25/5 rows at ANY scale factor), literal dims, or scalar
    aggregates. A hint on customer/supplier/part/orders/lineitem — or on
    a grouped derivative of them — pins a plan that blows the driver at
    100× SF; the planner/AQE must decide those from stats instead. Walks
    every tpch/gold/core-tagged query's ANALYZED logical plan (hints are
    erased from the optimized plan) and fails by name on violations."""
    from python_nyc_taxi_data_pipeline_spark import registry

    # Hints whose bounded-ness the structural rule can't see but that are
    # provably bounded by construction — each entry pins the reason:
    allowed = {
        # broadcast(cells): groupBy(r, b) where b = pmod(hash, CMS_WIDTH)
        # and r ranges over CMS depth — ≤ depth×width rows at ANY SF.
        "cms_event_type_counts",
    }
    flagged = {}
    for name, q in registry.all_queries().items():
        if name in allowed:
            continue
        if not ({"tpch", "gold", "join", "agg", "validation"} & set(q.tags)):
            continue
        jplan = built(name).df._jdf.queryExecution().analyzed()
        bad = []
        for n in _walk(jplan):
            if n.getClass().getSimpleName() != "ResolvedHint":
                continue
            if "broadcast" not in n.hints().toString().lower():
                continue
            if not _is_bounded_subtree(n.children().apply(0)):
                bad.append(n.toString().splitlines()[0])
        if bad:
            flagged[name] = bad
    assert flagged == {}


def test_aqe_broadcasts_dehinted_joins_at_runtime(spark):
    """The r4 hint sweep removed forced broadcasts from SF-scaled dims
    (supplier/customer/part). This pins the OTHER half of the bargain:
    at fixture scale the planner/AQE must still choose broadcast-hash
    for those joins from size stats alone — i.e. removing the hints
    cost nothing where broadcasting is right. Checks the EXECUTED
    (adaptive) plan after an action, not the static explain."""
    for name in (
        "flagship_supplier_metrics",
        "segment_metrics",
        "tpch_q18_large_orders",
        "tpch_q17_small_quantity_revenue",
    ):
        df = E.queries()[name](spark, SF_DIR)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in executed, name
        assert "SortMergeJoin" not in executed, name


def plan_antipatterns(p: str) -> list[str]:
    """The scale killers in a formatted plan: a cartesian product, a
    row-at-a-time Python UDF, or a single-partition exchange whose
    parent is not a scalar aggregate."""
    hits = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
    for nid in _single_partition_exchange_ids(p):
        if not _benign_single_partition(p, nid):
            hits.append(f"Exchange SinglePartition (node {nid})")
    return hits


def test_no_plan_antipatterns_across_all_queries(built):
    """Fleet-wide net: NO registered query may contain a cartesian
    product, a row-at-a-time Python UDF (BatchEvalPython — Arrow paths
    show as ArrowEvalPython/MapInPandas), or a single-partition exchange
    (the global-window/global-sort scale killer). SinglePartition is
    detected from each Exchange node's Arguments detail block (the r3
    'Exchange SinglePartition' substring was vacuous — node name and
    Arguments print on separate lines) and scalar global aggregates
    (partial-agg-then-merge, parent aggregate with Keys: []) are
    structurally allowlisted; any future query that regresses fails by
    name."""
    from python_nyc_taxi_data_pipeline_spark import registry

    flagged = {}
    for name in registry.all_queries():
        hits = plan_antipatterns(built(name).plan)
        if hits:
            flagged[name] = hits
    assert flagged == {}


def test_no_sort_aggregate_across_all_queries(built):
    """Fleet-wide net: struct/string-buffered aggregates silently plan
    as SortAggregate, which SORTS every group's rows within partitions
    — hit twice in round 6 (the NB classifier's struct argmin + its
    F.first on a STRING doc label; the knn label probe's struct vote
    min), both fixed by packing into primitive longs / carrying the
    label as its class index. Zero registered plans may regress; a
    future query with a legitimate sort-based aggregate earns an
    explicit allowlist entry here, not a silent pass."""
    from python_nyc_taxi_data_pipeline_spark import registry

    allowed: set = set()
    flagged = [
        name
        for name in registry.all_queries()
        if name not in allowed and "SortAggregate" in built(name).plan
    ]
    assert flagged == []


def test_segment_dedup_keeper_is_primitive_hash_aggregate(built):
    """Keeper election must stay a primitive-long HashAggregate (min of
    the packed key) — a struct min would silently fall back to
    SortAggregate and sort every segment within partitions."""
    p = built("docs_segment_dedup_apply").plan
    assert "partial_min(pk" in p
    assert "SortAggregate" not in p


def test_hybrid_rrf_dense_stage_broadcasts_anchor_block(built):
    """The dense pass must stream the corpus once against a broadcast
    anchor block — never shuffle the embeddings for a q-row join. The
    only sort-merge join allowed is the full-outer fusion of the two
    bounded q*k rank lists (Spark cannot broadcast a full outer).
    The BM25 sub-plan itself is behind the localCheckpoint barrier
    (its scan-level vocabulary pushdown is pinned by the BM25 plan
    audit, not here)."""
    import re

    p = built("retrieval_hybrid_rrf").plan
    assert "BroadcastNestedLoopJoin Inner" in p  # corpus vs broadcast anchors
    # exactly ONE sort-merge join node (formatted explain prints each
    # node twice — tree and detail — so count detail headers), and it
    # is the full-outer fusion of the two bounded q*k rank lists
    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) == 1
    assert "SortMergeJoin FullOuter" in p
    # the corpus is scanned exactly 3 times by construction (dense
    # candidates, anchor semi-probe, anchor vector fetch) — never more
    assert p.count("embeddings.parquet") <= 3


def test_plan_report_normalizes_run_dependent_numbers():
    """PLANS.md is diffable: two runs of one plan that differ only in
    expression, exchange and RDD ids, JVM hash codes and the session's
    partition count normalize to the same text; a partition count set
    in code stays."""
    from tools.plan_report import normalize_plan

    def plan(ids, parts):
        a, b, p, r = ids
        return (
            f"Arguments: hashpartitioning(k#{a}, md5(t#{b}), {parts}), ENSURE_REQUIREMENTS, [plan_id={p}]\n"
            f"Arguments: RoundRobinPartitioning({parts}), REPARTITION_BY_NUM, [plan_id={p + 1}]\n"
            f"Arguments: rangepartitioning(t#{b} DESC NULLS LAST, 200), MapPartitionsRDD[{r}], "
            f"explode(UnsafeArrayData@{r:08x}), count#{a}L"
        )

    one = normalize_plan(plan((4, 9, 25, 34), 32), {32})
    assert one == normalize_plan(plan((812, 77, 3, 1290), 4), {4})
    assert one == (
        "Arguments: hashpartitioning(k#1, md5(t#2), <n>), ENSURE_REQUIREMENTS, [plan_id=1]\n"
        "Arguments: RoundRobinPartitioning(<n>), REPARTITION_BY_NUM, [plan_id=2]\n"
        "Arguments: rangepartitioning(t#2 DESC NULLS LAST, 200), MapPartitionsRDD[1], "
        "explode(UnsafeArrayData@…), count#1L"
    )
