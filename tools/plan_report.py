"""Generate PLANS.md: formatted physical plans of headline queries —
and TRIPWIRE the operator multiset against the previous snapshot.

The plan-invariant tests (tests/test_plans.py) PIN the properties —
pushdown, broadcast choices, no cartesian/row-UDF/single-partition
exchanges; this artifact makes the same plans human-readable so a
reviewer can audit the physical strategy without running Spark.

The tripwire (r6 VERDICT directive #8): every run parses the
on-disk PLANS.md headliner plans into per-query operator multisets
and compares them against the freshly generated plans. A headliner
that GAINED any of the expensive operator classes (Exchange, Sort,
SortAggregate, SortMergeJoin, CartesianProduct,
BroadcastNestedLoopJoin, Window) fails the run loudly — the shape
drift that silently cost docs_dedup_apply ~19% warm time in r6 would
have been caught the round it landed.

Usage:
  python tools/plan_report.py            # tripwire, then rewrite PLANS.md
  python tools/plan_report.py --check    # tripwire only (no write); rc 1 on drift
  python tools/plan_report.py --accept   # rewrite even if the tripwire fires
                                         # (documented intentional change)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"

# (query, one-paragraph commentary on what the plan should show)
HEADLINERS = [
    (
        "tpch_q1_pricing_summary",
        "Scan-heavy aggregate: the shipdate filter is pushed into the "
        "parquet scan (PushedFilters), aggregation is two-phase "
        "(partial HashAggregate before the exchange, merge after), and "
        "DECIMAL accumulators keep sums order-independent.",
    ),
    (
        "tpch_q18_large_orders",
        "HAVING semi-join: the >300-qty orderkey set is built by a "
        "partial-agg pipeline and joined back; no forced broadcast "
        "hints — AQE picks broadcast-hash from runtime stats.",
    ),
    (
        "flagship_supplier_metrics",
        "Fact-dim join + grouped agg: supplier side is chosen for "
        "broadcast by the planner (no pinned hint on an SF-scaled "
        "table), lineitem scans only the joined/aggregated columns "
        "(ReadSchema pruning).",
    ),
    (
        "dedup_exact",
        "Hash-aggregate dedup on md5(text): 16-byte shuffle keys, no "
        "wide-key sort, single exchange.",
    ),
    (
        "docs_minhash_lsh_pairs",
        "Banded LSH: shingle/signature derivation is JVM expression "
        "work above a localCheckpoint barrier; candidate generation "
        "shuffles (band, band_hash) keys; exact-Jaccard verification "
        "touches candidates only.",
    ),
    (
        "docs_dsir_weights",
        "DSIR selection: one explode->agg into 64 feature buckets, a "
        "scalar-aggregate total broadcast back (benign SinglePartition "
        "under a Keys:[] aggregate), broadcast feature join, and "
        "TakeOrderedAndProject for the top-k (no global sort).",
    ),
    (
        "knn_matryoshka_rerank",
        "Two-stage ANN: stage 1 scans prefix vectors with the query "
        "block broadcast; stage 2 joins the bounded shortlist back for "
        "full vectors; per-query windows rank within partitions.",
    ),
    (
        "events_cum_users_hll_merge",
        "Mergeable sketches: per-day hll_sketch_agg is map-side "
        "combined; the cumulative union is a triangular self-join of "
        "the ~30-row sketch table — no global window, no "
        "SinglePartition funnel of corpus data.",
    ),
    (
        "docs_segment_dedup_apply",
        "Sub-document dedup applied: segmentation is one codegen "
        "projection (word array bound once via a lambda variable, no "
        "re-tokenize per segment); keeper election is a hash aggregate "
        "on md5(segment) with map-side partial min; the keep join is "
        "LEFT SEMI on compact (doc_id, seg_idx) keys; reassembly is "
        "one groupBy with in-group struct sort.",
    ),
    (
        "retrieval_hybrid_rrf",
        "Hybrid RRF: the BM25 stage's vocabulary filter reaches the "
        "scan; the dense stage broadcasts the q-row anchor block and "
        "streams the corpus once; fusion is a full-outer join of two "
        "bounded q*k rank lists (AQE broadcasts both).",
    ),
    (
        "retrieval_hybrid_rrf_ann",
        "Hybrid RRF, ANN dense stage (r5): the corpus stream carries "
        "only the 16-dim prefix against the broadcast anchor block; "
        "full vectors are joined only for the broadcast "
        "|queries|*candidates shortlist; fusion identical to the exact "
        "variant.",
    ),
    (
        "corpus_curation_funnel",
        "Per-stage attrition report (r5): a union of five scalar "
        "aggregates over the shared stage frames. The static plan "
        "shows each branch's lineage independently; exchange reuse "
        "happens at runtime (AQE), and each branch's count/sum "
        "partial-aggregates below the union — measured faster than a "
        "single-pass flag-join rewrite (2.4s vs 3.6s warm at sf0.1).",
    ),
    (
        "docs_incremental_exact_dedup",
        "Incremental exact dedup (r5): ONE batch lineage — each batch "
        "slice scanned once, membership via a left join against the "
        "distinct corpus hash set folded with the keep-first window "
        "into the verdict expression. The fixture computes md5 from "
        "text at scan time; in production the corpus side is a "
        "persisted 16-byte hash index, so only hashes shuffle. r6 adds "
        "a per-row raise_error range guard on the replay shift (plan "
        "shows it as a projection expression, no extra exchange) and a "
        "forced-shuffle-join stress entry proving the over-broadcast-"
        "threshold degradation stays linear.",
    ),
    (
        "docs_bloom_decontamination",
        "Bloom-prefiltered decontamination (r6): the test split's "
        "shingles collapse to a <=M/64-row (widx, word) bitmap via one "
        "bit_or hash-aggregate, and the probe is K=4 BroadcastHashJoins "
        "against that bitmap — one per hash function — so membership "
        "is decided entirely MAP-SIDE (the earlier positions-explode + "
        "groupBy(doc_id, sh) form paid a corpus-shingle-sized shuffle "
        "keyed by the shingle string just to re-merge the K rows). "
        "Only the ~1%-FPR candidate remnant reaches the exact string "
        "equi-join; corpus-sized frames sit above localCheckpoint "
        "barriers.",
    ),
    (
        "docs_winnowing_fingerprints",
        "Winnowing / MOSS (r6): positional trigram hashing and the "
        "(hash, rightmost-pos) sliding-window min are ARRAY expressions "
        "(slice + array_min over the packed-key array, O(m*w) "
        "arithmetic) inside the scan stage — no exchange exists before "
        "the pair emit; the earlier posexplode + per-doc window-sort + "
        "DISTINCT form paid two corpus shuffles for the same selection. "
        "The packed-long min keeps tie-breaking inside whole-stage "
        "codegen (no struct ordering). The winnowed selection — "
        "2/(w+1) of the k-gram stream — is materialized once above a "
        "localCheckpoint barrier for its three consumers (posting "
        "pair emit + both per-doc count sides), then the shared "
        "posting_pair_emit groups fingerprint posting lists and emits "
        "doc-pair combinations JVM-side with the hot-key ceiling.",
    ),
    (
        "docs_simhash_band_pairs",
        "SimHash band search (r6): Charikar bit-vote fingerprinting "
        "is one map-side-combined 60-column conditional-sum aggregate "
        "over the shingle explode; fingerprints localCheckpoint once "
        "and feed band explosion (4 rows/doc) AND both verify-join "
        "sides. Band buckets group through the shared posting emit "
        "with the hot-bucket cap; candidates are distinct-ed before "
        "the two broadcast fingerprint joins and the bit_count(xor) "
        "verify projection. The all-pairs form exists only as the "
        "DuckDB oracle — the Spark plan never materializes O(n^2).",
    ),
    (
        "embeddings_semdedup_ivf_contract",
        "SemDeDup IVF contract (r6): both variants' assignments sit "
        "above localCheckpoint barriers (Lloyd's centroid matrix "
        "reaches executors as a broadcast one-row frame; the "
        "fixed-seed variant broadcasts the k-seed block); the "
        "within-cluster pair scans shuffle on cluster_id only; the "
        "final agreement aggregate is one full-outer join of two "
        "n-row verdict frames into a scalar row.",
    ),
    (
        "embeddings_semdedup_hier_contract",
        "Hier-SemDeDup contract (registered r10): the RP-tree "
        "clusterer's per-level work is a keyed count + per-oversized-"
        "cell mean aggregate + map-side sign fold, each level behind "
        "a localCheckpoint barrier (plan stays flat across depths); "
        "finished/frozen cells LEAVE the loop (anti-join against the "
        "oversized set) so later levels shrink; the (cell->mean) "
        "table broadcasts while metadata-sized and hash-joins on "
        "cell_id past 4096 cells; the within-cell pair scan shuffles "
        "on cluster_id only; the flat comparator and the one-row fact "
        "aggregates ride broadcast crossJoins.",
    ),
    (
        "docs_minhash_oph_pairs",
        "Densified OPH MinHash: ONE xxhash64 per shingle; "
        "the hash array, the 16-bin mins, and the densified signature "
        "are separate localCheckpoint stages — the borrow scan "
        "references the bins k*k times from lambda bodies (CSE-exempt), "
        "so an inlined bins expression re-evaluates ~256x/doc (measured "
        "5.5x slower end-to-end). Banding/bucketing/verify are "
        "plan-identical to docs_minhash_lsh_pairs.",
    ),
    (
        "docs_semantic_decontamination",
        "Semantic decontamination: the held-out block "
        "broadcasts into a BroadcastNestedLoopJoin against the "
        "streaming train corpus; the per-test argmax is a struct-max "
        "HashAggregate (map-side partial), so the n*q pair frame is "
        "never sorted or shuffled — only |test| rows exchange.",
    ),
    (
        "embeddings_margin_mining",
        "Margin mining (r7): the micro-quantized pair frame is "
        "checkpointed once; both k-NN passes are windows PARTITIONED "
        "by doc id; the test-side neighborhood sums broadcast back "
        "while the corpus-sized train-side frame joins UNHINTED (AQE "
        "broadcasts at fixture scale, shuffle join beyond the "
        "threshold). The final argmax is a PRIMITIVE-long HashAggregate "
        "over the packed (margin_micro, -train_doc_id) key with a "
        "broadcast winner join back onto the scored frame — the "
        "earlier struct-max form planned as SortAggregate (fleet-sweep "
        "forbidden, caught at r7 registration); the duplicated scored "
        "subtree dedups via exchange reuse at runtime.",
    ),
    (
        "docs_edit_similarity_pairs",
        "Levenshtein verify stage: candidate pairs come from the "
        "inverted-index emit (one posting shuffle); the corpus text "
        "column is joined for CANDIDATE PAIRS ONLY (two doc_id "
        "equi-joins, AQE-broadcast at fixture scale), and the DP runs "
        "as codegen `levenshtein` on the joined rows — no Python, no "
        "text shuffle.",
    ),
    (
        "docs_source_js_divergence",
        "JS divergence: one map-side-combined (source, token) count "
        "shuffle is the only corpus-sized stage; top-V is a bounded "
        "TakeOrdered broadcast; the pair grid is |sources|-bounded "
        "arithmetic with micro-nat integer sums.",
    ),
    (
        "docs_ccnet_perplexity_buckets",
        "CCNet terciles: the LM scoring plan (explode -> broadcast LM "
        "-> per-doc rollup) feeds ONE window partitioned by lang "
        "ordered by an exact fixed-point integer key; final rollup is "
        "a 3*|langs|-group HashAggregate.",
    ),
    (
        "events_conversion_funnel",
        "Windowed conversion funnel: ONE user-key Exchange + ONE Sort carry BOTH "
        "running-max windows back to back (identical partitioning/ordering, so "
        "Catalyst plans no second sort) — the naive funnel is an events-to-events "
        "self-join per step; this is one pass. The per-user rollup partial-aggregates "
        "on the already-partitioned key, the 3-row report is the one benign scalar "
        "exchange, and `stack` generates the step rows driver-free.",
    ),
    (
        "part_blocking_pairs",
        "Blocked sorted-neighborhood pairing: the ranked frame is checkpointed once "
        "and feeds both join sides (no double sort/split); each row explodes into "
        "SNM_WINDOW (block, rank+delta) probe keys so the neighbor pairing is an exact"
        " EQUI-join — AQE broadcasts the probe side at fixture scale and degrades to a"
        " hash-partitioned shuffle join on (block, rnk) beyond the threshold; either "
        "way no per-block theta-join (which would be quadratic per block). The "
        "similarity cut compares cross-multiplied integers.",
    ),
    (
        "docs_kneser_ney_bigrams",
        "Kneser-Ney bigram table: the corpus is exploded ONCE into the bigram count "
        "aggregate, localCheckpointed; the context (n_prefix, n_follow_types), "
        "continuation (n_prec_types), and the final join tree all scan that "
        "ExistingRDD — bigram-type scale, never the corpus. Both enrichment sides "
        "broadcast after their word-key aggregates; the head is TakeOrderedAndProject "
        "(no global sort materialization). Stress: near-flat shuffle under 4x "
        "inflation (exponent 0.084).",
    ),
    (
        "customer_k_anonymity",
        "k-anonymity audit: ONE shuffle — the quasi-identifier hash aggregate "
        "(map-side combined). The class-size frame is QI-domain-bounded, so the "
        "threshold explode and the per-k rollup happen on dimension-table "
        "cardinalities; the per-k aggregate's Exchange moves ~4 keys.",
    ),
    (
        "events_interarrival_entropy",
        "Inter-arrival entropy: one user-key Exchange+Sort for the lag window; the "
        "(user, digit-bucket) and per-user aggregates ride the same key (map-side "
        "combined, <=13 buckets/user); the terms join is user-keyed over two "
        "already-aggregated frames. Gap microseconds come from NTZ-native "
        "timestampdiff, so the plan carries no timezone-dependent expression.",
    ),
    (
        "orders_rfm_segments",
        "RFM segmentation: the RFM frame is one o_custkey hash aggregate, checkpointed"
        " for its two consumers; quintiles come from the sortless histogram cut — the "
        "(metric, bucket) histogram is DOMAIN-bounded, its cumulative is a triangular "
        "self-join on that bounded frame (no window over customers anywhere), the "
        "12-row boundary table broadcasts into the assignment join, and scores "
        "re-aggregate on the customer key. The ref-date anchor is a 1-row broadcast; "
        "all timestamp arithmetic is NTZ (see the DST-shift note in the docstring).",
    ),
    (
        "orders_benford_audit",
        "Benford audit: the single parquet scan lives under the 9-row `obs` "
        "localCheckpoint (the un-checkpointed plan replayed it 4x through the "
        "tot/terms/chi branches — post-fix the physical plan shows ZERO parquet scans,"
        " everything downstream is 9-row ExistingRDD work); the digit frame LEFT-joins"
        " observed counts and the two scalar frames (total, chi-square sum) attach as "
        "broadcast one-row BNLJs.",
    ),
    (
        "orders_column_profile",
        "Column profile: ONE scan -> Generate (stack long form) -> two chained "
        "HashAggregates ((col, value) map-side combined, then the 6-group rollup), "
        "plus a wide 1-row native min/max HashAggregate broadcast back onto the 6-row "
        "frame. Free-form string columns carry NULL min/max by design: an exact string"
        " min/max has an immutable aggregation buffer and falls back to SortAggregate "
        "— a per-partition sort of the whole distinct frame — which the fleet sweep "
        "forbids (caught there, rewritten to this form). Every aggregate in the plan "
        "is a HashAggregate.",
    ),
    (
        "customer_mad_outliers",
        "MAD outlier gate: the two exact percentiles are single-reduce "
        "ObjectHashAggregates (median, then MAD over the med-broadcast deviation "
        "pass); both land as broadcast one-row frames over the final scoring scan. "
        "Exact-percentile passes are the documented scale cost; the approx_percentile "
        "swap removes them at trillion-row scale.",
    ),
    (
        "nation_trade_pagerank",
        "Weighted PageRank (driver replay): the 4-table edge aggregation — the only "
        "fact-scale job — runs at collect time; the 5 iterations replay DRIVER-side "
        "over the ≤625-row collected edge list (dimension-bounded at any corpus size —"
        " each round previously paid plan+codegen+checkpoint+2 broadcast builds of "
        "pure scheduling on 25-row frames), so the visible plan is the final "
        "LocalTableScan of the local_frame rows only. Arithmetic replicates the removed plan op-for-op "
        "(integer sums order-free, HALF_UP shortest-repr rounding); the unrolled-CTE "
        "oracle and a pure-Python replay referee test pin it.",
    ),
    (
        "orders_zorder_skipping_contract",
        "Z-order skipping contract: buckets + Morton codes are per-row integer "
        "expressions over the broadcast date anchor, pinned once by the `rz` "
        "localCheckpoint that feeds BOTH the zone-map build (stack -> (layout, file) "
        "HashAggregate, 128 groups) and the selected-row conditional aggregate; "
        "pruning evaluation is a broadcast cross of the 128-row stats frame with the "
        "3-row predicate table.",
    ),
    (
        "embeddings_pca_power",
        "PCA power iteration (registered r7): the ONLY corpus-side work "
        "is one hash aggregate producing the 2145-cell integer moment "
        "triangle (d(d+1)/2 cells at d=64); the 128 power-iteration "
        "steps are driver-side numpy over that d x d matrix. Pinned so "
        "a refactor can never push iteration back into per-step Spark "
        "jobs or add a second corpus scan.",
    ),
    (
        "part_copurchase_triangles",
        "Co-purchase triangle count (registered r7): the support-pruned "
        "edge list is built once (pair HashAggregate above the order "
        "baskets), localCheckpoint-pinned, then self-joined with the "
        "degree orientation (lo < hi) so each triangle is counted once; "
        "the wedge-close join is the only exchange that scales with "
        "edges. Tripwire pins the single-checkpoint, two-join shape.",
    ),
    (
        "docs_minhash_incremental_pairs",
        "Incremental MinHash band-index join (registered r5; pinned "
        "after its r7 in-suite 2x move): new-batch signatures probe the "
        "persisted band posting lists via an equi-join on (band, "
        "band_hash) — never all-pairs; one exchange for the band join, "
        "one for the exact-Jaccard verification aggregate.",
    ),
    (
        "orders_basket_lift",
        "Market-basket pair emit (registered r9): brand sets per order "
        "via a keyed aggregate, pair generation rides the in-array "
        "combination transform (never an order-keyed self-join "
        "explosion), singles/totals broadcast back. Tripwire pins the "
        "no-cartesian, bounded-pair-emit shape.",
    ),
    (
        "docs_boilerplate_ngram_mass",
        "Per-source template-gram audit (registered r9): one trigram "
        "explode into a (source, gram) hash aggregate with map-side "
        "combine, the df>=threshold gram set joined back by gram. "
        "Tripwire pins the two-aggregate, one-join shape.",
    ),
    (
        "events_error_cusum",
        "SORTLESS CUSUM (registered r9): the sequential recursion is "
        "the suffix-max identity over a calendar-bounded triangular "
        "join on the day spine — day-domain rows only, no global-order "
        "window, no per-event state. Tripwire pins the spine-sized "
        "triangular shape.",
    ),
    (
        "docs_pii_scrub_contract",
        "Planted-injection scrub certificate (registered r9): one "
        "corpus scan computing detect + redact expressions, a per-"
        "source aggregate; zero joins that scale beyond the source "
        "vocabulary. Tripwire pins the single-scan shape.",
    ),
    (
        "docs_bpe_roundtrip_contract",
        "Tokenizer-QC gate (registered r9): replays the trained merge "
        "list over the word table (bounded merge count), verifies "
        "concat(syms) == word||EOW per word, aggregates per language. "
        "Tripwire pins the scan+replay+aggregate shape (no driver "
        "loops beyond the fixed merge list).",
    ),
    (
        "asof_last_click",
        "As-of join (union+window, one shuffle — pinned r9 after its "
        "r8 in-suite flag was adjudicated as contention): impressions "
        "and clicks union into one keyed frame, last-click resolution "
        "is a single keyed window pass. Tripwire pins the one-"
        "exchange union+window shape.",
    ),
    (
        "cms_event_type_counts",
        "Count-min sketch aggregate (pinned r9 after its r8 in-suite "
        "flag was adjudicated as contention): per-row hash lanes fold "
        "into a fixed (depth x width) grid via partial aggregates — "
        "sketch size is config-bounded, independent of corpus scale. "
        "Tripwire pins the grid-aggregate shape.",
    ),
    (
        "knn_pq_adc",
        "PQ asymmetric-distance kNN (pinned r11 after its first "
        "curated warm baseline landed in r10): ADC lookup tables are "
        "built from broadcast codebooks, the corpus streams once "
        "against the broadcast query block, and the top-k is a "
        "per-query window over the bounded shortlist — no global "
        "sort, no all-pairs join. Tripwire pins the broadcast + "
        "window shape so a silent fallback to a shuffled join or a "
        "SinglePartition sort shows up as operator growth.",
    ),
]


# Operator classes whose COUNT INCREASE in a headliner plan trips the
# wire: every one is a shuffle, a sort, or a quadratic join — the
# categories where "the plan got one more of these" is exactly the
# regression the per-query timings smear out.
TRIPWIRE_OPS = (
    "Exchange",
    "Sort",
    "SortAggregate",
    "SortMergeJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Window",
)

# The formatted-explain tree section: lines like
#   "* HashAggregate (8)" / "+- Exchange (7)" / ":- Sort (3)".
_TREE_NODE = re.compile(r"^[\s*+:|-]*([A-Za-z][A-Za-z0-9 ]*?) \(\d+\)\s*$")


def tree_ops(plan_text: str) -> Counter:
    """Operator multiset of a formatted physical plan's tree section.
    Node labels are normalized to their head word plus the exact
    matches the tripwire cares about (``Exchange`` covers both shuffle
    and broadcast exchange lines; ``Sort`` stays distinct from
    ``SortAggregate``/``SortMergeJoin`` because the regex captures the
    full node name)."""
    ops: Counter = Counter()
    for line in plan_text.splitlines():
        if line.startswith("("):  # reached the per-node detail section
            break
        m = _TREE_NODE.match(line)
        if m:
            name = m.group(1).strip()
            # "Scan parquet default.x" style labels keep their head word
            ops[name.split(" ")[0] if name.startswith("Scan ") else name] += 1
    return ops


def parse_plans_md(path: str) -> dict[str, Counter]:
    """Per-headliner operator multisets from an existing PLANS.md."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return {}
    plans: dict[str, Counter] = {}
    for m in re.finditer(
        r"^## (\S+)\n.*?```\n(.*?)\n```", text, re.S | re.M
    ):
        plans[m.group(1)] = tree_ops(m.group(2))
    return plans


def tripwire(prev: dict[str, Counter], new: dict[str, Counter]) -> list[str]:
    """Headliner-level drift report: one line per headliner whose new
    plan GAINED a tripwire operator vs the previous snapshot. New
    headliners (no previous section) are skipped — there is nothing to
    regress against."""
    hits = []
    for name, ops in new.items():
        old = prev.get(name)
        if old is None:
            continue
        grew = [
            f"{op} {old.get(op, 0)}->{ops.get(op, 0)}"
            for op in TRIPWIRE_OPS
            if ops.get(op, 0) > old.get(op, 0)
        ]
        if grew:
            hits.append(f"{name}: {', '.join(grew)}")
    return hits


# Numbers in a plan's text that change from run to run or host to host
# without the plan changing: expression ids (``l_quantity#4``, ``count#64L``),
# exchange ids (``plan_id=25``), RDD ids of checkpointed frames
# (``MapPartitionsRDD[34]``) and JVM object hash codes (``@582dcbb3``).
_RUN_IDS = (
    re.compile(r"(?<=#)\d+"),
    re.compile(r"(?<=plan_id=)\d+"),
    re.compile(r"(?<=RDD\[)\d+(?=\])"),
)
_HASH_CODE = re.compile(r"@[0-9a-f]{6,8}\b")
_PARTITIONING = re.compile(r"(?:RoundRobinPartitioning|hashpartitioning|rangepartitioning)\(")


def _renumber(pattern: re.Pattern, text: str) -> str:
    """Replace each distinct match with its rank of first appearance."""
    seen: dict[str, int] = {}
    return pattern.sub(lambda m: str(seen.setdefault(m.group(0), len(seen) + 1)), text)


def _unpin_partitions(text: str, counts: set[int]) -> str:
    """Write a partitioning's partition count as ``<n>`` when it is the
    session's (shuffle partitions or default parallelism, which follow
    the host's core count); counts set in code stay."""
    out, pos = [], 0
    for m in _PARTITIONING.finditer(text):
        depth, i = 1, m.end()
        while depth and i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        head, last = re.fullmatch(r"(.*?)(\d*)", text[m.start():i - 1], re.S).groups()
        if last and head.endswith(("(", ", ")) and int(last) in counts:
            out += [text[pos:m.start()], head, "<n>)"]
            pos = i
    return "".join(out) + text[pos:]


def normalize_plan(plan: str, counts: set[int]) -> str:
    """``plan`` with its run-dependent ids renumbered in order of first
    appearance, JVM hash codes blanked and the session's partition count
    written as ``<n>``, so two runs of an unchanged plan print the same
    text on any host and a diff of PLANS.md shows only plan changes."""
    for pattern in _RUN_IDS:
        plan = _renumber(pattern, plan)
    return _unpin_partitions(_HASH_CODE.sub("@…", plan), counts)


def build_plans(spark) -> dict[str, str]:
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries

    counts = {int(spark.conf.get("spark.sql.shuffle.partitions")), spark.sparkContext.defaultParallelism}
    qs = all_queries()
    plans: dict[str, str] = {}
    for name, _ in HEADLINERS:
        df = qs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        plans[name] = normalize_plan(plan.rstrip(), counts)
    return plans


def main() -> int:
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    check_only = "--check" in sys.argv[1:]
    accept = "--accept" in sys.argv[1:]
    plans_path = os.path.join(ROOT, "PLANS.md")

    spark = get_session("plan-report")
    plans = build_plans(spark)
    spark.stop()

    prev = parse_plans_md(plans_path)
    hits = tripwire(prev, {n: tree_ops(p) for n, p in plans.items()})
    if hits:
        print("PLAN TRIPWIRE FIRED — headliners gained expensive operators:")
        for h in hits:
            print(f"  REGRESSION {h}")
        if not accept:
            if not check_only:
                print(
                    "PLANS.md NOT rewritten; rerun with --accept after "
                    "adjudicating (and say why in the commit)."
                )
            return 1
        print("--accept: drift adjudicated as intentional; rewriting.")
    else:
        print(f"plan tripwire clean ({len(plans)} headliners vs previous snapshot)")
    if check_only:
        return 0

    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        "Generated by `tools/plan_report.py` at sf0.01 (plans are",
        "scale-invariant in shape; AQE may re-plan exchanges at runtime).",
        "Invariants are enforced by `tests/test_plans.py`; this file is",
        "the human-readable audit trail. Every regeneration first runs",
        "the operator-multiset tripwire against the previous snapshot.",
        "Expression, exchange and RDD ids are renumbered per plan in order",
        "of appearance, JVM hash codes are written `@…`, and `<n>` stands",
        "for the session's partition count (the host's core count), so the",
        "file reads the same from any host until a plan changes.",
        "",
    ]
    notes = dict(HEADLINERS)
    for name, _ in HEADLINERS:
        out += [f"## {name}", "", notes[name], "", "```", plans[name], "```", ""]
    # Hand-appended sections (headings like
    # `## name`) are preserved verbatim: regeneration must
    # not delete audit trail it didn't author.
    kept = 0
    try:
        with open(plans_path) as f:
            old = f.read()
    except OSError:
        old = ""
    gen_names = {name for name, _ in HEADLINERS}
    for m in re.finditer(r"^## (\S+).*?(?=^## |\Z)", old, re.S | re.M):
        if m.group(1) not in gen_names:
            out += [m.group(0).rstrip(), ""]
            kept += 1
    with open(plans_path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans + {kept} hand sections kept)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
