"""Document-curation, analytics and graph queries, each registered
with its DuckDB oracle.

The operators (LLM-pipeline and analytics ops beyond the reference's
taxi medallion flow):

- ``docs_minhash_oph_pairs``: one-permutation hashing (OPH) MinHash
  with densification (Li, Owen & Zhang NeurIPS'12; Shrivastava & Li
  ICML'14) — ONE hash pass over the shingles instead of one pass per
  permutation, keeping the banded-LSH candidate layout identical. The
  hash-call budget drops PERMS× by construction; measured END-TO-END
  it runs at parity with the k-permutation family on the fixtures
  (sf0.1 warm 1.12 vs 1.14 s — ~30-word fixture docs make the
  signature stage fixed-cost-dominated either way; the win grows with
  shingle volume per document, i.e. with real web-document lengths).
- ``docs_semantic_decontamination``: the embedding-space twin of
  ``docs_train_test_contamination`` — for every held-out doc, its
  nearest TRAIN-split neighbor by cosine and a contaminated verdict.
  Lexical decontamination misses paraphrases; this is the semantic
  audit run before an eval set is trusted (cf. GPT-3 appx C, but in
  embedding space).
- ``corpus_vocab_growth``: Heaps'-law vocabulary-growth report —
  cumulative distinct vocabulary vs cumulative token mass across ten
  corpus slices. The report a tokenizer-training run reads to decide
  whether more data still buys vocabulary (and the sanity check that a
  dedup pass actually flattened the curve).
- ``docs_quality_ensemble``: majority vote across the Gopher battery,
  the repetition gate, and the surprisal filter — the stacked-filter
  shape production curation actually ships.
- ``events_markov_transitions``: first-order event-type transition
  matrix with exact counts and row-normalized probabilities.
- ``corpus_zipf_report``: top-100 rank-frequency table with the
  normalized Zipf product — the head-distribution health check
  complementing ``corpus_vocab_growth``'s tail view.
- ``lineitem_brand_basket_lift``: market-basket support/lift over
  order baskets — the collocation-PMI shape lifted to transactions.
- ``embeddings_margin_mining``: Artetxe & Schwenk ratio-margin pair
  mining (the LASER/CCMatrix scorer) — hubness-normalized best-match
  retrieval between the held-out and train splits.
- ``docs_edit_similarity_pairs``: char-level Levenshtein verification
  of the shingle near-dup candidates — the ORDER-SENSITIVE verify
  stage that separates revision twins from block-reordered twins,
  affordable precisely because the pair set is inverted-index-bounded.
- ``embeddings_pca_power``: top principal component by power iteration
  (the ABTT / whitening preprocessing input, Mu & Viswanath ICLR'18) —
  MLlib's RowMatrix shape: ONE distributed scan accumulates exact
  integer moments, the d×d eigensolve is bounded driver work, and the
  oracle replays the full iteration as unrolled chained CTEs.
- ``docs_source_js_divergence``: pairwise Jensen–Shannon divergence
  between source unigram distributions over a shared top-V+OOV space —
  the source-similarity matrix mixture design reads before setting
  sampling weights; micro-nat integer sums, one corpus-sized shuffle.
- ``docs_ccnet_perplexity_buckets``: CCNet's head/middle/tail
  perplexity terciles per language (Wenzek et al. LREC'20), composed
  on the registered surprisal scores with an exact integer ranking
  key so the ntile cut is bit-stable cross-engine.
- ``docs_dup_cluster_report``: cluster-size histogram + dedup-savings
  ledger (docs/tokens a keep-min-id pass removes), composed on the
  registered connected-components assignments and reconciling to the
  whole corpus.
- ``docs_minhash_bbit_calibration``: b-bit MinHash (Li & Koenig
  CACM'11) — keep 2 bits per component (16x signature compression,
  what makes corpus-wide signature retention affordable) with the
  debiased estimator pinned within 0.35 of exact Jaccard per verified
  pair.
- ``docs_ccnet_histogram_cut_contract``: the SORTLESS production
  variant of the CCNet cut — histogram-quantile tercile boundaries +
  one broadcast-compare pass — with its per-language agreement vs the
  exact sort measured and pinned (fully integer-exact, so the oracle
  replays the agreement numbers themselves).
- ``lineitem_brand_abc_classes``: per-brand ABC/Pareto revenue
  classification (80/95 cuts) — DECIMAL-exact cumulative shares via
  cross-multiplied comparisons, the window input pre-collapsed to one
  row per (brand, part).
- ``docs_quality_filter_agreement``: pairwise contingency matrix +
  Cohen's kappa across the three registered quality filters — the
  redundancy report that decides whether an ensemble member earns its
  compute (chance-corrected, NULL on degenerate marginals).
- ``orders_snapshot_diff``: change-data-feed between table versions
  (Delta ``table_changes`` shape) — one full-outer key join
  classifying inserted/deleted/updated rows with a changed-column
  bitmask; the READ side of the registered MERGE's CDC story,
  round-tripped through ``SnapshotTable`` time travel in pytest.
- ``orders_gold_ivm``: incremental view maintenance of a per-customer
  gold aggregate — stored view ⊕ CDC delta contributions, group death
  included, in exact DECIMAL; the oracle recomputes from scratch, so
  the driver's hash equality IS the IVM ≡ recompute theorem.
- ``events_conversion_funnel``: ordered view→click→purchase funnel
  with a 12-hour conversion window — both running-max windows ride
  ONE (user, ts, event_id) sort, no event self-join; the
  product-analytics primitive the sessionization/markov queries
  don't cover.
- ``part_blocking_pairs``: blocked sorted-neighborhood candidate
  pairs (Hernandez & Stolfo SIGMOD'95) — the sort-key-based
  entity-resolution blocking complement to content-keyed LSH, with
  the neighbor pairing lowered to an exact (block, rank+delta)
  equi-join and an integer cross-multiplied similarity cut.
- ``docs_kneser_ney_bigrams``: interpolated Kneser-Ney bigram table
  (D=0.75) with exact count columns and a per-row IEEE-identical
  probability — the continuation-count smoothing real n-gram LMs
  ship, next to the registered Stupid-Backoff's cheap approximation.
- ``customer_k_anonymity``: k-anonymity audit over a quasi-identifier
  tuple (Sweeney '02) — per-threshold at-risk classes/records and the
  anonymous fraction; the re-identification-risk gate complementing
  the registered explicit-PII detector. One QI groupBy, then
  dimension-table work.
- ``events_interarrival_entropy``: per-user Shannon entropy of the
  gap-magnitude histogram (exact integer-microsecond gaps, decimal-
  digit buckets, micro-nat quantized terms) — the WHO-is-mechanical
  bot signal next to the hourly anomaly's WHEN-is-anomalous.
- ``orders_rfm_segments``: RFM quintile segmentation via the sortless
  histogram-cut machinery — global quintiles with NO sort or ntile
  over customers (domain-bounded histograms + cross-multiplied
  integer boundary picks), every emitted value integer-exact.
- ``orders_benford_audit``: Benford first-significant-digit audit
  (Nigrini '96) with per-digit chi-square terms and an alpha=0.001
  reject flag — first digits from DECIMAL-exact cents strings,
  Benford shares as Python-quantized literals in BOTH plans, so no
  engine libm is consulted anywhere.
- ``orders_column_profile``: single-pass Deequ-style column profile
  (rows / nulls / EXACT distinct / native min-max for ordered types /
  rates) — a ``stack`` long form through two chained hash aggregates
  plus a wide 1-row min/max hash aggregate; free-form strings get
  cardinality only (exact string min/max would plan as the forbidden
  SortAggregate); the approx_count_distinct swap is the sketch path.
- ``customer_mad_outliers``: median-absolute-deviation robust z gate
  — the heavy-tail-safe outlier filter on the proven exact-percentile
  pair, emitted unfiltered so the oracle hashes every scored row.
- ``nation_trade_pagerank``: weighted PageRank (damping 0.85, 5 fixed
  iterations) over the supplier-nation → customer-nation revenue
  graph — ONE fact-scale aggregation builds the bounded entity graph,
  then every iteration is broadcast-size dimension work in integer
  pico-rank units (per-edge contributions quantized BEFORE the
  order-free sum); the oracle unrolls all iterations as chained CTEs.
- ``orders_zorder_skipping_contract``: Morton-layout data-skipping
  contract — bit-interleaved (customer, day) file assignment vs a
  time-linear layout, zone-map pruning evaluated for point / range /
  conjunctive predicates; integer-exact scan counts showing z-order
  cuts the point query to ~1/8 of files where linear scans all.
- ``part_copurchase_triangles``: triangle count + global clustering
  coefficient of the support-thresholded part co-purchase graph —
  graph-MOTIF counting (each edge pair enumerated once under the
  a<b<c orientation) next to the connectivity-only dup clustering and
  the flow-based PageRank; every count integer-exact.
- ``docs_phrase_search``: exact-phrase retrieval over a positional
  inverted index — the quoted-query operator BM25 can't express,
  resolved as the classic m-way positional self-join on one
  checkpointed (doc, word, pos) posting frame; no full-text regex.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EMB_DIM, fan_out_if_narrow, load, local_frame
from ..registry import register
from .dedup import (
    DF_CEILING,
    GRAMS_CTE_SQL,
    JACCARD_PAIRS_SQL,
    JACCARD_THRESHOLD,
    MINHASH_PERMS,
    _jaccard_pairs_from,
    _lsh_candidates,
    _verify_jaccard,
    hashed_shingle_table,
    minhash_signature,
    posting_pair_emit,
)
from .lm import _LM_ORACLE, docs_unigram_surprisal_filter
from .quality import docs_gopher_quality
from ..operators.merge_into import _MERGE_ORACLE
from .similarity import NEARDUP_COSINE, _dot, _norm


# --------------------------------------------------------------------
# One-permutation hashing (OPH) MinHash
# --------------------------------------------------------------------

# 16 bins → the same 8 bands × 2 rows banding as the k-permutation
# family (llm/dedup.py MINHASH_PERMS/LSH_BANDS), so the LSH s-curve
# midpoint (1/8)^(1/2) ≈ 0.35 sits just above the 0.30 verify
# threshold. The difference is the signature COST: one xxhash64 per
# shingle total, vs one per (shingle, permutation) — the 16× hashing
# reduction is the entire point of OPH at corpus scale.
OPH_BINS = 16
_OPH_SALT = 77  # decouples the OPH rank value from the raw shingle bits


def oph_hashed(grams: Column) -> Column:
    """The single hash pass: re-hash each 64-bit shingle fingerprint
    once with a fixed salt. Bin index (pmod) and rank value (the hash
    itself) both derive from this ONE value — that is what makes OPH
    one-permutation. Callers must MATERIALIZE the result (select +
    localCheckpoint) before feeding ``oph_signature``: lambda bodies
    are exempt from common-subexpression elimination, so an inline
    expression would be re-evaluated once per bin, silently restoring
    the k-pass cost OPH exists to avoid."""
    return F.transform(grams, lambda g: F.xxhash64(g, F.lit(_OPH_SALT)))


def oph_bins(hs: Column, k: int = OPH_BINS) -> Column:
    """Raw OPH bins from a MATERIALIZED hash-array column: bin j's
    value is min{h : h mod k = j}, NULL when the bin is empty.

    Cost note: the k filter passes scan the materialized 8-byte hash
    array with a pmod compare per element — arithmetic, not hashing.
    The xxhash64 budget stays ONE call per shingle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.array_min(F.filter(hs, lambda h: F.pmod(h, F.lit(k)) == j)),
    )


def oph_densify(bins_col: Column, k: int = OPH_BINS) -> Column:
    """Densification (Shrivastava & Li '14) of a MATERIALIZED bins
    column: empty bin j borrows from the nearest non-empty bin to its
    right (circular); at borrow distance t > 0 the borrowed value is
    re-hashed with t so different distances stay distinguishable (the
    re-hash replaces the paper's ``v + t·C`` offset — ANSI mode rejects
    intentional long wraparound, and a collision-free remix is what the
    offset is for).

    ``bins_col`` MUST be a materialized column, not the ``oph_bins``
    expression inline: the borrow scan references it k·k times from
    lambda bodies, which are exempt from common-subexpression
    elimination — inlined, the 16-bin computation re-evaluates up to
    256×, measured 5.5× slower END-TO-END than the k-permutation
    family it exists to beat."""

    def first_filled(j: Column) -> Column:
        candidates = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda t: F.struct(
                F.element_at(
                    bins_col, (F.pmod(j + t, F.lit(k)) + 1).cast("int")
                ).alias("v"),
                t.alias("t"),
            ),
        )
        hit = F.element_at(F.filter(candidates, lambda s: s["v"].isNotNull()), 1)
        return F.when(hit["t"] == 0, hit["v"]).otherwise(
            F.xxhash64(hit["v"], hit["t"])
        )

    return F.transform(F.sequence(F.lit(0), F.lit(k - 1)), first_filled)


def oph_signature(hs: Column, k: int = OPH_BINS) -> Column:
    """Densified OPH signature — ``oph_densify(oph_bins(...))`` INLINE.
    Correct on any input but meant for small literal frames (tests):
    production plans must materialize the bins between the two stages
    (see ``oph_densify``'s cost note and ``docs_minhash_oph_pairs``)."""
    return oph_densify(oph_bins(hs, k), k)


def oph_band_index(
    sig_df: DataFrame, k: int = OPH_BINS, bands: int = 8
) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows from a (doc_id, sig) frame —
    the same persistable append-only band-index artifact as
    ``minhash_band_index`` (band hashes are pure per-document
    functions), just fed by the cheaper signature."""
    rows_per_band = k // bands
    return sig_df.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band_idx"),
                    F.xxhash64(
                        F.slice(F.col("sig"), band * rows_per_band + 1, rows_per_band),
                        band,
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


@register(
    "docs_minhash_oph_pairs",
    # Same brute-force oracle as docs_minhash_lsh_pairs: the verify
    # step makes precision exact by construction, and on the fixtures
    # the densified-OPH bands recover every qualifying pair (the
    # hash compare against the UNBLOCKED exact pair set proves recall
    # end-to-end, exactly as it does for the k-permutation family).
    oracle=f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                6) >= {JACCARD_THRESHOLD}
    """,
    tags=("llm", "dedup", "lsh", "oph"),
)
def docs_minhash_oph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via densified one-permutation MinHash + LSH
    banding + exact-Jaccard verification at ≥ 0.30.

    Identical candidate LAYOUT to ``docs_minhash_lsh_pairs`` (8 bands
    × 2 rows, bucket-then-combine emit, shingle arrays never shuffle);
    the signature stage hashes each shingle ONCE instead of 16 times.
    At 100 TB the signature pass is the dominant near-dedup cost — it
    reads every shingle of every document — so this is the variant a
    production run deploys, with the k-permutation family as the
    reference implementation it is calibrated against."""
    d = load(spark, sf_dir, "documents")
    g = hashed_shingle_table(spark, d)
    # ONE hash pass, materialized so the per-bin filters scan longs
    # instead of re-hashing (see oph_hashed docstring).
    hs = g.select("doc_id", oph_hashed(F.col("grams")).alias("hs")).localCheckpoint(
        eager=True
    )
    # bins materialized (16 longs/doc) before densification — inlined,
    # the borrow scan re-evaluates the bin computation up to 256× per
    # doc (see oph_densify docstring; measured 5.5× slower end-to-end).
    binned = hs.select("doc_id", oph_bins(F.col("hs")).alias("bins")).localCheckpoint(
        eager=True
    )
    sig = binned.select("doc_id", oph_densify(F.col("bins")).alias("sig"))
    posts = oph_band_index(sig).select(
        "doc_id", "band_idx", F.col("band_hash").alias("gram")
    )
    candidates = (
        posting_pair_emit(posts, ("band_idx",), None)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_jaccard(g, candidates)


# --------------------------------------------------------------------
# Semantic train/test decontamination
# --------------------------------------------------------------------

# The deterministic md5 doc split used across the curation suite
# (plans/curation.py): first two hex chars of md5(doc_id) — < 'cd' is
# train (~80%), >= 'e6' is test (~10%). Copied as an EXPRESSION (not
# imported) because curation keeps it inline in its SQL oracles; the
# cross-engine agreement of the md5 prefix is pinned by
# tests/test_overlap.py::test_cross_engine_md5_hash_agrees.
def _split_hh(c: Column) -> Column:
    return F.substring(F.md5(c.cast("string")), 1, 2)


# 40-bit id field of the packed (cosine, id) argmax key: (c_micro +
# 1e6) <= 2e6 needs 21 bits, 21 + 40 = 61 < 63 — no overflow; ids up
# to ~1.1e12 fit, and the per-row guard fails loudly beyond that.
_DECON_ID_BITS = 40


@register(
    "docs_semantic_decontamination",
    oracle=f"""
    WITH split AS (
      SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hh
      FROM documents
    ), n AS (
      SELECT s.doc_id, s.hh,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(list_transform(
                    list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                    x -> x * x), (acc, x) -> acc + x)) AS nrm
      FROM split s JOIN embeddings e ON e.vec_id = s.doc_id
    ), pairs AS (
      SELECT t.doc_id AS test_doc_id, c.doc_id AS train_doc_id,
             round(list_reduce(list_transform(list_zip(t.v, c.v),
                                              p -> p[1] * p[2]),
                               (acc, x) -> acc + x)
                   / (t.nrm * c.nrm), 6) AS cosine_sim
      FROM n t, n c
      WHERE t.hh >= 'e6' AND c.hh < 'cd'
    )
    SELECT test_doc_id, train_doc_id, cosine_sim,
           cosine_sim >= {NEARDUP_COSINE} AS contaminated
    FROM pairs
    QUALIFY row_number() OVER (
      PARTITION BY test_doc_id ORDER BY cosine_sim DESC, train_doc_id
    ) = 1
    """,
    tags=("llm", "decontamination", "embedding"),
)
def docs_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination audit: for every TEST-split doc,
    its nearest TRAIN-split doc by cosine and a ``contaminated``
    verdict at the corpus near-dup threshold (0.42). The lexical
    auditor (``docs_train_test_contamination``) catches shared
    n-grams; this catches paraphrase-level leakage those miss — the
    check run before a held-out set is trusted.

    Scale shape: the held-out split is the SMALL side by construction
    (a few k docs even at 100 TB), so the test block broadcasts and
    the train corpus STREAMS — one scan, no corpus shuffle. The
    per-test argmax is a packed-long (c_micro, ¬train_id) max — a
    primitive HashAggregate with map-side partials — NOT a struct max
    (SortAggregate fallback) or a window, so nothing n·q-sized is ever
    sorted; output is |test| rows. Cosines are rounded to 6 dp before
    the argmax and tie-broken by min train id, making the winner
    deterministic and cross-engine stable (same left-fold dot product
    both engines, cf. the knn family).

    For a held-out set too large to broadcast, the dense stage swaps
    for the Matryoshka prefix-shortlist path (`llm/similarity.py`) —
    the same composition the ANN hybrid uses."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", _split_hh(F.col("doc_id")).alias("hh")
    )
    e = load(spark, sf_dir, "embeddings")
    n = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            "hh",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select("doc_id", "hh", "v", _norm(F.col("v")).alias("nrm"))
    )
    test = n.filter(F.col("hh") >= "e6").select(
        F.col("doc_id").alias("test_doc_id"),
        F.col("v").alias("tv"),
        F.col("nrm").alias("tnrm"),
    )
    train = n.filter(F.col("hh") < "cd").select(
        F.col("doc_id").alias("train_doc_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    # Fan out the STREAMED side of the dot-product join (guide §2.5
    # "input skew"): the fixture's embeddings table is one parquet row
    # group = ONE scan split, so the |train|·|test| interpreted
    # zip_with/aggregate dot products all ran in a single task (~32×
    # under-parallelized on 32 cores). Guarded on the source scan
    # width: at production scale the scan is wide and no exchange is
    # added; when it fires the shuffle is the slim train block (id +
    # 64 doubles + norm).
    train = fan_out_if_narrow(e, train)
    pairs = train.join(
        F.broadcast(test), F.col("test_doc_id") != F.col("train_doc_id")
    )
    cos = F.round(
        _dot(F.col("tv"), F.col("cv")) / (F.col("tnrm") * F.col("cnrm")), 6
    )
    # argmax as a PRIMITIVE-LONG max: (c_micro, train_id) packed into
    # one bigint — (c_micro + 1e6) in the high bits, the 40-bit
    # complement of train_id in the low bits — so max(pack) picks
    # highest cosine then lowest id. A struct max expresses the same
    # thing but silently falls back to SortAggregate (the segdedup
    # hazard), which SORTS the |test|·|train| pair frame within
    # partitions; the packed form is a map-side-combinable
    # HashAggregate with |test| states and no sort. Per-row
    # raise_error guard on the id range, mirroring the segdedup /
    # merge_into packing guards.
    cap = 1 << _DECON_ID_BITS
    c_micro = F.round(cos * 1e6, 0).cast("bigint")
    guarded_id = F.expr(
        f"if(train_doc_id >= 0 AND train_doc_id < {cap}, train_doc_id,"
        " raise_error('docs_semantic_decontamination: train_doc_id"
        " outside the 40-bit packed-argmax range — raise"
        " _DECON_ID_BITS'))"
    )
    pack = (c_micro + F.lit(1_000_000)) * F.lit(cap) + (F.lit(cap - 1) - guarded_id)
    best = (
        pairs.select("test_doc_id", pack.alias("pk"))
        .groupBy("test_doc_id")
        .agg(F.max("pk").alias("pk"))
    )
    c_back = F.shiftright(F.col("pk"), _DECON_ID_BITS) - F.lit(1_000_000)
    id_back = F.lit(cap - 1) - F.col("pk").bitwiseAND(F.lit(cap - 1))
    return best.select(
        "test_doc_id",
        id_back.alias("train_doc_id"),
        F.round(c_back.cast("double") / 1e6, 6).alias("cosine_sim"),
        (c_back >= int(round(NEARDUP_COSINE * 1e6))).alias("contaminated"),
    )


# --------------------------------------------------------------------
# Heaps'-law vocabulary growth
# --------------------------------------------------------------------

VOCAB_GROWTH_SLICES = 10


@register(
    "corpus_vocab_growth",
    oracle=f"""
    WITH mx AS (
      SELECT max(doc_id) + 1 AS mx FROM documents
    ), docs AS (
      SELECT doc_id,
             CAST((doc_id * {VOCAB_GROWTH_SLICES}) // mx.mx AS INT) AS slice_id,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents, mx
    ), toks AS (
      SELECT d.doc_id, w.w AS word
      FROM documents d, unnest(string_split(d.text, ' ')) AS w(w)
    ), firsts AS (
      SELECT word, min(doc_id) AS first_doc FROM toks GROUP BY word
    ), new_words AS (
      SELECT CAST((first_doc * {VOCAB_GROWTH_SLICES}) // mx.mx AS INT) AS slice_id,
             count(*) AS new_words
      FROM firsts, mx
      GROUP BY 1
    ), per_slice AS (
      SELECT slice_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM docs
      GROUP BY slice_id
    )
    SELECT p.slice_id, p.n_docs, p.n_tokens,
           CAST(coalesce(nw.new_words, 0) AS BIGINT) AS new_words,
           CAST(sum(coalesce(nw.new_words, 0))
                OVER (ORDER BY p.slice_id) AS BIGINT) AS cum_vocab,
           CAST(sum(p.n_tokens) OVER (ORDER BY p.slice_id) AS BIGINT) AS cum_tokens
    FROM per_slice p LEFT JOIN new_words nw USING (slice_id)
    """,
    tags=("llm", "textstats"),
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth report: the corpus is cut into ten
    doc_id-range slices and each row reports the slice's doc/token
    mass, the number of words FIRST seen in it, and the cumulative
    vocabulary/token curves. Sub-linear cum_vocab growth (Heaps' law,
    V ≈ K·nᵝ with β ≈ 0.5) is what healthy fresh text looks like; a
    dedup pass that worked flattens the tail, and a tokenizer-training
    run reads this to decide whether more corpus still buys
    vocabulary.

    Scale shape: one corpus scan for per-doc stats (no shuffle), one
    explode → groupBy(word) for first occurrences — the same
    map-side-combined word-key shuffle as ``corpus_vocabulary`` — then
    everything aggregates to ten rows. The cumulative curves come from
    a triangular self-join of that ten-row frame (the
    ``events_cum_users_hll_merge`` pattern) — no global window, so the
    plan carries no single-partition exchange at any scale.
    All integers, exact at any scale. New-word attribution uses
    min(doc_id) — ingestion order — so the report is deterministic and
    incremental-friendly (a new batch can only ADD first-occurrences
    in its own id range)."""
    n_slices = VOCAB_GROWTH_SLICES
    d = load(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("mx"))

    def slice_of(doc_col: Column) -> Column:
        return F.floor(doc_col * n_slices / F.col("mx")).cast("int")

    docs = d.crossJoin(F.broadcast(mx)).select(
        slice_of(F.col("doc_id")).alias("slice_id"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    per_slice_docs = docs.groupBy("slice_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    firsts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_words = (
        firsts.crossJoin(F.broadcast(mx))
        .select(slice_of(F.col("first_doc")).alias("slice_id"))
        .groupBy("slice_id")
        .agg(F.count("*").alias("new_words"))
    )
    per_slice = (
        per_slice_docs.join(new_words, "slice_id", "left")
        .select(
            "slice_id",
            "n_docs",
            "n_tokens",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
    )
    prior = per_slice.select(
        F.col("slice_id").alias("b_slice"),
        F.col("new_words").alias("b_new"),
        F.col("n_tokens").alias("b_tokens"),
    )
    return (
        per_slice.join(F.broadcast(prior), F.col("b_slice") <= F.col("slice_id"))
        .groupBy("slice_id", "n_docs", "n_tokens", "new_words")
        .agg(
            F.sum("b_new").alias("cum_vocab"),
            F.sum("b_tokens").alias("cum_tokens"),
        )
        .select(
            "slice_id", "n_docs", "n_tokens", "new_words", "cum_vocab", "cum_tokens"
        )
    )


# --------------------------------------------------------------------
# Quality-filter ensemble
# --------------------------------------------------------------------


_ENSEMBLE_ORACLE = f"""
    WITH lmq AS ({_LM_ORACLE}
    ), gq AS (
      SELECT doc_id,
             (len(string_split(text, ' ')) BETWEEN 20 AND 1000
              AND round((CAST(n_chars AS DOUBLE)
                         - len(string_split(text, ' ')) + 1)
                        / len(string_split(text, ' ')), 4) BETWEEN 3.0 AND 10.0
              AND len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of', 'to', 'with'))) >= 2
              AND round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')), 4) >= 0.20) AS keep
      FROM documents
    ), rq AS (
      SELECT doc_id,
             (1.0 - CAST(len(list_distinct(string_split(text, '. '))) AS DOUBLE)
                    / len(string_split(text, '. '))) <= 0.30 AS keep
      FROM documents
    )
    SELECT g.doc_id,
           g.keep AS gopher_keep,
           r.keep AS repetition_keep,
           l.keep_below_corpus_mean AS surprisal_keep,
           (CAST(g.keep AS INT) + CAST(r.keep AS INT)
            + CAST(l.keep_below_corpus_mean AS INT) >= 2) AS ensemble_keep,
           (g.keep AND r.keep AND l.keep_below_corpus_mean) AS unanimous_keep
    FROM gq g
    JOIN rq r USING (doc_id)
    JOIN lmq l USING (doc_id)
"""


@register(
    "docs_quality_ensemble",
    oracle=_ENSEMBLE_ORACLE,
    tags=("llm", "quality", "ensemble"),
)
def docs_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote quality ensemble: the Gopher structural battery,
    the intra-doc repetition gate, and the unigram-LM surprisal filter
    each cast one vote per document; ``ensemble_keep`` is >= 2 of 3 and
    ``unanimous_keep`` is the conjunction. Production curation stacks
    filters exactly this way (C4 -> Gopher -> model-based, cf.
    RefinedWeb/FineWeb ablations) because single heuristics over- and
    under-kill different slices; the majority vote keeps each rule's
    false kills from compounding.

    Composes the three REGISTERED filters' own frames (the
    ``corpus_curation_funnel`` pattern), so a vote here is bit-identical
    to the standalone query's verdict. Cost is one extra doc_id join
    per member — each member is one corpus scan, and the LM member's
    explode/aggregate dominates exactly as it does standalone."""
    gopher = docs_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    from ..plans.textstats import docs_repetition_filter

    rep = docs_repetition_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("repetition_keep")
    )
    lm = docs_unigram_surprisal_filter(spark, sf_dir).select(
        "doc_id", F.col("keep_below_corpus_mean").alias("surprisal_keep")
    )
    votes = (
        F.col("gopher_keep").cast("int")
        + F.col("repetition_keep").cast("int")
        + F.col("surprisal_keep").cast("int")
    )
    return (
        gopher.join(rep, "doc_id")
        .join(lm, "doc_id")
        .select(
            "doc_id",
            "gopher_keep",
            "repetition_keep",
            "surprisal_keep",
            (votes >= 2).alias("ensemble_keep"),
            (
                F.col("gopher_keep")
                & F.col("repetition_keep")
                & F.col("surprisal_keep")
            ).alias("unanimous_keep"),
        )
    )


# --------------------------------------------------------------------
# Event-type Markov transition matrix
# --------------------------------------------------------------------


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, CAST(sum(n_transitions) AS BIGINT) AS n_from
      FROM t GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n_transitions,
           round(CAST(t.n_transitions AS DOUBLE) / tot.n_from, 6)
             AS p_transition
    FROM t JOIN tot USING (prev_type)
    """,
    tags=("events", "analytics"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type), with exact
    transition counts. The behavioral-analytics building block under
    next-action prediction, anomaly scoring (improbable transitions),
    and session-flow dashboards.

    Scale shape: ONE user-key shuffle for the lag window (users are
    the natural partition; no global ordering anywhere), then the
    (prev, next) count aggregate map-side combines into at most
    |event_types|**2 rows, and the row-normalizing totals join is over
    that same tiny frame (AQE broadcasts it). Ties in ``ts`` break on
    ``event_id`` so the sequence — and therefore every count — is
    deterministic in both engines."""
    e = load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    seq = e.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = t.groupBy("prev_type").agg(F.sum("n_transitions").alias("n_from"))
    return t.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("n_from"), 6
        ).alias("p_transition"),
    )


# --------------------------------------------------------------------
# Zipf rank-frequency report
# --------------------------------------------------------------------

ZIPF_TOP = 100


@register(
    "corpus_zipf_report",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), cnt AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY word
    ), top AS (
      SELECT word, n,
             CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank
      FROM cnt
      QUALIFY rank <= {ZIPF_TOP}
    ), f1 AS (
      SELECT max(n) AS f1 FROM top
    )
    SELECT rank, word, n,
           round(CAST(rank * n AS DOUBLE) / f1.f1, 6) AS zipf_ratio
    FROM top, f1
    """,
    tags=("llm", "textstats"),
)
def corpus_zipf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency report: the top-{ZIPF_TOP} corpus words with
    exact frequencies and the normalized rank*frequency product
    (Zipf's law predicts zipf_ratio ~= 1 at every rank; template spam
    and boilerplate bend the curve). The companion diagnostic to
    ``corpus_vocab_growth`` — growth says whether vocabulary is still
    arriving, this says whether the head distribution looks like
    natural text.

    Scale shape: one explode -> word-key count (map-side combine), the
    top-{ZIPF_TOP} selected by TakeOrderedAndProject (no global sort),
    then rank is derived from a triangular self-join of the
    materialized {ZIPF_TOP}-row frame — the constant-size-frame rank
    idiom used across this repo instead of a single-partition window.
    rank r = count of (n, word) pairs lexicographically at-or-ahead,
    which equals row_number because the ordering key is unique."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        cnt.orderBy(F.desc("n"), F.asc("word"))
        .limit(ZIPF_TOP)
        .localCheckpoint(eager=True)
    )
    ahead = top.select(F.col("n").alias("b_n"), F.col("word").alias("b_word"))
    ranked = (
        top.join(
            F.broadcast(ahead),
            (F.col("b_n") > F.col("n"))
            | ((F.col("b_n") == F.col("n")) & (F.col("b_word") <= F.col("word"))),
        )
        .groupBy("word", "n")
        .agg(F.count(F.lit(1)).cast("int").alias("rank"))
    )
    f1 = top.agg(F.max("n").alias("f1"))
    return ranked.crossJoin(F.broadcast(f1)).select(
        "rank",
        "word",
        "n",
        F.round((F.col("rank") * F.col("n")).cast("double") / F.col("f1"), 6).alias(
            "zipf_ratio"
        ),
    )


# --------------------------------------------------------------------
# Market-basket brand lift
# --------------------------------------------------------------------


@register(
    "lineitem_brand_basket_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), n_orders AS (
      SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM ob
    ), per_brand AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_orders FROM ob GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b,
           pa.n_orders AS n_orders_a, pb.n_orders AS n_orders_b, p.n_both,
           round(CAST(p.n_both AS DOUBLE) / n_orders.n, 6) AS support,
           round(CAST(p.n_both * n_orders.n AS DOUBLE)
                 / (pa.n_orders * pb.n_orders), 6) AS lift
    FROM pairs p
    JOIN per_brand pa ON pa.brand = p.brand_a
    JOIN per_brand pb ON pb.brand = p.brand_b
    CROSS JOIN n_orders
    """,
    tags=("analytics", "basket"),
)
def lineitem_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order baskets: for every
    brand pair, the co-occurrence support and lift
    (P(a,b) / (P(a)·P(b)), probabilities over orders). Lift > 1 =
    brands bought together more than chance — the classic
    cross-sell/recommender signal, and structurally the
    ``docs_collocations_pmi`` discounted-ratio shape lifted from token
    bigrams to baskets.

    Scale shape: the basket table is the DISTINCT (order, brand)
    projection (one shuffle); pair emission reuses the inverted-index
    posting emit with the ORDER as the posting key, so each order
    contributes |brands-in-order| choose 2 rows — bounded by the brand
    cardinality squared, never by order count. All counts are exact
    integers; support/lift are single IEEE divisions of exact integer
    products (bit-identical cross-engine). The per-brand totals and
    the scalar order count are broadcast-sized at any corpus size."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_orders = ob.agg(F.countDistinct("okey").alias("n"))
    per_brand = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_orders"))
    posts = ob.select(F.col("brand").alias("doc_id"), F.col("okey").alias("gram"))
    pairs = (
        posting_pair_emit(posts, (), None)
        .groupBy(
            F.col("doc_a").alias("brand_a"), F.col("doc_b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = per_brand.select(
        F.col("brand").alias("brand_a"), F.col("n_orders").alias("n_orders_a")
    )
    pb = per_brand.select(
        F.col("brand").alias("brand_b"), F.col("n_orders").alias("n_orders_b")
    )
    return (
        pairs.join(F.broadcast(pa), "brand_a")
        .join(F.broadcast(pb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_orders_a",
            "n_orders_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n"), 6).alias("support"),
            F.round(
                (F.col("n_both") * F.col("n")).cast("double")
                / (F.col("n_orders_a") * F.col("n_orders_b")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------
# Margin-based mining (Artetxe & Schwenk '19)
# --------------------------------------------------------------------

MARGIN_KNN = 4  # neighborhood size for the margin normalizer


@register(
    "embeddings_margin_mining",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hh
      FROM documents
    ), n AS (
      SELECT s.doc_id, s.hh,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_reduce(list_transform(
                    list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                    x -> x * x), (acc, x) -> acc + x)) AS nrm
      FROM split s JOIN embeddings e ON e.vec_id = s.doc_id
    ), pairs AS (
      SELECT t.doc_id AS test_doc_id, c.doc_id AS train_doc_id,
             CAST(round(round(list_reduce(list_transform(list_zip(t.v, c.v),
                                                         p -> p[1] * p[2]),
                                          (acc, x) -> acc + x)
                              / (t.nrm * c.nrm), 6) * 1000000.0, 0) AS BIGINT)
               AS c_micro
      FROM n t, n c
      WHERE t.hh >= 'e6' AND c.hh < 'cd'
    ), tknn AS (
      SELECT test_doc_id, CAST(sum(c_micro) AS BIGINT) AS mx4
      FROM (
        SELECT test_doc_id, c_micro,
               row_number() OVER (PARTITION BY test_doc_id
                                  ORDER BY c_micro DESC, train_doc_id) AS rk
        FROM pairs
      ) WHERE rk <= {MARGIN_KNN}
      GROUP BY test_doc_id
    ), cknn AS (
      SELECT train_doc_id, CAST(sum(c_micro) AS BIGINT) AS my4
      FROM (
        SELECT train_doc_id, c_micro,
               row_number() OVER (PARTITION BY train_doc_id
                                  ORDER BY c_micro DESC, test_doc_id) AS rk
        FROM pairs
      ) WHERE rk <= {MARGIN_KNN}
      GROUP BY train_doc_id
    ), scored AS (
      SELECT p.test_doc_id, p.train_doc_id,
             round(CAST(p.c_micro AS DOUBLE) / 1000000.0, 6) AS cosine_sim,
             round(2.0 * {MARGIN_KNN} * p.c_micro / (t.mx4 + c.my4), 6) AS margin
      FROM pairs p
      JOIN tknn t USING (test_doc_id)
      JOIN cknn c USING (train_doc_id)
    )
    SELECT test_doc_id, train_doc_id, cosine_sim, margin
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY test_doc_id ORDER BY margin DESC, train_doc_id
    ) = 1
    """,
    tags=("llm", "mining", "embedding"),
)
def embeddings_margin_mining(
    spark: SparkSession, sf_dir: str, test_ceiling: int | None = None
) -> DataFrame:
    """Margin-based candidate mining (Artetxe & Schwenk ACL'19, the
    LASER/CCMatrix bitext-mining scorer): each held-out doc's best
    TRAIN-side match ranked not by raw cosine but by the RATIO margin —
    cosine divided by the mean of both sides' k-NN cosine
    neighborhoods. Raw cosine retrieves hubs (vectors close to
    everything); the margin normalizes hubness away, which is why
    production pair mining uses it instead of a plain threshold.

    Scale shape: the held-out block broadcasts (same contract as
    ``docs_semantic_decontamination``); the pair frame carries only
    (ids, c_micro) — the cosine is 6-dp-rounded then micro-quantized
    to an exact BIGINT, so both k-NN neighborhood sums are
    order-independent exact integers and the margin is one IEEE
    division of exact integers (bit-identical cross-engine). The two
    top-k passes are windows PARTITIONED by doc id (spillable
    partition sorts, no global ordering); the train-side groups are
    bounded by the held-out size. The pair frame is checkpointed once
    for its three consumers (both k-NN passes + the final scoring).

    ``test_ceiling``: restrict the held-out side to doc_id below it —
    the scale-stress hook that pins the held-out set while the corpus
    inflates (the production shape: the query side does NOT grow with
    the corpus; fixture inflation would otherwise grow both sides and
    measure the intrinsically quadratic all-pairs frame)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", _split_hh(F.col("doc_id")).alias("hh")
    )
    if test_ceiling is not None:
        d = d.filter(
            (F.col("hh") < "e6") | (F.col("doc_id") < F.lit(test_ceiling))
        )
    e = load(spark, sf_dir, "embeddings")
    n = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            "hh",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select("doc_id", "hh", "v", _norm(F.col("v")).alias("nrm"))
    )
    test = n.filter(F.col("hh") >= "e6").select(
        F.col("doc_id").alias("test_doc_id"),
        F.col("v").alias("tv"),
        F.col("nrm").alias("tnrm"),
    )
    train = n.filter(F.col("hh") < "cd").select(
        F.col("doc_id").alias("train_doc_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    # Fan out the streamed train side before the quadratic dot-product
    # emit (guide §2.5): the single-row-group embeddings scan left the
    # whole |train|·|test| cosine computation on ONE task. Guarded on
    # the source scan width — a no-op at production scale (see
    # docs_semantic_decontamination, the same shape).
    train = fan_out_if_narrow(e, train)
    cos6 = F.round(
        _dot(F.col("tv"), F.col("cv")) / (F.col("tnrm") * F.col("cnrm")), 6
    )
    pairs = (
        train.join(F.broadcast(test), F.col("test_doc_id") != F.col("train_doc_id"))
        .select(
            "test_doc_id",
            "train_doc_id",
            F.round(cos6 * 1e6, 0).cast("bigint").alias("c_micro"),
        )
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window as W

    wt = W.partitionBy("test_doc_id").orderBy(
        F.desc("c_micro"), F.asc("train_doc_id")
    )
    tknn = (
        pairs.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= MARGIN_KNN)
        .groupBy("test_doc_id")
        .agg(F.sum("c_micro").alias("mx4"))
    )
    wc = W.partitionBy("train_doc_id").orderBy(
        F.desc("c_micro"), F.asc("test_doc_id")
    )
    cknn = (
        pairs.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= MARGIN_KNN)
        .groupBy("train_doc_id")
        .agg(F.sum("c_micro").alias("my4"))
    )
    margin = F.round(
        2.0 * MARGIN_KNN * F.col("c_micro") / (F.col("mx4") + F.col("my4")), 6
    )
    # tknn is bounded by the held-out size → broadcast; cknn is
    # CORPUS-sized, so no forced hint — it joins the pair frame on the
    # train_doc_id key (AQE broadcasts at fixture scale, degrades to a
    # hash shuffle join when the corpus outgrows the threshold).
    scored = (
        pairs.join(F.broadcast(tknn), "test_doc_id")
        .join(cknn, "train_doc_id")
        .select(
            "test_doc_id",
            "train_doc_id",
            F.round(F.col("c_micro").cast("double") / 1e6, 6).alias("cosine_sim"),
            margin.alias("margin"),
        )
        # One materialization for the two consumers below (argmax agg +
        # winner join): without the barrier the whole window/join
        # lineage plans TWICE and no exchange reuse rescues it at
        # runtime (measured +30% warm). Same size class as the `pairs`
        # checkpoint above — 4 slim columns per candidate pair.
        .localCheckpoint(eager=True)
    )
    # Argmax as a PRIMITIVE-long hash aggregate: max over the packed
    # (margin_micro, -train_doc_id) key — a struct max would plan as
    # SortAggregate (immutable aggregation buffer), the fleet-sweep-
    # forbidden shape. margin is already 6-dp rounded, so margin*1e6
    # re-rounded to 0 dp is an exact integer; ties on margin pick the
    # LOWER train_doc_id (the subtraction), matching the oracle's
    # ORDER BY margin DESC, train_doc_id. The winner row is recovered
    # with a broadcast join on the recomputed key (best is held-out-
    # sized); the two `scored` subtrees are identical, so ReuseExchange
    # dedups their shuffles inside the one physical plan.
    shift = F.lit(1 << 33).cast("bigint")
    lim = F.lit((1 << 62) // (1 << 33)).cast("bigint")
    m_micro = F.round(F.col("margin") * 1e6, 0).cast("bigint")
    packed = F.when(
        (F.abs(m_micro) < lim)
        & (F.col("train_doc_id") >= 0)
        & (F.col("train_doc_id") < shift),
        m_micro * shift - F.col("train_doc_id"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "embeddings_margin_mining: packed argmax key overflow "
                "(margin or train_doc_id outside the 2^33 pack range)"
            )
        )
    )
    best = (
        scored.select("test_doc_id", packed.alias("k"))
        .groupBy("test_doc_id")
        .agg(F.max("k").alias("k"))
    )
    return (
        scored.withColumn("k", packed)
        .join(F.broadcast(best), ["test_doc_id", "k"])
        .select("test_doc_id", "train_doc_id", "cosine_sim", "margin")
    )


# --------------------------------------------------------------------
# Edit-distance (Levenshtein) verification of near-dup candidates
# --------------------------------------------------------------------

# Char-level normalized edit similarity 1 - lev/max(len) at or above
# this confirms a word-shingle candidate as a true revision-style
# near-dup; below it the pair shares shingles but not document-level
# structure (block-reordered twins, boilerplate overlap). The
# fixture's near-dup pairs are all revisions (sim >= 0.92 at every
# SF, so every row verifies); the discriminating case — a
# sentence-REORDERED twin that keeps interior trigrams but scrambles
# char order — is pinned by the construction pytest.
EDIT_SIM_THRESHOLD = 0.5


@register(
    "docs_edit_similarity_pairs",
    oracle=f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    ), pairs AS (
{JACCARD_PAIRS_SQL}
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           levenshtein(ta.text, tb.text) AS edit_distance,
           round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                     / greatest(length(ta.text), length(tb.text)),
                 6) AS edit_similarity,
           round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                     / greatest(length(ta.text), length(tb.text)),
                 6) >= {EDIT_SIM_THRESHOLD} AS edit_verified
    FROM pairs p
    JOIN documents ta ON ta.doc_id = p.doc_a
    JOIN documents tb ON tb.doc_id = p.doc_b
    """,
    tags=("llm", "dedup", "similarity"),
)
def docs_edit_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the word-shingle near-dup
    candidates: every Jaccard >= 0.30 pair re-scored by normalized
    Levenshtein similarity ``1 - lev(a,b)/max(len(a),len(b))`` with an
    ``edit_verified`` verdict at 0.5. Set-based shingle overlap is
    order-blind — a doc and its shuffled-sentence twin score identical
    Jaccard — so revision-style dedup (the git-commit / CommonCrawl
    recrawl shape) confirms candidates with an ORDER-SENSITIVE char
    metric before collapsing clusters; cf. the exact-substring verify
    stage of Lee et al. '22's dedup pipeline.

    Scale shape: Levenshtein is O(len_a * len_b) per pair — far too
    expensive as a generator, exactly affordable as a VERIFIER because
    the pair set is already bounded by the inverted-index emit
    (Sigma_gram df^2 with the DF_CEILING hot-shingle cap). Full texts
    are joined for CANDIDATE PAIRS ONLY — the corpus text column never
    enters a shuffle; the two doc_id equi-joins degrade from AQE
    broadcast to hash-shuffle joins as the corpus outgrows the
    threshold, which is the correct 100 TB behavior. The DP runs
    JVM-side (codegen ``levenshtein``), no Python. Production knob at
    cluster scale: Spark's thresholded ``levenshtein(l, r, k)``
    variant abandons a pair early once the distance provably exceeds
    ``(1 - threshold) * max_len`` — an O(k * len) early exit; the
    unthresholded form here keeps the reported distance exact for the
    oracle.

    The oracle recomputes the FULL exact candidate set (no df
    ceiling), so hash equality doubles as a recall-neutrality proof of
    the cap on this corpus (the ``docs_jaccard_df_ceiling_contract``
    argument extended through the verify stage)."""
    d = load(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_from(spark, d, DF_CEILING)
    texts = d.select("doc_id", "text", F.length("text").alias("n_len"))
    ta = texts.alias("ta")
    tb = texts.alias("tb")
    lev = F.levenshtein(F.col("ta.text"), F.col("tb.text"))
    sim = F.round(
        F.lit(1.0)
        - lev.cast("double") / F.greatest(F.col("ta.n_len"), F.col("tb.n_len")),
        6,
    )
    return (
        pairs.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            lev.alias("edit_distance"),
            sim.alias("edit_similarity"),
            (sim >= EDIT_SIM_THRESHOLD).alias("edit_verified"),
        )
    )


# --------------------------------------------------------------------
# Distributed PCA: top principal component by power iteration
# --------------------------------------------------------------------

_PCA_SCALE = 1_000_000.0  # micro quantization of the per-row moments
PCA_POWER_ITERS = 128  # fixed: determinism is the parity contract; 128 steps
# also converge to cos >= 0.99 with numpy's top eigenvector even on the
# fixture's NEAR-DEGENERATE spectrum (top eigvals within 1.3% of each
# other — synthetic isotropic embeddings are the worst case for power
# iteration; any real anisotropic corpus converges far faster)


def _pca_oracle_sql(t_iters: int = PCA_POWER_ITERS) -> str:
    """The DuckDB twin of ``embeddings_pca_power``, generated the way
    the BPE oracle replays training: the covariance build and every
    power-iteration step unrolled as chained CTEs. All corpus sums are
    exact integers (order-free); every double fold afterwards is an
    ORDER-PINNED ``list_reduce`` (ascending index), bit-identical to
    the driver-side Python loop that accumulates in the same order —
    the ``knn_pq_adc`` order-pinned-fold discipline applied to linear
    algebra.

    Every CTE is ``AS MATERIALIZED``: each iteration references its
    predecessor twice (through w_t and the norm), so plain CTEs invite
    the optimizer to INLINE the chain — a 2^T expression blow-up that
    in practice surfaced as thousands of duplicate parquet scans
    ("Too many open files") before it surfaced as slowness."""
    d = EMB_DIM
    parts = [
        f"""
    WITH v AS MATERIALIZED (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), dims AS MATERIALIZED (
      SELECT unnest(generate_series(0, {d - 1})) AS i
    ), mom AS MATERIALIZED (
      SELECT d1.i AS i, d2.i AS j,
             CAST(sum(CAST(round(v.v[d1.i + 1] * v.v[d2.i + 1]
                                 * {_PCA_SCALE}, 0) AS BIGINT)) AS BIGINT) AS s
      FROM v, dims d1, dims d2
      GROUP BY d1.i, d2.i
    ), mn AS MATERIALIZED (
      SELECT d.i AS i,
             CAST(sum(CAST(round(v.v[d.i + 1] * {_PCA_SCALE}, 0)
                           AS BIGINT)) AS BIGINT) AS m
      FROM v, dims d
      GROUP BY d.i
    ), nn AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v
    ), c AS MATERIALIZED (
      SELECT mom.i, mom.j,
             (CAST(mom.s AS DOUBLE) / {_PCA_SCALE}) / nn.n
             - ((CAST(ma.m AS DOUBLE) / {_PCA_SCALE}) / nn.n)
               * ((CAST(mb.m AS DOUBLE) / {_PCA_SCALE}) / nn.n) AS cij
      FROM mom, nn, mn ma, mn mb
      WHERE ma.i = mom.i AND mb.i = mom.j
    ), v0 AS MATERIALIZED (
      SELECT i, CAST(1.0 AS DOUBLE) AS val FROM dims
    )"""
    ]
    for t in range(1, t_iters + 1):
        parts.append(
            f""", w{t} AS MATERIALIZED (
      SELECT c.i AS i,
             list_reduce(list(c.cij * p.val ORDER BY c.j),
                         (a, b) -> a + b) AS w
      FROM c JOIN v{t - 1} p ON p.i = c.j
      GROUP BY c.i
    ), n{t} AS MATERIALIZED (
      SELECT sqrt(list_reduce(list(w * w ORDER BY i), (a, b) -> a + b)) AS nrm
      FROM w{t}
    ), v{t} AS MATERIALIZED (
      SELECT i, w / nrm AS val FROM w{t}, n{t}
    )"""
        )
    parts.append(
        f""", q AS MATERIALIZED (
      SELECT c.i AS i,
             list_reduce(list(c.cij * p.val ORDER BY c.j),
                         (a, b) -> a + b) AS qv
      FROM c JOIN v{t_iters} p ON p.i = c.j
      GROUP BY c.i
    ), lam AS MATERIALIZED (
      SELECT list_reduce(list(p.val * q.qv ORDER BY p.i),
                         (a, b) -> a + b) AS l
      FROM v{t_iters} p JOIN q ON q.i = p.i
    ), tr AS MATERIALIZED (
      SELECT list_reduce(list(cij ORDER BY i), (a, b) -> a + b) AS t
      FROM c WHERE i = j
    )
    SELECT p.i AS dim_idx,
           round(p.val, 6) + 0.0 AS loading,
           round(lam.l, 6) + 0.0 AS eigenvalue,
           round(lam.l / tr.t, 6) + 0.0 AS explained_variance_ratio
    FROM v{t_iters} p, lam, tr"""
    )
    return "".join(parts)


@register(
    "embeddings_pca_power",
    oracle=_pca_oracle_sql(),
    tags=("llm", "embedding", "linalg"),
)
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — the ABTT / all-but-the-top preprocessing input (Mu &
    Viswanath ICLR'18: dominant directions of an embedding space are
    corpus-frequency artifacts; retrieval improves when the top PC is
    projected out) and the whitening step run before IVF/PQ training.

    Architecture is MLlib's own PCA shape (RowMatrix
    computeGramianMatrix → local eigensolve): the ONLY corpus-sized
    work is one scan that accumulates the d(d+1)-cell second-moment /
    mean block plus the row count — per row a 2145-cell integer array
    (the 2080-cell upper product triangle + 64 values + 1, each
    micro-quantized HALF_UP so
    the corpus sums are exact order-free integers), posexploded and
    hash-aggregated with map-side combine (2145 states per partition —
    the kmeans centroid-update shape, fleet-proven). The d×d
    eigensolve then runs DRIVER-side on the collected 2145 integers —
    bounded work at any corpus size, the sanctioned kmeans-style
    scalar collect.

    Determinism contract: covariance entries derive from exact
    integers with a pinned op order; the {PCA_POWER_ITERS}-step power
    iteration from the all-ones vector does every inner-product fold
    in ascending index order, so the Python loop here and the oracle's
    unrolled chained-CTE replay produce BIT-IDENTICAL doubles (the
    knn_pq_adc discipline). The final 6-dp rounding happens in SPARK
    (createDataFrame of raw doubles → F.round), keeping the
    engine-rounding pairing every other query already proves; ``+ 0.0``
    normalizes -0.0 on both engines. Fixed iteration count: the
    contract is determinism, not convergence — the pytest checks
    convergence against numpy's eigendecomposition separately.

    Scale ceilings, documented: per-row product micros are ≲1e8, so
    bigint sums hold to ~1e10 rows; past that, drop _PCA_SCALE to 1e4
    or accumulate in DECIMAL(38,0). The sums collect is 2145 values
    regardless of corpus size."""
    from ..catalog import load_fanned

    # load_fanned (guide §2.5 "input skew"): the single-row-group
    # fixture scan is ONE split, which serialized the dominant cost —
    # 2080 interpreted product+round cells PER ROW feeding the moment
    # aggregate — onto a single task (the r11 driver bench read 2.3×
    # WORSE at 32 cores than 8 for exactly this reason). The guard
    # makes it a no-op once the scan is wide; when it fires, the
    # shuffle is the raw 64-float rows — ~3% of the exploded volume.
    e = load_fanned(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    micro = lambda col: F.round(col * F.lit(_PCA_SCALE), 0).cast("bigint")  # noqa: E731
    # UPPER TRIANGLE only (j >= i): IEEE multiplication commutes, so
    # round(xi*xj*scale) is bit-identical to its mirror — the driver
    # reflects S across the diagonal and the oracle's full d² grid
    # still matches exactly. Halves the dominant explode (4096 → 2080
    # product cells per row; measured ~1.9× on the moment stage).
    prods = F.flatten(
        F.transform(
            F.col("v"),
            lambda xi, i: F.transform(
                F.slice(F.col("v"), i + 1, F.lit(EMB_DIM) - i),
                lambda xj: micro(xi * xj),
            ),
        )
    )
    vals = F.transform(F.col("v"), lambda xi: micro(xi))
    # Row-count cell doubles as the dimensionality guard: a ragged
    # embedding would silently misalign every moment cell, so it
    # raises instead (the packing-guard pattern).
    one = F.expr(
        f"if(size(v) = {EMB_DIM}, cast(1 as bigint),"
        " raise_error('embeddings_pca_power: embedding dim != 64 —"
        " moment cells would misalign'))"
    )
    cells = F.concat(prods, vals, F.array(one))
    sums = {
        r["pos"]: r["s"]
        for r in (
            e.select(F.posexplode(cells).alias("pos", "cell"))
            .groupBy("pos")
            .agg(F.sum("cell").alias("s"))
            .collect()
        )
    }
    d = EMB_DIM
    n_tri = d * (d + 1) // 2

    def tri(i: int, j: int) -> int:
        # position of (i, j) with j >= i in the row-major triangle
        return i * d - i * (i - 1) // 2 + (j - i)

    n_f = float(sums[n_tri + d])
    S = [
        [sums[tri(i, j)] if j >= i else sums[tri(j, i)] for j in range(d)]
        for i in range(d)
    ]
    M = [sums[n_tri + i] for i in range(d)]
    C = [
        [
            (S[i][j] / _PCA_SCALE) / n_f
            - ((M[i] / _PCA_SCALE) / n_f) * ((M[j] / _PCA_SCALE) / n_f)
            for j in range(d)
        ]
        for i in range(d)
    ]
    v = [1.0] * d
    for _ in range(PCA_POWER_ITERS):
        w = []
        for i in range(d):
            s = 0.0
            for j in range(d):
                s += C[i][j] * v[j]
            w.append(s)
        s = 0.0
        for i in range(d):
            s += w[i] * w[i]
        nrm = s**0.5
        v = [w[i] / nrm for i in range(d)]
    q = []
    for i in range(d):
        s = 0.0
        for j in range(d):
            s += C[i][j] * v[j]
        q.append(s)
    lam = 0.0
    for i in range(d):
        lam += v[i] * q[i]
    tr = 0.0
    for i in range(d):
        tr += C[i][i]
    rows = [(i, v[i], lam, lam / tr) for i in range(d)]
    raw = local_frame(spark, rows, "dim_idx bigint, l double, e double, r double")
    return raw.select(
        "dim_idx",
        (F.round("l", 6) + F.lit(0.0)).alias("loading"),
        (F.round("e", 6) + F.lit(0.0)).alias("eigenvalue"),
        (F.round("r", 6) + F.lit(0.0)).alias("explained_variance_ratio"),
    )


# --------------------------------------------------------------------
# Inter-source Jensen–Shannon divergence (mixture design)
# --------------------------------------------------------------------

# Shared feature space for the source distributions: the global top-V
# tokens plus one OOV bucket that absorbs the rest — distributions
# stay PROPER (sum to 1) and the pair computation is bounded at V+1
# terms regardless of corpus vocabulary (the pruned-LM discipline of
# docs_unigram_surprisal_filter applied to a divergence).
JS_TOP_V = 64
_JS_OOV = " OOV "  # contains spaces: impossible as a space-split token

@register(
    "docs_source_js_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), sc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    ), topv AS (
      SELECT tok FROM sc GROUP BY tok
      ORDER BY CAST(sum(c) AS BIGINT) DESC, tok
      LIMIT {JS_TOP_V}
    ), bucketed AS (
      SELECT sc.source,
             CASE WHEN topv.tok IS NOT NULL THEN sc.tok
                  ELSE '{_JS_OOV}' END AS bucket,
             CAST(sum(sc.c) AS BIGINT) AS c
      FROM sc LEFT JOIN topv ON topv.tok = sc.tok
      GROUP BY 1, 2
    ), totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS t FROM bucketed GROUP BY source
    ), buckets AS (
      SELECT DISTINCT bucket FROM bucketed
    ), grid AS (
      SELECT s.source, s.t, b.bucket, coalesce(bc.c, 0) AS c
      FROM totals s CROSS JOIN buckets b
      LEFT JOIN bucketed bc ON bc.source = s.source AND bc.bucket = b.bucket
    ), terms AS (
      SELECT a.source AS source_a, b.source AS source_b, a.t AS ta, b.t AS tb,
             CAST(round((
               CASE WHEN a.c > 0 THEN 0.5 * ((CAST(a.c AS DOUBLE) / CAST(a.t AS DOUBLE))
                    * ln(2.0 * (CAST(a.c AS DOUBLE) / CAST(a.t AS DOUBLE))
                         / ((CAST(a.c AS DOUBLE) / CAST(a.t AS DOUBLE))
                            + (CAST(b.c AS DOUBLE) / CAST(b.t AS DOUBLE)))))
                    ELSE 0.0 END
               + CASE WHEN b.c > 0 THEN 0.5 * ((CAST(b.c AS DOUBLE) / CAST(b.t AS DOUBLE))
                      * ln(2.0 * (CAST(b.c AS DOUBLE) / CAST(b.t AS DOUBLE))
                           / ((CAST(a.c AS DOUBLE) / CAST(a.t AS DOUBLE))
                              + (CAST(b.c AS DOUBLE) / CAST(b.t AS DOUBLE)))))
                      ELSE 0.0 END
             ) * 1000000.0, 0) AS BIGINT) AS term_micro
      FROM grid a JOIN grid b
        ON a.bucket = b.bucket AND a.source < b.source
      WHERE a.c > 0 OR b.c > 0
    )
    SELECT source_a, source_b, ta AS tokens_a, tb AS tokens_b,
           CAST(sum(term_micro) AS BIGINT) AS js_micro,
           round(CAST(CAST(sum(term_micro) AS BIGINT) AS DOUBLE)
                 / 1000000.0, 6) AS js_divergence
    FROM terms
    GROUP BY source_a, source_b, ta, tb
    """,
    tags=("llm", "mixture", "report"),
)
def docs_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every two sources'
    unigram distributions over a shared top-{JS_TOP_V}+OOV feature
    space — the similarity matrix mixture design reads before setting
    sampling weights (near-zero JS → sources are redundant, dedup or
    merge their quotas; high JS → genuinely complementary data;
    cf. the domain-similarity weighting of DoReMi/DSIR-style mixture
    tuning). JS over the OOV-completed space is proper (bounded by
    ln 2, symmetric, no infinities — unlike raw KL).

    Scale shape: the ONLY corpus-sized work is the (source, token)
    count — one map-side-combined shuffle over the Zipf-compressed
    token space (the corpus_vocabulary shape). The top-V vocabulary is
    a bounded TakeOrdered; bucketing collapses the per-source
    distributions to ≤ V+1 rows each, so the pair stage is
    |sources|²·(V+1)/2 rows of pure arithmetic — bounded by SOURCE
    cardinality (domains/datasets: tens to thousands), never by corpus
    size; at 1e3 sources it is ~3e7 in-memory rows, one aggregation.

    Determinism: per-term doubles are identical cross-engine (same
    integer counts, same pinned expression tree, one ln per side),
    quantized HALF_UP to micro-nats BEFORE the per-pair sum — the
    order-free integer-sum discipline of the LM family; the only
    emitted float is one rounded division. Top-V ties break on
    (count DESC, token ASC)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    sc = sc.localCheckpoint(eager=True)  # three consumers below
    topv = (
        sc.groupBy("tok")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(JS_TOP_V)
        .select("tok")
    )
    bucketed = (
        sc.join(F.broadcast(topv.withColumnRenamed("tok", "vtok")),
                F.col("tok") == F.col("vtok"), "left")
        .select(
            "source",
            F.when(F.col("vtok").isNotNull(), F.col("tok"))
            .otherwise(F.lit(_JS_OOV))
            .alias("bucket"),
            "c",
        )
        .groupBy("source", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    bucketed = bucketed.localCheckpoint(eager=True)  # bounded: sources×(V+1)
    totals = bucketed.groupBy("source").agg(F.sum("c").alias("t"))
    buckets = bucketed.select("bucket").distinct()
    grid = (
        totals.crossJoin(F.broadcast(buckets))
        .join(bucketed, ["source", "bucket"], "left")
        .select("source", "t", "bucket", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = grid.alias("a")
    b = grid.alias("b")

    def p(side: str) -> Column:
        return F.col(f"{side}.c").cast("double") / F.col(f"{side}.t").cast(
            "double"
        )

    def half(side: str) -> Column:
        ps = p(side)
        return F.when(
            F.col(f"{side}.c") > 0,
            F.lit(0.5) * (ps * F.log(F.lit(2.0) * ps / (p("a") + p("b")))),
        ).otherwise(F.lit(0.0))

    term_micro = F.round((half("a") + half("b")) * 1e6, 0).cast("bigint")
    terms = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .filter((F.col("a.c") > 0) | (F.col("b.c") > 0))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.t").alias("tokens_a"),
            F.col("b.t").alias("tokens_b"),
            term_micro.alias("term_micro"),
        )
    )
    return terms.groupBy("source_a", "source_b", "tokens_a", "tokens_b").agg(
        F.sum("term_micro").alias("js_micro"),
        F.round(F.sum("term_micro").cast("double") / 1e6, 6).alias(
            "js_divergence"
        ),
    )


# --------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing
# --------------------------------------------------------------------

_CCNET_BUCKETS = {1: "head", 2: "middle", 3: "tail"}


@register(
    "docs_ccnet_perplexity_buckets",
    oracle=f"""
    WITH scored AS (
{_LM_ORACLE}
    ), ranked AS (
      SELECT d.lang, s.doc_id, s.n_tokens, s.sum_surprisal_micro,
             s.mean_surprisal_micro,
             ntile(3) OVER (
               PARTITION BY d.lang
               ORDER BY (s.sum_surprisal_micro * 1000000) // s.n_tokens,
                        s.doc_id
             ) AS nt
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    )
    SELECT lang,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS token_mass,
           min(mean_surprisal_micro) AS mean_surprisal_min,
           max(mean_surprisal_micro) AS mean_surprisal_max
    FROM ranked
    GROUP BY lang, nt
    """,
    tags=("llm", "quality", "lm", "report"),
)
def docs_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. LREC'20): within
    each language, rank documents by LM surprisal and cut into
    perplexity terciles — 'head' is the cleanest third that CCNet
    ships as its top-quality slice, 'tail' the noisiest. The report
    carries doc/token mass and the surprisal range per (lang, bucket):
    the table a mixture designer reads to decide how deep into each
    language's quality distribution to sample.

    Composes the registered ``docs_unigram_surprisal_filter`` scores
    verbatim (same pruned-LM micro-nat integers), so the bucket
    boundaries inherit its exactness. Ranking inside a language uses
    an INTEGER key — ``sum_micro * 1e6 DIV n_tokens`` (exact
    fixed-point mean; ~1e16 at a 1000-token doc, far inside bigint) —
    tie-broken by doc_id, so ntile agrees bit-for-bit cross-engine;
    a float-division key could order equal means differently.

    Scale shape: scoring is the LM plan (one corpus explode, bounded
    broadcast LM, one per-doc rollup); the tercile cut is ONE window
    partitioned by lang — per-language spillable sorts, exactly the
    shard-by-language sort CCNet itself performs, never a global
    order. The final rollup is a ≤ 3·|langs|-group hash aggregate. At
    100 TB the sort is the honest cost of exact terciles; the cheaper
    variant (approximate boundaries from a per-lang surprisal
    histogram, then one broadcast-compare pass) trades boundary
    exactness for sortlessness and drops in without changing this
    report's schema."""
    from pyspark.sql import Window as W

    scored = docs_unigram_surprisal_filter(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.expr("sum_surprisal_micro * 1000000 DIV n_tokens")
    nt = F.ntile(3).over(
        W.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    )
    ranked = (
        scored.join(d, "doc_id")
        .select("lang", "n_tokens", "mean_surprisal_micro", nt.alias("nt"))
    )
    bucket = (
        F.when(F.col("nt") == 1, F.lit("head"))
        .when(F.col("nt") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.groupBy("lang", "nt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_mass"),
            F.min("mean_surprisal_micro").alias("mean_surprisal_min"),
            F.max("mean_surprisal_micro").alias("mean_surprisal_max"),
        )
        .select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            "token_mass",
            "mean_surprisal_min",
            "mean_surprisal_max",
        )
    )


# --------------------------------------------------------------------
# Dup-cluster size report: what dedup buys
# --------------------------------------------------------------------


def _cluster_report_oracle() -> str:
    from .clusters import _clusters_oracle

    # Reuse the registered clusters oracle verbatim as a subquery: the
    # recursive-CTE connected components IS the ground truth the
    # cluster assignments are already hash-proven against.
    clusters_sql = _clusters_oracle()
    return f"""
    WITH clus AS MATERIALIZED (
{clusters_sql}
    ), sized AS (
      SELECT c.doc_id, c.cluster_rep,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok
      FROM clus c JOIN documents d ON d.doc_id = c.doc_id
    ), percl AS (
      SELECT cluster_rep,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(ntok) AS BIGINT) AS tok,
             CAST(sum(CASE WHEN doc_id = cluster_rep THEN ntok
                           ELSE 0 END) AS BIGINT) AS rep_tok
      FROM sized GROUP BY cluster_rep
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
           CAST(sum(tok) AS BIGINT) AS token_mass,
           CAST(sum(tok - rep_tok) AS BIGINT) AS tokens_removed
    FROM percl
    GROUP BY sz
    """


@register(
    "docs_dup_cluster_report",
    oracle=_cluster_report_oracle(),
    tags=("llm", "dedup", "report"),
)
def docs_dup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph plus the dedup
    savings ledger: per cluster size, how many clusters, how many
    documents, and how many docs/tokens a keep-min-id dedup pass
    removes (the representative's tokens stay, the rest go). This is
    the report read BEFORE committing a dedup run — whether
    duplication lives in a few giant template clusters (df-cap /
    boilerplate territory) or many pairs (revision twins), and what
    fraction of the token budget dedup actually recovers; cluster_size
    = 1 rows carry the untouched singleton mass, so the table
    reconciles to the whole corpus.

    Composes the registered ``docs_dup_clusters`` assignments verbatim
    (min-label propagation; its oracle is reused as a subquery here,
    so this report's hash check re-proves the composition end to end).
    Scale shape: after clustering, ONE groupBy(cluster_rep) hash
    aggregate (corpus-keyed, map-side combined) and one ≤ max-size-
    group rollup — both integer-exact, no window, no sort."""
    from .clusters import docs_dup_clusters

    clus = docs_dup_clusters(spark, sf_dir)
    ntok = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("ntok")
    )
    sized = clus.join(ntok, "doc_id")
    percl = sized.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("ntok").alias("tok"),
        F.sum(
            F.when(F.col("doc_id") == F.col("cluster_rep"), F.col("ntok"))
            .otherwise(F.lit(0))
        ).alias("rep_tok"),
    )
    return percl.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
        F.sum(F.col("sz") - 1).alias("docs_removed"),
        F.sum("tok").alias("token_mass"),
        F.sum(F.col("tok") - F.col("rep_tok")).alias("tokens_removed"),
    ).select(
        F.col("sz").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "docs_removed",
        "token_mass",
        "tokens_removed",
    )


# --------------------------------------------------------------------
# b-bit MinHash calibration
# --------------------------------------------------------------------

BBIT_B = 2  # bits kept per minhash component (signature: 16×2 = 4 bytes/doc)
# Theory (Li & Koenig CACM'11): collision prob P = J + (1-J)/2^b, so
# J_hat = (m - 2^-b)/(1 - 2^-b); sd(J_hat) = sqrt(P(1-P)/k)/(1-2^-b)
# ~= 0.09 at J ~= 0.9, k = 16. Observed across SFs: mean |err| 0.03,
# max 0.31 over 256 pairs (a ~3.5 sigma tail) — ceiling 0.35 is ~4
# sigma: loose enough to be stable, tight enough that a broken bit
# extraction (wrong mask, sign leak) or debias formula fails it.
BBIT_EST_ERR_CEILING = 0.35


@register(
    "docs_minhash_bbit_calibration",
    oracle=f"""
    WITH g AS MATERIALIZED (
{GRAMS_CTE_SQL}
    ), posts AS MATERIALIZED (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), cand AS (
      -- candidate prefilter, PROVABLY lossless: jaccard > 0 requires a
      -- shared shingle, so the >= {JACCARD_THRESHOLD} result set of the
      -- quadratic all-pairs scan equals that of this gram equi-join
      -- (measured 548 s -> seconds at sf0.1)
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM posts a JOIN posts b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard,
           TRUE AS est_err_bounded
    FROM cand JOIN g a ON a.doc_id = cand.da
              JOIN g b ON b.doc_id = cand.db
    WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                6) >= {JACCARD_THRESHOLD}
    """,
    tags=("llm", "dedup", "lsh"),
)
def docs_minhash_bbit_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration contract for b-bit MinHash (Li & Koenig CACM'11):
    keep only the lowest {BBIT_B} bits of each of the {MINHASH_PERMS}
    minhash components — a {BBIT_B}*{MINHASH_PERMS}-bit signature, a
    16x storage cut against 64-bit components, which is what makes
    corpus-wide signature retention affordable at 100 TB — and verify
    the DEBIASED estimator J_hat = (m - 2^-b)/(1 - 2^-b) (m = bit-match
    rate; random collisions among the 2^b values inflate m, the
    formula subtracts them in expectation) stays within
    {BBIT_EST_ERR_CEILING} of the exact shingle Jaccard on every
    verified near-dup pair.

    Same contract architecture as the registered
    ``docs_minhash_estimate_calibration``: the estimate is
    signature-dependent (DuckDB has no xxhash64) so the BOUND boolean
    carries the cross-engine check while the exact Jaccard column is
    fully recomputed by the oracle; a wrong mask, sign leak into the
    kept bits, or missing debias term flips booleans and fails the
    driver hash. Scale shape: identical to the k-perm calibration —
    the only additions are a per-component AND mask and the bit-match
    fold, both codegen scalar work on the already-joined candidate
    pairs."""
    d = load(spark, sf_dir, "documents")
    g = hashed_shingle_table(spark, d)
    sig = g.select("doc_id", minhash_signature(F.col("grams")).alias("sig"))
    mask = (1 << BBIT_B) - 1
    bb = sig.select(
        "doc_id",
        F.transform("sig", lambda h: h.bitwiseAND(F.lit(mask))).alias("bb"),
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    ba = bb.select(F.col("doc_id").alias("doc_a"), F.col("bb").alias("bb_a"))
    bbb = bb.select(F.col("doc_id").alias("doc_b"), F.col("bb").alias("bb_b"))
    joined = (
        _lsh_candidates(g)
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .join(ba, "doc_a")
        .join(bbb, "doc_b")
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    exact = inter.cast("double") / union
    m = (
        F.size(
            F.filter(F.zip_with("bb_a", "bb_b", lambda a, b: a == b), lambda x: x)
        ).cast("double")
        / MINHASH_PERMS
    )
    inv = 1.0 / (1 << BBIT_B)
    est = (m - F.lit(inv)) / F.lit(1.0 - inv)
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(exact, 6).alias("jaccard"),
            (F.abs(est - exact) <= BBIT_EST_ERR_CEILING).alias(
                "est_err_bounded"
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------
# Sortless CCNet cut: histogram boundaries + agreement contract
# --------------------------------------------------------------------

# Histogram bin width in the ranking key's FIXED-POINT units (the key
# is mean surprisal in micro-nats scaled by a further 1e6, ~3.4e12 on
# the fixtures). 2^26 units ≈ 67 micro-nats of mean surprisal →
# 79–187 occupied bins per language across the SFs. The width must
# track the DENSE part of the distribution, not the range: surprisal
# is peaked, so a 2^32 width atomizes the tails into singleton bins
# while lumping ~1/3 of a language into the ONE bin straddling the
# tercile edge (measured agreement collapsed to 0.60–0.80); at 2^26
# the edge bins hold tens of docs and min agreement is 0.971 at every
# SF — while the (lang, bin) table stays trivially broadcastable.
CCNET_HIST_BIN = 1 << 26
CCNET_AGREEMENT_FLOOR = 0.9

_CCNET_KEY_SQL = "(s.sum_surprisal_micro * 1000000) // s.n_tokens"


@register(
    "docs_ccnet_histogram_cut_contract",
    oracle=f"""
    WITH scored AS (
{_LM_ORACLE}
    ), keyed AS (
      SELECT d.lang, s.doc_id,
             {_CCNET_KEY_SQL} AS k,
             ({_CCNET_KEY_SQL}) // {CCNET_HIST_BIN} AS bin
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ), exact AS (
      SELECT lang, doc_id,
             ntile(3) OVER (PARTITION BY lang ORDER BY k, doc_id) AS nt
      FROM keyed
    ), hist AS (
      SELECT lang, bin, CAST(count(*) AS BIGINT) AS c
      FROM keyed GROUP BY lang, bin
    ), cum AS (
      SELECT lang, bin, c,
             CAST(sum(c) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cm,
             CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM hist
    ), cuts AS (
      SELECT lang,
             min(CASE WHEN cm * 3 >= n THEN bin END) AS b1,
             min(CASE WHEN cm * 3 >= 2 * n THEN bin END) AS b2
      FROM cum GROUP BY lang
    ), approx AS (
      SELECT k.lang, k.doc_id,
             CASE WHEN k.bin <= c.b1 THEN 1
                  WHEN k.bin <= c.b2 THEN 2
                  ELSE 3 END AS ab
      FROM keyed k JOIN cuts c ON c.lang = k.lang
    )
    SELECT e.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN e.nt = a.ab THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           round(CAST(sum(CASE WHEN e.nt = a.ab THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS agreement_rate,
           (CAST(sum(CASE WHEN e.nt = a.ab THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*)) >= {CCNET_AGREEMENT_FLOOR} AS agreement_ok,
           min(c.b1) AS head_cut_bin, min(c.b2) AS tail_cut_bin
    FROM exact e
    JOIN approx a ON a.lang = e.lang AND a.doc_id = e.doc_id
    JOIN cuts c ON c.lang = e.lang
    GROUP BY e.lang
    """,
    tags=("llm", "quality", "lm", "contract"),
)
def docs_ccnet_histogram_cut_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SORTLESS production variant of the CCNet tercile cut, with
    its exactness cost measured: instead of sorting every language
    shard (``docs_ccnet_perplexity_buckets``), build a bounded
    (lang, bin) surprisal HISTOGRAM ({CCNET_HIST_BIN}-micro-nat bins),
    read the tercile boundary bins off the cumulative counts, and
    assign buckets with one broadcast-compare pass — no corpus-sized
    sort anywhere, the histogram-quantile idiom every engine ships for
    exactly this situation. Only documents inside a boundary BIN can
    disagree with the exact cut, so the per-language agreement rate is
    structurally ≥ 1 − 2·(max bin mass)/n; the contract pins it ≥
    {CCNET_AGREEMENT_FLOOR} (measured ≥ 0.971 at every SF).

    This is the ``knn_lsh_recall_eval`` / ``semdedup_ivf`` contract
    pattern: the eval query itself CONTAINS the exact per-lang sort to
    compare against (that is the price of the evaluation, run once to
    qualify the approx path); production runs only the histogram side.
    Everything — keys, bins, cumulative counts, boundary bins,
    both assignments — is exact integer arithmetic, so the oracle
    replays the ENTIRE contract including the agreement numbers, not
    just a verdict boolean.

    Scale shape of the approx path: one (lang, bin) hash aggregate
    (map-side combined, bounded output), cumulative sums over the
    BOUNDED histogram frame, one broadcast cuts join. The ntile side
    exists only inside this eval."""
    from pyspark.sql import Window as W

    scored = docs_unigram_surprisal_filter(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    key = F.expr("sum_surprisal_micro * 1000000 DIV n_tokens")
    keyed = (
        scored.join(d, "doc_id")
        .select("lang", "doc_id", key.alias("k"))
        .withColumn("bin", F.expr(f"k DIV {CCNET_HIST_BIN}"))
        .localCheckpoint(eager=True)  # feeds exact, hist, and approx
    )
    nt = F.ntile(3).over(
        W.partitionBy("lang").orderBy(F.col("k").asc(), F.col("doc_id").asc())
    )
    exact = keyed.select("lang", "doc_id", nt.alias("nt"))
    hist = keyed.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("lang").orderBy("bin")
    cum = hist.select(
        "lang",
        "bin",
        F.sum("c").over(wcum).alias("cm"),
        F.sum("c").over(W.partitionBy("lang")).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cm") * 3 >= F.col("n"), F.col("bin"))).alias("b1"),
        F.min(
            F.when(F.col("cm") * 3 >= 2 * F.col("n"), F.col("bin"))
        ).alias("b2"),
    )
    approx = keyed.join(F.broadcast(cuts), "lang").select(
        "lang",
        "doc_id",
        F.when(F.col("bin") <= F.col("b1"), F.lit(1))
        .when(F.col("bin") <= F.col("b2"), F.lit(2))
        .otherwise(F.lit(3))
        .alias("ab"),
    )
    joined = exact.join(approx, ["lang", "doc_id"]).join(
        F.broadcast(cuts), "lang"
    )
    agree = F.sum(
        F.when(F.col("nt") == F.col("ab"), F.lit(1)).otherwise(F.lit(0))
    )
    n = F.count(F.lit(1))
    rate = agree.cast("double") / n
    return joined.groupBy("lang").agg(
        n.alias("n_docs"),
        agree.alias("n_agree"),
        F.round(rate, 6).alias("agreement_rate"),
        (rate >= CCNET_AGREEMENT_FLOOR).alias("agreement_ok"),
        F.min("b1").alias("head_cut_bin"),
        F.min("b2").alias("tail_cut_bin"),
    )


# --------------------------------------------------------------------
# Per-brand ABC (Pareto) revenue classification
# --------------------------------------------------------------------


@register(
    "lineitem_brand_abc_classes",
    oracle="""
    WITH pr AS (
      SELECT p.p_brand, l.l_partkey,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,4))) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, l.l_partkey
    ), ranked AS (
      SELECT p_brand, l_partkey, rev,
             SUM(rev) OVER (
               PARTITION BY p_brand ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(rev) OVER (PARTITION BY p_brand) AS total
      FROM pr
    ), classed AS (
      SELECT p_brand, l_partkey, rev,
             CASE WHEN cum * 10 <= total * 8 THEN 'A'
                  WHEN cum * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             total
      FROM ranked
    )
    SELECT p_brand, abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(rev) AS DOUBLE), 2) AS class_revenue,
           round(CAST(SUM(rev) AS DOUBLE) / CAST(min(total) AS DOUBLE), 6)
             AS revenue_share
    FROM classed
    GROUP BY p_brand, abc_class
    """,
    tags=("analytics", "report"),
)
def lineitem_brand_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification per brand: parts ranked by
    discounted revenue within their brand, classified A while the
    cumulative share (self-inclusive) stays ≤ 80%, B to 95%, C after —
    the classic 80/15/5 revenue-concentration report inventory and
    procurement planning runs (the collocation→basket-lift lineage
    continued).

    Exactness: per-part revenue accumulates in DECIMAL(18,4) (the
    fleet's TPC-H discipline), the cumulative and total are DECIMAL
    window sums, and the class cuts are cross-multiplied decimal
    integer comparisons (``cum·10 ≤ total·8``) — no float enters the
    classification, so the A/B/C assignment is bit-free of rounding
    drift; ties rank by (revenue DESC, partkey). The only floats are
    the two rounded report columns.

    Scale shape: lineitem collapses FIRST to one row per (brand,
    partkey) — a map-side-combined hash aggregate keyed like the scan
    — so the window input is |parts|, not |lineitem|; the per-brand
    cumulative is a spillable bounded-partition sort (25 brands on the
    fixtures; real catalogs are thousands — still parts/brand-sized
    groups, never corpus-sized). Final rollup is a ≤ 3·|brands|-group
    hash aggregate."""
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
        ).alias("rev1"),
    )
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    pr = (
        li.join(p, "l_partkey")
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum("rev1").alias("rev"))
    )
    wcum = (
        W.partitionBy("p_brand")
        .orderBy(F.desc("rev"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("p_brand")
    ranked = pr.select(
        "p_brand",
        "l_partkey",
        "rev",
        F.sum("rev").over(wcum).alias("cum"),
        F.sum("rev").over(wtot).alias("total"),
    )
    cls = (
        F.when(F.col("cum") * 10 <= F.col("total") * 8, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    classed = ranked.select("p_brand", "rev", "total", cls.alias("abc_class"))
    return classed.groupBy("p_brand", "abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("rev").cast("double"), 2).alias("class_revenue"),
        F.round(
            F.sum("rev").cast("double") / F.min("total").cast("double"), 6
        ).alias("revenue_share"),
    )


# --------------------------------------------------------------------
# Quality-filter agreement matrix (Cohen's kappa)
# --------------------------------------------------------------------

_FILTER_PAIRS = (
    ("gopher", "repetition"),
    ("gopher", "surprisal"),
    ("repetition", "surprisal"),
)


def _agreement_pair_sql(a: str, b: str) -> str:
    ka, kb = f"{a}_keep", f"{b}_keep"
    return f"""
      SELECT '{a}' AS filter_a, '{b}' AS filter_b,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN {ka} AND {kb} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both_keep,
             CAST(sum(CASE WHEN NOT {ka} AND NOT {kb} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both_drop,
             CAST(sum(CASE WHEN {ka} AND NOT {kb} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_a,
             CAST(sum(CASE WHEN NOT {ka} AND {kb} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_b
      FROM votes
"""


@register(
    "docs_quality_filter_agreement",
    oracle=f"""
    WITH votes AS ({_ENSEMBLE_ORACLE}
    ), pairs AS (
{" UNION ALL ".join(_agreement_pair_sql(a, b) for a, b in _FILTER_PAIRS)}
    )
    SELECT filter_a, filter_b, n_docs, n_both_keep, n_both_drop,
           n_only_a, n_only_b,
           round(CAST(n_both_keep + n_both_drop AS DOUBLE)
                 / CAST(n_docs AS DOUBLE), 6) AS agreement_rate,
           CASE WHEN 1.0
                     - ((CAST(n_both_keep + n_only_a AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))
                        * (CAST(n_both_keep + n_only_b AS DOUBLE)
                           / CAST(n_docs AS DOUBLE))
                        + (1.0 - (CAST(n_both_keep + n_only_a AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))
                          * (1.0 - (CAST(n_both_keep + n_only_b AS DOUBLE)
                                    / CAST(n_docs AS DOUBLE)))) = 0.0
                THEN NULL
                ELSE round(
                  ((CAST(n_both_keep + n_both_drop AS DOUBLE)
                    / CAST(n_docs AS DOUBLE))
                   - ((CAST(n_both_keep + n_only_a AS DOUBLE)
                       / CAST(n_docs AS DOUBLE))
                      * (CAST(n_both_keep + n_only_b AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))
                      + (1.0 - (CAST(n_both_keep + n_only_a AS DOUBLE)
                                / CAST(n_docs AS DOUBLE)))
                        * (1.0 - (CAST(n_both_keep + n_only_b AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))))
                  / (1.0
                     - ((CAST(n_both_keep + n_only_a AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))
                        * (CAST(n_both_keep + n_only_b AS DOUBLE)
                           / CAST(n_docs AS DOUBLE))
                        + (1.0 - (CAST(n_both_keep + n_only_a AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))
                          * (1.0 - (CAST(n_both_keep + n_only_b AS DOUBLE)
                                    / CAST(n_docs AS DOUBLE))))), 6)
           END AS cohen_kappa
    FROM pairs
    """,
    tags=("llm", "quality", "report"),
)
def docs_quality_filter_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise agreement matrix of the three registered quality
    filters — raw agreement rate AND Cohen's kappa (chance-corrected:
    two filters that each keep 95% of docs agree 90%+ by luck alone;
    kappa subtracts that). This is the redundancy report read before
    shipping a filter ensemble: kappa near 1 means a filter adds no
    information and its compute can be dropped; kappa near 0 means the
    filters kill DIFFERENT slices and the majority vote
    (``docs_quality_ensemble``) is actually load-bearing. Cf. the
    filter-ablation methodology of the RefinedWeb/FineWeb reports.

    Composes the ensemble's vote frame verbatim, checkpointed once for
    the three pair aggregates (the ``corpus_curation_funnel``
    union-of-scalar-aggregates shape). All contingency counts are
    exact integers; agreement and kappa are the only floats, computed
    from those integers with a pinned expression tree (kappa =
    (po − pe)/(1 − pe) with pe from the marginal keep rates), NULL
    when chance agreement is exactly 1 (degenerate marginals).
    Scale: beyond the members' own scans, one checkpointed |corpus|
    frame and three map-side-combinable scalar aggregates."""
    v = docs_quality_ensemble(spark, sf_dir).localCheckpoint(eager=True)
    out = None
    for a, b in _FILTER_PAIRS:
        ka, kb = F.col(f"{a}_keep"), F.col(f"{b}_keep")
        cnt = lambda c: F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0)))  # noqa: E731
        agg = v.agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(ka & kb).alias("n_both_keep"),
            cnt(~ka & ~kb).alias("n_both_drop"),
            cnt(ka & ~kb).alias("n_only_a"),
            cnt(~ka & kb).alias("n_only_b"),
        )
        nd = F.col("n_docs").cast("double")
        po = (F.col("n_both_keep") + F.col("n_both_drop")).cast("double") / nd
        pa = (F.col("n_both_keep") + F.col("n_only_a")).cast("double") / nd
        pb = (F.col("n_both_keep") + F.col("n_only_b")).cast("double") / nd
        pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
        kappa = F.when(F.lit(1.0) - pe == 0.0, F.lit(None).cast("double")).otherwise(
            F.round((po - pe) / (F.lit(1.0) - pe), 6)
        )
        row = agg.select(
            F.lit(a).alias("filter_a"),
            F.lit(b).alias("filter_b"),
            "n_docs",
            "n_both_keep",
            "n_both_drop",
            "n_only_a",
            "n_only_b",
            F.round(po, 6).alias("agreement_rate"),
            kappa.alias("cohen_kappa"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------
# Snapshot diff: change-data-feed between table versions
# --------------------------------------------------------------------


@register(
    "orders_snapshot_diff",
    oracle=f"""
    WITH merged AS ({_MERGE_ORACLE}
    ), old AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             round(o_totalprice, 2) AS o_totalprice
      FROM orders
    ), d AS (
      SELECT coalesce(o.o_orderkey, m.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                  WHEN m.o_orderkey IS NULL THEN 'deleted'
                  ELSE 'updated' END AS change_type,
             CASE WHEN o.o_orderkey IS NULL OR m.o_orderkey IS NULL THEN 0
                  ELSE (CASE WHEN o.o_custkey IS DISTINCT FROM m.o_custkey
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN o.o_orderstatus
                               IS DISTINCT FROM m.o_orderstatus
                               THEN 2 ELSE 0 END)
                       + (CASE WHEN o.o_totalprice
                               IS DISTINCT FROM m.o_totalprice
                               THEN 4 ELSE 0 END)
             END AS changed_mask
      FROM old o FULL OUTER JOIN merged m ON m.o_orderkey = o.o_orderkey
    )
    SELECT o_orderkey, change_type, changed_mask,
           CAST(bit_count(changed_mask) AS INT) AS n_changed_cols
    FROM d
    WHERE change_type <> 'updated' OR changed_mask > 0
    """,
    tags=("cdc", "snapshot", "report"),
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two versions of the orders table: the
    pre-merge snapshot vs the post-``merge_into_orders`` snapshot,
    read back as classified per-key deltas (inserted / deleted /
    updated + a changed-column bitmask). This is the READ side of the
    CDC story whose write side is the registered MERGE: Delta CDF /
    ``table_changes`` semantics built from one full-outer key join —
    and because the merge feed is deterministic, the diff must recover
    EXACTLY the update/delete/insert slices the feed carried, which is
    what the oracle (and the SnapshotTable round-trip pytest) proves.

    The old side pins ``round(o_totalprice, 2)`` to match the merge
    output's declared 2-dp contract, so passthrough rows compare
    bit-equal and only genuinely-updated columns set mask bits (bit 0
    = custkey, 1 = status, 2 = totalprice; updates set 6: status +
    price, custkey passes through).

    Scale: ``operators/snapshots.snapshot_diff`` — one key-partitioned
    full-outer shuffle join (bucket both versions for co-location),
    output bounded by change volume."""
    from ..operators.merge_into import merge_into_orders
    from ..operators.snapshots import snapshot_diff

    old = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )
    new = merge_into_orders(spark, sf_dir)
    return snapshot_diff(old, new, "o_orderkey")


# --------------------------------------------------------------------
# Incremental view maintenance of a gold aggregate
# --------------------------------------------------------------------


@register(
    "orders_gold_ivm",
    oracle=f"""
    WITH merged AS ({_MERGE_ORACLE}
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS total_spend
    FROM merged
    GROUP BY o_custkey
    """,
    tags=("cdc", "aggregate", "incremental"),
)
def orders_gold_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM) of a per-customer gold
    aggregate under the deterministic CDC feed: instead of
    re-aggregating the merged table, the maintained view is computed
    as ``old aggregate ⊕ delta contributions`` — updates subtract the
    old row from its (possibly different) old group and add the new
    row to its new group, deletes subtract, inserts add; groups whose
    count reaches zero are dropped. The ORACLE recomputes the
    aggregate from scratch over the merged table, so the driver's
    hash equality is the IVM correctness theorem itself: incremental
    maintenance ≡ full recompute, exactly — which is only provable
    because the measures accumulate in DECIMAL (exact, order-free;
    a double-summed view would drift from the recompute by
    accumulation order).

    This is the production shape for 100 TB gold tables: the
    maintenance join touches the FEED and the affected groups only —
    cost scales with change volume, not table size — while the
    recompute the oracle performs is exactly what IVM exists to
    avoid. Cf. the DBSP/differential-dataflow formulation of
    incremental aggregation; SUM/COUNT are the abelian-group case
    where ⊕ is plain addition.

    Plan shape: one groupBy for the base aggregate (in production:
    the stored view, read not computed), one key join feed→old (feed
    is the small side, AQE-broadcast), one groupBy over the
    feed-sized delta frame, one outer join of view ⊕ delta."""
    from ..operators.merge_into import orders_change_feed

    old = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2)
        .cast("decimal(18,2)")
        .alias("o_totalprice"),
    )
    # In production this is the STORED gold view; here it is derived
    # once from the pre-merge snapshot.
    agg0 = old.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n0"), F.sum("o_totalprice").alias("s0")
    )
    feed = orders_change_feed(spark, sf_dir).select(
        "o_orderkey",
        "op",
        F.col("o_custkey").alias("new_custkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("new_price"),
    )
    # old-row values for matched U/D rows: a feed-sized key join
    joined = feed.join(
        old.select(
            "o_orderkey",
            F.col("o_custkey").alias("old_custkey"),
            F.col("o_totalprice").alias("old_price"),
        ),
        "o_orderkey",
        "left",
    )
    minus_old = joined.filter(
        (F.col("op").isin("U", "D")) & F.col("old_custkey").isNotNull()
    ).select(
        F.col("old_custkey").alias("o_custkey"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("old_price")).alias("ds"),
    )
    plus_new_u = joined.filter(
        (F.col("op") == "U") & F.col("old_custkey").isNotNull()
    ).select(
        F.col("new_custkey").alias("o_custkey"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("new_price").alias("ds"),
    )
    plus_new_i = joined.filter(
        (F.col("op") == "I") & F.col("old_custkey").isNull()
    ).select(
        F.col("new_custkey").alias("o_custkey"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("new_price").alias("ds"),
    )
    delta = (
        minus_old.unionByName(plus_new_u)
        .unionByName(plus_new_i)
        .groupBy("o_custkey")
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    merged = agg0.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (
            F.coalesce(F.col("n0"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("s0"), F.lit(0).cast("decimal(28,2)"))
            + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(28,2)"))
        ).alias("spend"),
    )
    return merged.filter(F.col("n_orders") > 0).select(
        "o_custkey",
        "n_orders",
        F.round(F.col("spend").cast("double"), 2).alias("total_spend"),
    )


# --------------------------------------------------------------------
# Ordered conversion funnel with a conversion window
# --------------------------------------------------------------------

# Step k+1 must land within this many hours of the LATEST preceding
# qualifying step-k event — the conversion-window semantic every
# product-analytics funnel (Amplitude/Mixpanel-style) implements.
# Without it the fixtures (and any long-lived user) trivially reach
# every step; 12 h yields real attrition at all three SFs
# (sf0.01: 150 -> 136 -> 58 users).
FUNNEL_WINDOW_HOURS = 12
FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "events_conversion_funnel",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_view
      FROM events
    ), s2 AS (
      SELECT *, CASE WHEN event_type = 'click' AND last_view IS NOT NULL
                      AND ts <= last_view
                              + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
                     THEN ts END AS qual_click
      FROM seq
    ), s3 AS (
      SELECT *, max(qual_click) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_qual_click
      FROM s2
    ), u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS r1,
             max(CASE WHEN qual_click IS NOT NULL THEN 1 ELSE 0 END) AS r2,
             max(CASE WHEN event_type = 'purchase'
                       AND last_qual_click IS NOT NULL
                       AND ts <= last_qual_click
                               + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
                      THEN 1 ELSE 0 END) AS r3
      FROM u_src GROUP BY user_id
    ), tot AS (
      SELECT CAST(sum(r1) AS BIGINT) AS n1,
             CAST(sum(r2) AS BIGINT) AS n2,
             CAST(sum(r3) AS BIGINT) AS n3
      FROM u
    )
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_users,
           CAST(NULL AS DOUBLE) AS conv_from_prev,
           CASE WHEN n1 > 0
                THEN round(CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
           END AS conv_from_first
    FROM tot
    UNION ALL
    SELECT CAST(2 AS INT), 'click', n2,
           CASE WHEN n1 > 0
                THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END,
           CASE WHEN n1 > 0
                THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END
    FROM tot
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', n3,
           CASE WHEN n2 > 0
                THEN round(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) END,
           CASE WHEN n1 > 0
                THEN round(CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) END
    FROM tot
    """.replace("u_src", "s3"),
    tags=("events", "analytics", "funnel"),
)
def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase conversion funnel with a
    {FUNNEL_WINDOW_HOURS}-hour conversion window: a click counts only
    within the window of the LATEST strictly-preceding view, a
    purchase only within the window of the latest strictly-preceding
    qualifying click. Step counts are distinct users reaching each
    step in order, plus step-over-step and step-over-top conversion
    rates — the product-analytics primitive under every funnel
    dashboard, and the sequential-pattern shape (ordered events with
    gap constraints) the registered sessionization/markov queries
    don't cover.

    Exactness: user counts are integer; rates divide two BIGINTs as
    doubles and round to 6, guarded against empty-step division so
    both engines agree on NULL. Sequence order ties break on
    ``event_id``, so qualifying sets are deterministic cross-engine.

    Scale (100 TB): ONE user-key shuffle; both running-max windows
    ride the SAME (user_id, ts, event_id) sort — Catalyst plans one
    Exchange + one Sort, then two Window operators back to back (no
    re-shuffle, verified in the staged plan sweep). The per-user
    rollup map-side combines on the already-partitioned key; the
    final 3-row report is a scalar aggregate stacked out, which is
    the one benign single-partition stage. No self-join of events to
    events (the naive funnel join), no global sort, no Python."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    preceding = order.rowsBetween(W.unboundedPreceding, -1)
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    s1 = e.select(
        "user_id",
        "ts",
        "event_type",
        F.max(F.when(F.col("event_type") == "view", F.col("ts")))
        .over(preceding)
        .alias("last_view"),
        F.col("event_id"),
    )
    s2 = s1.withColumn(
        "qual_click",
        F.when(
            (F.col("event_type") == "click")
            & F.col("last_view").isNotNull()
            & (F.col("ts") <= F.col("last_view") + win),
            F.col("ts"),
        ),
    )
    s3 = s2.withColumn(
        "last_qual_click", F.max("qual_click").over(preceding)
    )
    users = s3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("r1"),
        F.max(
            F.when(F.col("qual_click").isNotNull(), 1).otherwise(0)
        ).alias("r2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("last_qual_click").isNotNull()
                & (F.col("ts") <= F.col("last_qual_click") + win),
                1,
            ).otherwise(0)
        ).alias("r3"),
    )
    tot = users.agg(
        F.sum("r1").alias("n1"),
        F.sum("r2").alias("n2"),
        F.sum("r3").alias("n3"),
    )
    return tot.selectExpr(
        """stack(3,
             CAST(1 AS INT), 'view', n1,
             CAST(NULL AS DOUBLE),
             CASE WHEN n1 > 0
                  THEN round(CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             END,
             CAST(2 AS INT), 'click', n2,
             CASE WHEN n1 > 0
                  THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             END,
             CASE WHEN n1 > 0
                  THEN round(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             END,
             CAST(3 AS INT), 'purchase', n3,
             CASE WHEN n2 > 0
                  THEN round(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
             END,
             CASE WHEN n1 > 0
                  THEN round(CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             END
           ) AS (step, step_name, n_users, conv_from_prev,
                 conv_from_first)"""
    )


# --------------------------------------------------------------------
# Blocked sorted-neighborhood candidate pairs (entity resolution)
# --------------------------------------------------------------------

# Sorted-neighborhood method (Hernandez & Stolfo SIGMOD'95): sort
# records by a key, slide a fixed window, compare only records within
# it. Blocking on the first name word first keeps every window-local
# sort parallel (no global ordering anywhere), which is how SNM is
# actually deployed at scale.
SNM_WINDOW = 4
# emit pairs with name-word Jaccard >= 2/5; the filter compares
# cross-multiplied integers so the cut is exact in both engines
SNM_NUM, SNM_DEN = 2, 5


@register(
    "part_blocking_pairs",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name,
             string_split(p_name, ' ')[1] AS block,
             list_distinct(string_split(p_name, ' ')) AS words,
             CAST(row_number() OVER (
               PARTITION BY string_split(p_name, ' ')[1]
               ORDER BY p_name, p_partkey
             ) AS BIGINT) AS rnk
      FROM part
    ), pairs AS (
      SELECT a.block,
             a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
             CAST(len(list_intersect(a.words, b.words)) AS INT)
               AS shared_words,
             CAST(len(a.words) + len(b.words)
                  - len(list_intersect(a.words, b.words)) AS INT)
               AS union_words
      FROM p a JOIN p b
        ON a.block = b.block
       AND b.rnk BETWEEN a.rnk + 1 AND a.rnk + {SNM_WINDOW}
    )
    SELECT block, a_partkey, b_partkey, shared_words, union_words,
           round(CAST(shared_words AS DOUBLE)
                 / CAST(union_words AS DOUBLE), 6) AS name_jaccard
    FROM pairs
    WHERE shared_words * {SNM_DEN} >= union_words * {SNM_NUM}
    """,
    tags=("dedup", "blocking", "entity-resolution"),
)
def part_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood candidate pairs over part names —
    the classic entity-resolution blocking scheme (Hernandez & Stolfo
    SIGMOD'95): block on the first name word, sort each block by full
    name, and emit every pair within a {SNM_WINDOW}-row window whose
    distinct-word Jaccard clears 2/5. This is the record-linkage
    complement to the MinHash/LSH family: LSH buckets by CONTENT
    similarity, SNM exploits a domain SORT KEY (names, addresses,
    timestamps) and guarantees bounded, skew-free comparison volume
    (exactly window x block rows) regardless of how similarity mass
    is distributed.

    Exactness: the similarity cut compares cross-multiplied integers
    (shared*5 >= union*2) — no float at the boundary; the reported
    ``name_jaccard`` divides the SAME two ints as doubles and rounds
    to 6 in both engines.

    Scale (100 TB): the window sort is PER BLOCK (the first name
    word), so no global ordering exists anywhere; in production the
    block key is chosen fine enough that blocks fit a partition. The
    neighbor pairing is an EQUI-join — each left row explodes into
    {SNM_WINDOW} (block, rank+delta) probe keys joined on exact
    (block, rank) — never the block-local theta-join whose per-block
    cost is quadratic. One shuffle for the rank window, one hash join
    on primitive keys, output bounded by window x n rows."""
    p = load(spark, sf_dir, "part")
    from pyspark.sql import Window as W

    split = F.split("p_name", " ")
    # ranked frame feeds BOTH join sides; checkpoint so the block sort
    # and the name split run once, not once per side
    base = (
        p.select(
            "p_partkey",
            "p_name",
            F.element_at(split, 1).alias("block"),
            F.array_distinct(split).alias("words"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(W.partitionBy("block").orderBy("p_name", "p_partkey"))
            .cast("bigint"),
        )
        .localCheckpoint(eager=True)
    )
    # each row probes its next SNM_WINDOW in-block ranks via exact keys
    probes = (
        base.select(
            "block",
            F.col("p_partkey").alias("a_partkey"),
            F.col("words").alias("a_words"),
            "rnk",
            F.explode(F.expr(f"sequence(1, {SNM_WINDOW})")).alias("delta"),
        )
        .select(
            "block",
            "a_partkey",
            "a_words",
            (F.col("rnk") + F.col("delta")).alias("rnk"),
        )
    )
    right = base.select(
        "block",
        F.col("rnk"),
        F.col("p_partkey").alias("b_partkey"),
        F.col("words").alias("b_words"),
    )
    inter = F.size(F.array_intersect("a_words", "b_words"))
    union = F.size("a_words") + F.size("b_words") - inter
    return (
        probes.join(right, ["block", "rnk"])
        .select(
            "block",
            "a_partkey",
            "b_partkey",
            inter.cast("int").alias("shared_words"),
            union.cast("int").alias("union_words"),
        )
        .filter(
            F.col("shared_words") * SNM_DEN >= F.col("union_words") * SNM_NUM
        )
        .select(
            "block",
            "a_partkey",
            "b_partkey",
            "shared_words",
            "union_words",
            F.round(
                F.col("shared_words").cast("double")
                / F.col("union_words").cast("double"),
                6,
            ).alias("name_jaccard"),
        )
    )


# --------------------------------------------------------------------
# Kneser-Ney smoothed bigram table
# --------------------------------------------------------------------

KN_DISCOUNT = 0.75  # the standard absolute-discounting constant
KN_TOP = 100  # emitted table size (deterministic head of the LM)


@register(
    "docs_kneser_ney_bigrams",
    oracle=f"""
    WITH base AS (
      SELECT string_split(text, ' ') AS a
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), prs AS (
      SELECT unnest(list_slice(a, 1, len(a) - 1)) AS w1,
             unnest(list_slice(a, 2, len(a))) AS w2
      FROM base
    ), bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bigram
      FROM prs GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS n_prefix,
             CAST(count(*) AS INT) AS n_follow_types
      FROM bg GROUP BY w1
    ), prec AS (
      SELECT w2, CAST(count(*) AS INT) AS n_prec_types
      FROM bg GROUP BY w2
    ), d AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types FROM bg
    ), top AS (
      SELECT bg.w1, bg.w2, bg.n_bigram,
             ctx.n_prefix, ctx.n_follow_types, prec.n_prec_types,
             row_number() OVER (
               ORDER BY bg.n_bigram DESC, bg.w1, bg.w2
             ) AS rk
      FROM bg
      JOIN ctx ON ctx.w1 = bg.w1
      JOIN prec ON prec.w2 = bg.w2
    )
    SELECT w1, w2, n_bigram, n_prefix, n_follow_types, n_prec_types,
           round(
             (GREATEST(CAST(n_bigram AS DOUBLE) - {KN_DISCOUNT}, 0.0)
              / CAST(n_prefix AS DOUBLE))
             + (({KN_DISCOUNT} * CAST(n_follow_types AS DOUBLE)
                 / CAST(n_prefix AS DOUBLE))
                * (CAST(n_prec_types AS DOUBLE)
                   / (SELECT CAST(n_types AS DOUBLE) FROM d))),
             6) AS p_kn
    FROM top WHERE rk <= {KN_TOP}
    """,
    tags=("llm", "lm"),
)
def docs_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (Kneser & Ney ICASSP'95;
    Chen & Goodman '98 eq. 4.25): P_KN(w2|w1) = max(c(w1,w2)-D,0)/c(w1)
    + D*N1+(w1,*)/c(w1) * N1+(*,w2)/|bigram types|, with the standard
    D=0.75. The registered Stupid-Backoff filter is the CHEAP
    MapReduce-era scorer; KN is the smoothing that actual n-gram LMs
    ship (KenLM/SRILM default), and its continuation counts — in how
    many distinct contexts does w2 appear — are exactly the quantity
    backoff ignores. Emitted: the deterministic top-{KN_TOP} bigrams
    with every count the formula consumes, so a consumer can audit
    the smoothing arithmetic row by row.

    Exactness: all five count columns are exact integers; ``p_kn``
    evaluates the IDENTICAL parenthesized IEEE-double expression over
    those integers in both engines and rounds to 6 — a per-row
    formula, no float accumulation anywhere.

    Scale (100 TB): one corpus pass builds the vocab^2-bounded bigram
    count table (map-side combined), checkpointed once; the context,
    continuation, and type-count aggregates all read THAT table, never
    the corpus — bigram-type scale, not token scale. The two
    enrichment joins key on single words (vocab-bounded sides), and
    the head selection is orderBy+limit = TakeOrderedAndProject (no
    global sort materialization, no single-partition exchange)."""
    d = load(spark, sf_dir, "documents")
    base = d.select(F.split("text", " ").alias("a")).where(F.size("a") >= 2)
    prs = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1),"
                " i -> struct(element_at(a, i) AS w1,"
                "             element_at(a, i + 1) AS w2))"
            )
        ).alias("pr")
    ).select("pr.w1", "pr.w2")
    # vocab^2-bounded; checkpoint so the three derived aggregates and
    # the final join tree share one materialization of the corpus pass
    bg = (
        prs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .localCheckpoint(eager=True)
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("n_bigram").alias("n_prefix"),
        F.count(F.lit(1)).cast("int").alias("n_follow_types"),
    )
    prec = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("int").alias("n_prec_types")
    )
    n_types = float(bg.count())  # scalar: total distinct bigram types
    disc = F.lit(KN_DISCOUNT)
    p_kn = F.round(
        (
            F.greatest(
                F.col("n_bigram").cast("double") - disc, F.lit(0.0)
            )
            / F.col("n_prefix").cast("double")
        )
        + (
            (disc * F.col("n_follow_types").cast("double")
             / F.col("n_prefix").cast("double"))
            * (F.col("n_prec_types").cast("double") / F.lit(n_types))
        ),
        6,
    )
    return (
        bg.join(ctx, "w1")
        .join(prec, "w2")
        .orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(KN_TOP)
        .select(
            "w1",
            "w2",
            "n_bigram",
            "n_prefix",
            "n_follow_types",
            "n_prec_types",
            p_kn.alias("p_kn"),
        )
    )


# --------------------------------------------------------------------
# k-anonymity audit (data-governance report)
# --------------------------------------------------------------------

# Quasi-identifier tuple: nation x market segment x 1000-unit balance
# bucket — the re-identification surface a release of "anonymized"
# customer rows actually exposes (Sweeney '02).
KANON_THRESHOLDS = (2, 5, 10, 25)


@register(
    "customer_k_anonymity",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    ), th AS (
      SELECT unnest(ARRAY{list(KANON_THRESHOLDS)}) AS k
    ), agg AS (
      SELECT th.k,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(CASE WHEN cls.n < th.k THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_classes_below_k,
             CAST(sum(CASE WHEN cls.n < th.k THEN cls.n ELSE 0 END)
                  AS BIGINT) AS n_records_below_k,
             CAST(sum(cls.n) AS BIGINT) AS n_records
      FROM cls CROSS JOIN th
      GROUP BY th.k
    )
    SELECT CAST(k AS INT) AS k, n_classes, n_classes_below_k,
           n_records_below_k, n_records,
           round(CAST(n_records - n_records_below_k AS DOUBLE)
                 / CAST(n_records AS DOUBLE), 6) AS pct_anonymous
    FROM agg
    """,
    tags=("governance", "privacy", "report"),
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney IJUFKS'02) over the customer table's
    quasi-identifier tuple (nation, market segment, 1000-unit balance
    bucket): for each disclosure threshold k, how many equivalence
    classes — and how many RECORDS — fall below it, and what fraction
    of the table is k-anonymous. The data-governance gate a dataset
    release (or a training-corpus PII review) runs before shipping
    "de-identified" rows; complements the registered PII-detection
    query, which finds explicit identifiers while this measures
    re-identification risk from benign-looking attributes.

    Exactness: every count is an exact integer; the one division
    derives from two BIGINTs and rounds to 6 identically cross-engine.

    Scale (100 TB): ONE shuffle — the quasi-identifier groupBy (hash
    aggregate, map-side combined). The class-size frame is bounded by
    the QI domain (|nations| x |segments| x |buckets|, ~1.4k rows
    here), so the threshold explode (x{len(KANON_THRESHOLDS)}) and the
    per-k rollup are dimension-table work. No window, no sort, no
    join against the fact table."""
    c = load(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    ks = F.array([F.lit(k) for k in KANON_THRESHOLDS])
    agg = (
        cls.select("n", F.explode(ks).alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0)).alias(
                "n_classes_below_k"
            ),
            F.sum(
                F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0)
            ).alias("n_records_below_k"),
            F.sum("n").alias("n_records"),
        )
    )
    return agg.select(
        F.col("k").cast("int").alias("k"),
        "n_classes",
        "n_classes_below_k",
        "n_records_below_k",
        "n_records",
        F.round(
            (F.col("n_records") - F.col("n_records_below_k")).cast("double")
            / F.col("n_records").cast("double"),
            6,
        ).alias("pct_anonymous"),
    )


# --------------------------------------------------------------------
# Inter-arrival-time entropy (bot / automation detection)
# --------------------------------------------------------------------

# Gap buckets are DECIMAL-DIGIT COUNTS of the exact integer
# microsecond gap (floor(log10)+1): integer-exact in both engines,
# where a float log2 bucket could waver at power boundaries between
# libm implementations. Human traffic spreads across many magnitude
# buckets; scripted traffic concentrates (low entropy).
LOW_ENTROPY_MICRO = 500_000  # flag below 0.5 nats


@register(
    "events_interarrival_entropy",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) AS gap_us
      FROM events
      QUALIFY gap_us IS NOT NULL
    ), b AS (
      SELECT user_id,
             CAST(length(CAST(gap_us AS VARCHAR)) AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_b
      FROM g GROUP BY 1, 2
    ), u AS (
      SELECT user_id, CAST(sum(n_b) AS BIGINT) AS n_gaps,
             CAST(count(*) AS INT) AS n_buckets
      FROM b GROUP BY 1
    ), terms AS (
      SELECT b.user_id,
             CAST(round(-(CAST(b.n_b AS DOUBLE) / CAST(u.n_gaps AS DOUBLE))
                        * ln(CAST(b.n_b AS DOUBLE) / CAST(u.n_gaps AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS t_micro
      FROM b JOIN u USING (user_id)
    )
    SELECT u.user_id, u.n_gaps, u.n_buckets,
           CAST(sum(t.t_micro) AS BIGINT) AS entropy_micro,
           (CAST(sum(t.t_micro) AS BIGINT) < {LOW_ENTROPY_MICRO})
             AS low_entropy_flag
    FROM u JOIN terms t USING (user_id)
    GROUP BY u.user_id, u.n_gaps, u.n_buckets
    """,
    tags=("events", "anomaly", "quality"),
)
def events_interarrival_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-time entropy — the order-of-magnitude
    histogram of gaps between consecutive events, summarized as
    Shannon entropy: scripted/bot traffic fires on a clock and
    concentrates in one or two magnitude buckets (low entropy), human
    sessions spread across many. The behavioral-quality twin of the
    registered hourly anomaly z-scores: that one finds WHEN volume is
    anomalous, this one finds WHO is mechanical.

    Exactness discipline: gaps are exact integer microseconds
    (``unix_micros`` / ``epoch_us``); buckets are the gap's DECIMAL
    DIGIT COUNT — an integer-exact floor(log10)+1 in both engines,
    immune to the libm log2 boundary wobble a float bucket would risk;
    each entropy term quantizes to micro-nats HALF_UP BEFORE the
    per-user sum (order-free integer addition, the JS-divergence
    pattern); the low-entropy flag compares integers.

    Scale (100 TB): one user-key shuffle for the lag window, then the
    (user, bucket) and per-user hash aggregates ride the same key
    (map-side combined; at most ~13 magnitude buckets per user). The
    terms join is user-keyed on two already-aggregated frames. No
    corpus-sized sort, no Python."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    gaps = (
        e.select(
            "user_id",
            "ts",
            F.lag("ts")
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull())
        # timestampdiff is NTZ-native: no epoch conversion, so the gap
        # is session-timezone-independent (unix_micros rejects NTZ)
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias(
                "gap_us"
            ),
        )
    )
    b = gaps.groupBy(
        "user_id",
        F.length(F.col("gap_us").cast("string")).cast("int").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_b"))
    u = b.groupBy("user_id").agg(
        F.sum("n_b").alias("n_gaps"),
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
    )
    p = F.col("n_b").cast("double") / F.col("n_gaps").cast("double")
    terms = b.join(u, "user_id").select(
        "user_id",
        F.round(-p * F.log(p) * 1e6, 0).cast("bigint").alias("t_micro"),
    )
    return (
        u.join(terms, "user_id")
        .groupBy("user_id", "n_gaps", "n_buckets")
        .agg(F.sum("t_micro").alias("entropy_micro"))
        .select(
            "user_id",
            "n_gaps",
            "n_buckets",
            "entropy_micro",
            (F.col("entropy_micro") < LOW_ENTROPY_MICRO).alias(
                "low_entropy_flag"
            ),
        )
    )


# --------------------------------------------------------------------
# RFM customer segmentation via sortless histogram quintiles
# --------------------------------------------------------------------

# Monetary histogram bucket: $1000 units (cents DIV 100000) — keeps
# the histogram domain-bounded (a few thousand buckets) so the
# cumulative stage is dimension-table work at any customer count.
RFM_MONETARY_BUCKET_CENTS = 100_000
RFM_QS = (1, 2, 3, 4)  # quintile boundaries


@register(
    "orders_rfm_segments",
    oracle=f"""
    WITH ref AS (
      SELECT max(o_orderdate) AS ref_ts FROM orders
    ), rfm AS (
      SELECT o_custkey,
             CAST((epoch_us((SELECT ref_ts FROM ref))
                   - epoch_us(max(o_orderdate))) // 86400000000
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                  * 100 AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), long AS (
      SELECT o_custkey, 'r' AS metric, recency_days AS bucket FROM rfm
      UNION ALL
      SELECT o_custkey, 'f', frequency FROM rfm
      UNION ALL
      SELECT o_custkey, 'm',
             monetary_cents // {RFM_MONETARY_BUCKET_CENTS} FROM rfm
    ), hist AS (
      SELECT metric, bucket, CAST(count(*) AS BIGINT) AS n_b
      FROM long GROUP BY 1, 2
    ), cumh AS (
      SELECT metric, bucket,
             sum(n_b) OVER (PARTITION BY metric ORDER BY bucket) AS cum,
             sum(n_b) OVER (PARTITION BY metric) AS total
      FROM hist
    ), bounds AS (
      SELECT metric, q, min(bucket) AS boundary
      FROM cumh CROSS JOIN (
        SELECT unnest(ARRAY{list(RFM_QS)}) AS q
      )
      WHERE cum * 5 >= q * total
      GROUP BY 1, 2
    ), quint AS (
      SELECT l.o_custkey, l.metric,
             CAST(1 + sum(CASE WHEN l.bucket > b.boundary
                               THEN 1 ELSE 0 END) AS INT) AS qt
      FROM long l JOIN bounds b ON b.metric = l.metric
      GROUP BY 1, 2
    ), scores AS (
      SELECT o_custkey,
             CAST(6 - max(CASE WHEN metric = 'r' THEN qt END) AS INT)
               AS r_score,
             max(CASE WHEN metric = 'f' THEN qt END) AS f_score,
             max(CASE WHEN metric = 'm' THEN qt END) AS m_score
      FROM quint GROUP BY 1
    )
    SELECT rfm.o_custkey, rfm.recency_days, rfm.frequency,
           rfm.monetary_cents, s.r_score, s.f_score, s.m_score,
           s.r_score || '-' || s.f_score || '-' || s.m_score
             AS rfm_segment
    FROM rfm JOIN scores s USING (o_custkey)
    """,
    tags=("analytics", "segmentation", "report"),
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    quintile scores 1–5 per dimension (r_score flipped so 5 = most
    recent) — the marketing-analytics workhorse behind churn and
    loyalty targeting. The quintiles come from the SORTLESS
    histogram-cut machinery the CCNet contract pioneered: no global
    sort or ntile over customers anywhere, which is what makes this
    the 100 TB shape — rank-based quintiles would need a total order
    over every customer.

    Exactness: recency is integer days to the corpus max order date;
    frequency an exact count; monetary exact integer cents via
    DECIMAL accumulation. Histograms bucket integers (days, counts,
    $1000 units); quintile boundaries are min bucket with
    ``cum·5 ≥ q·total`` (cross-multiplied integers, no float); scores
    count integer boundary comparisons. Every engine-visible value is
    an integer or a concatenation of integers.

    Scale (100 TB): one o_custkey aggregate builds the RFM frame; the
    3n-row long form feeds a (metric, bucket) hash aggregate whose
    output is DOMAIN-bounded (days span, max order count, $1000
    buckets), so the cumulative triangular join and boundary pick are
    dimension-table work; score assignment equi-joins the 12-row
    boundary table (broadcast) and re-aggregates on the customer key.
    Three customer-keyed shuffles total, all linear; no window over
    customers, no sort."""
    o = load(spark, sf_dir, "orders")
    # ALL timestamp arithmetic happens in NTZ (naive) space: a vanilla
    # LTZ session interprets the file's naive midnights in the session
    # timezone with PER-VALUE DST offsets, so instant-based diffs (and
    # timestamp->date casts) drift by an hour — one whole day after the
    # floor — across DST boundaries; casting back to NTZ recovers the
    # file-naive values exactly. The reference anchor rides a 1-row
    # broadcast (no driver collect round-trip, which converts through
    # yet another timezone).
    ts_ntz = F.col("o_orderdate").cast("timestamp_ntz")
    rfm0 = o.groupBy("o_custkey").agg(
        F.max(ts_ntz).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("monetary_cents"),
    )
    ref_frame = o.agg(F.max(ts_ntz).alias("ref_ts"))
    # recency counts whole 24 h periods between NAIVE timestamps
    # (timestampdiff(DAY) / epoch_us floor-division in the oracle)
    # Fanning this frame (and the histogram below) was measured and
    # REJECTED in r12 (interleaved 3×2 A/B: warm 1.93/2.61/2.02 plain
    # vs 3.04/2.44/3.05 fanned) — the downstream integer comparisons
    # are too light to amortize the added exchanges.
    rfm = rfm0.join(F.broadcast(ref_frame)).select(
        "o_custkey",
        F.expr("timestampdiff(DAY, last_order, ref_ts)")
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    ).localCheckpoint(eager=True)  # feeds long form AND final join
    long = rfm.selectExpr(
        "o_custkey",
        f"""stack(3,
              'r', recency_days,
              'f', frequency,
              'm', monetary_cents DIV {RFM_MONETARY_BUCKET_CENTS}
            ) AS (metric, bucket)""",
    )
    hist = long.groupBy("metric", "bucket").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    # cumulative over the DOMAIN-bounded histogram: triangular join,
    # not a single-partition window
    h2 = hist.select(
        "metric",
        F.col("bucket").alias("bucket2"),
        F.col("n_b").alias("n_b2"),
    )
    cumh = (
        hist.join(h2, "metric")
        .filter(F.col("bucket2") <= F.col("bucket"))
        .groupBy("metric", "bucket")
        .agg(F.sum("n_b2").alias("cum"))
    )
    tot = hist.groupBy("metric").agg(F.sum("n_b").alias("total"))
    qs = F.array([F.lit(q) for q in RFM_QS])
    bounds = (
        cumh.join(tot, "metric")
        .select("metric", "bucket", "cum", "total", F.explode(qs).alias("q"))
        .filter(F.col("cum") * 5 >= F.col("q") * F.col("total"))
        .groupBy("metric", "q")
        .agg(F.min("bucket").alias("boundary"))
    )
    quint = (
        long.join(bounds, "metric")
        .groupBy("o_custkey", "metric")
        .agg(
            (
                1
                + F.sum(
                    F.when(F.col("bucket") > F.col("boundary"), 1).otherwise(0)
                )
            )
            .cast("int")
            .alias("qt")
        )
    )
    scores = quint.groupBy("o_custkey").agg(
        (6 - F.max(F.when(F.col("metric") == "r", F.col("qt"))))
        .cast("int")
        .alias("r_score"),
        F.max(F.when(F.col("metric") == "f", F.col("qt"))).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", F.col("qt"))).alias("m_score"),
    )
    return rfm.join(scores, "o_custkey").select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("rfm_segment"),
    )


# --------------------------------------------------------------------
# Benford first-digit audit (fraud / synthetic-data detection)
# --------------------------------------------------------------------

# Benford shares ln(1+1/d)/ln(10), pre-quantized in PYTHON to 9 dp and
# embedded as literals in BOTH engines' plans — neither engine's libm
# is ever consulted, so the one cross-engine float hazard (log) is
# gone by construction.
import math as _math

BENFORD_P = tuple(round(_math.log10(1.0 + 1.0 / d), 9) for d in range(1, 10))
# chi-square 0.999 critical value, df=8 (published table constant)
BENFORD_CHI2_CRIT_MICRO = 26_125_000


@register(
    "orders_benford_audit",
    oracle=f"""
    WITH cents0 AS (
      SELECT CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS c
      FROM orders
    ), cents AS (
      -- filter on the DERIVED cents, not the raw price: a price in
      -- (0, 0.005) rounds to 0 cents, whose first "digit" would be
      -- '0' — dropped by the 1-9 digit frame's left join yet counted
      -- in n_total, silently breaking the shares-sum-to-1 invariant
      SELECT c FROM cents0 WHERE c >= 1
    ), obs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM cents GROUP BY 1
    ), digits AS (
      SELECT unnest(ARRAY[1,2,3,4,5,6,7,8,9]) AS digit,
             unnest(ARRAY{list(BENFORD_P)}) AS p_exp
    ), tot AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs
    ), terms AS (
      SELECT d.digit,
             COALESCE(o.n_obs, 0) AS n_obs,
             t.n_total,
             CAST(round(d.p_exp * 1000000.0, 0) AS BIGINT)
               AS exp_share_micro,
             CAST(round(CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                        / CAST(t.n_total AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT) AS obs_share_micro,
             CAST(round(
               (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                - CAST(t.n_total AS DOUBLE) * d.p_exp)
               * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                  - CAST(t.n_total AS DOUBLE) * d.p_exp)
               / (CAST(t.n_total AS DOUBLE) * d.p_exp)
               * 1000000.0, 0) AS BIGINT) AS chi2_term_micro
      FROM digits d LEFT JOIN obs o USING (digit) CROSS JOIN tot t
    ), chi AS (
      SELECT CAST(sum(chi2_term_micro) AS BIGINT) AS chi2_total_micro
      FROM terms
    )
    SELECT terms.digit, terms.n_obs, terms.n_total,
           terms.obs_share_micro, terms.exp_share_micro,
           terms.chi2_term_micro, chi.chi2_total_micro,
           (chi.chi2_total_micro > {BENFORD_CHI2_CRIT_MICRO})
             AS benford_reject
    FROM terms CROSS JOIN chi
    """,
    tags=("governance", "anomaly", "report"),
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the forensic-accounting screen (Nigrini '96) a data-governance
    pass runs to catch fabricated or synthetically-inflated monetary
    columns before they poison a training corpus: human-scale
    transaction amounts follow log10(1+1/d); uniform or hand-typed
    fakes don't. Nine rows (one per digit) with observed/expected
    shares, per-digit chi-square terms, the total statistic, and a
    reject flag against the df=8, alpha=0.001 critical value.

    Exactness: first digit comes from the DECIMAL-exact integer cents
    rendered as a string (no float log10 anywhere); the Benford
    shares are PYTHON-computed literals quantized to 9 dp embedded in
    both plans; chi-square terms are pure-IEEE double arithmetic on
    exact integers and those literals, quantized to integer micro
    before the order-free total sum. A digit the corpus never emits
    still gets its row (literal digit frame LEFT JOIN observed).

    Scale (100 TB): ONE scan, one 9-group hash aggregate (map-side
    combined to 9 rows per partition); everything after is literal
    9-row dimension work — two broadcast-size cross joins against
    1-row totals. No window, no sort, no second fact scan."""
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        (F.round("o_totalprice", 2).cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c")
        # filter on the DERIVED cents (a price in (0, 0.005) rounds to
        # 0 cents → first digit '0', outside the 1-9 digit frame but
        # formerly still in n_total; c >= 1 keeps counts and shares
        # reconciled on any fixture)
    ).filter(F.col("c") >= 1)
    obs = (
        cents.groupBy(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
        # ≤9 rows; pins the ONE fact scan — tot, terms, and the chi
        # branch otherwise each replay the whole scan lineage (the
        # un-checkpointed plan read orders 4x)
        .localCheckpoint(eager=True)
    )
    digits = local_frame(
        spark,
        [(d, p) for d, p in zip(range(1, 10), BENFORD_P)],
        "digit int, p_exp double",
    )
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    e = F.col("n_total").cast("double") * F.col("p_exp")
    terms = (
        digits.join(obs, "digit", "left")
        .join(F.broadcast(tot))
        .select(
            "digit",
            n_obs.alias("n_obs"),
            "n_total",
            F.round(F.col("p_exp") * 1e6, 0)
            .cast("bigint")
            .alias("exp_share_micro"),
            F.round(
                n_obs.cast("double") / F.col("n_total").cast("double") * 1e6, 0
            )
            .cast("bigint")
            .alias("obs_share_micro"),
            F.round(
                (n_obs.cast("double") - e) * (n_obs.cast("double") - e) / e * 1e6,
                0,
            )
            .cast("bigint")
            .alias("chi2_term_micro"),
        )
    )
    chi = terms.agg(F.sum("chi2_term_micro").alias("chi2_total_micro"))
    return terms.join(F.broadcast(chi)).select(
        "digit",
        "n_obs",
        "n_total",
        "obs_share_micro",
        "exp_share_micro",
        "chi2_term_micro",
        "chi2_total_micro",
        (F.col("chi2_total_micro") > BENFORD_CHI2_CRIT_MICRO).alias(
            "benford_reject"
        ),
    )


# --------------------------------------------------------------------
# Single-pass column profile (Deequ-style data-quality report)
# --------------------------------------------------------------------

# (column, canonical-string expression) pairs — Spark SQL on the left
# is paired with the semantically identical DuckDB rendering in the
# oracle. Doubles go through DECIMAL(18,2) and timestamps through a
# fixed format string so both engines render IDENTICAL canonical
# strings (raw double/timestamp -> string differs between engines).
PROFILE_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS STRING)", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS STRING)", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"),
    (
        "o_totalprice",
        "CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS STRING)",
        "CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR)",
    ),
    (
        "o_orderdate",
        "date_format(CAST(o_orderdate AS TIMESTAMP_NTZ),"
        " 'yyyy-MM-dd HH:mm:ss')",
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
    ),
)

# min/max are computed NATIVELY and only for columns with a meaningful
# order AND a hash-aggregable (mutable) buffer type — bigint, DECIMAL,
# timestamp. An exact min/max over free-form STRINGS forces Spark's
# SortAggregate fallback (string aggregation buffers are immutable),
# i.e. a per-partition sort of the whole distinct frame — the precise
# plan hazard the fleet SortAggregate sweep forbids. Deequ draws the
# same line: ordered types get min/max, free strings get cardinality
# only. Each entry: (column, Spark min/max input expr, DuckDB twin,
# Spark formatter template, DuckDB formatter template).
PROFILE_MINMAX = (
    ("o_orderkey", "o_orderkey", "o_orderkey",
     "CAST({} AS STRING)", "CAST({} AS VARCHAR)"),
    ("o_custkey", "o_custkey", "o_custkey",
     "CAST({} AS STRING)", "CAST({} AS VARCHAR)"),
    ("o_totalprice",
     "CAST(round(o_totalprice, 2) AS DECIMAL(18,2))",
     "CAST(round(o_totalprice, 2) AS DECIMAL(18,2))",
     "CAST({} AS STRING)", "CAST({} AS VARCHAR)"),
    ("o_orderdate",
     "CAST(o_orderdate AS TIMESTAMP_NTZ)", "o_orderdate",
     "date_format({}, 'yyyy-MM-dd HH:mm:ss')",
     "strftime({}, '%Y-%m-%d %H:%M:%S')"),
)


def _profile_oracle() -> str:
    branches = "\n      UNION ALL\n".join(
        f"      SELECT '{name}' AS col_name, {duck} AS value FROM orders"
        for name, _, duck in PROFILE_COLS
    )
    mm_selects = ", ".join(
        f"min({duck}) AS mn_{name}, max({duck}) AS mx_{name}"
        for name, _, duck, _, _ in PROFILE_MINMAX
    )
    mm_rows = "\n      UNION ALL\n".join(
        f"      SELECT '{name}' AS col_name,"
        f" {fmt_d.format(f'mn_{name}')} AS min_value,"
        f" {fmt_d.format(f'mx_{name}')} AS max_value FROM wide"
        for name, _, _, _, fmt_d in PROFILE_MINMAX
    )
    return f"""
    WITH long AS (
{branches}
    ), pv AS (
      SELECT col_name, value, CAST(count(*) AS BIGINT) AS n
      FROM long GROUP BY 1, 2
    ), counts AS (
      SELECT col_name,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(COALESCE(sum(CASE WHEN value IS NULL THEN n END), 0)
                  AS BIGINT) AS n_nulls,
             CAST(count(CASE WHEN value IS NOT NULL THEN 1 END)
                  AS BIGINT) AS n_distinct,
             round(CAST(COALESCE(sum(CASE WHEN value IS NULL THEN n END), 0)
                        AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS null_rate,
             round(CAST(count(CASE WHEN value IS NOT NULL THEN 1 END)
                        AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
               AS distinct_rate
      FROM pv GROUP BY col_name
    ), wide AS (
      SELECT {mm_selects} FROM orders
    ), mm AS (
{mm_rows}
    )
    SELECT c.col_name, c.n_rows, c.n_nulls, c.n_distinct,
           mm.min_value, mm.max_value, c.null_rate, c.distinct_rate
    FROM counts c LEFT JOIN mm ON mm.col_name = c.col_name
    """


@register(
    "orders_column_profile",
    oracle=_profile_oracle(),
    tags=("governance", "quality", "report"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column-profile report (the Deequ / Great
    Expectations analyzer shape): one row per orders column with row
    count, null count, EXACT distinct count, canonical native min/max
    for ORDERED columns, and null/distinct rates — the profile a
    data-quality gate diffs between ingest batches to catch schema
    rot, null floods, and key-cardinality drift.

    Canonicalization: doubles render through DECIMAL(18,2) and
    timestamps through one fixed format so both engines emit
    byte-identical strings. Distinct counts are exact over that
    CANONICAL rendering: the timestamp format is injective at the
    fixture's second granularity, and the DECIMAL(18,2) cast is
    injective here only because fixture prices are already 2-dp —
    for arbitrary doubles it collapses values that differ below a
    cent, so n_distinct profiles the canonicalized column, not
    necessarily the raw one. min/max follow Deequ's line — they
    exist for ordered hash-aggregable types (bigint, DECIMAL,
    timestamp) and are NULL for free-form strings: an exact string
    min/max forces Spark's SortAggregate fallback (immutable string
    aggregation buffers), a per-partition sort of the whole distinct
    frame that the fleet SortAggregate sweep forbids.

    Scale (100 TB): ONE logical column pass spelled as two scans the
    planner keeps cheap — the ``stack`` long form (a generator, not a
    self-union) feeding two chained hash aggregates ((col, value) with
    map-side combine, then the 6-group rollup), plus a wide 1-row
    min/max hash aggregate over the native columns; both sides join on
    the 6-row col_name frame. Every aggregate is a HashAggregate.
    This is the EXACT-distinct shape; when a profile can tolerate
    sketch error, swap ``approx_count_distinct`` into the wide form
    and skip the long explosion entirely (the
    ``percentile_approx_contract`` / ``agg_approx_distinct`` pattern
    already registered). No expand-based multi-distinct (which would
    multiply the SCAN, not the combined rows), no sort."""
    o = load(spark, sf_dir, "orders")
    stack_args = ",\n          ".join(
        f"'{name}', {spark_expr}" for name, spark_expr, _ in PROFILE_COLS
    )
    long = o.selectExpr(
        f"stack({len(PROFILE_COLS)},\n          {stack_args}"
        ") AS (col_name, value)"
    )
    pv = long.groupBy("col_name", "value").agg(F.count(F.lit(1)).alias("n"))
    n_nulls = F.coalesce(
        F.sum(F.when(F.col("value").isNull(), F.col("n"))), F.lit(0)
    ).cast("bigint")
    n_distinct = F.count(
        F.when(F.col("value").isNotNull(), F.lit(1))
    ).cast("bigint")
    counts = pv.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        n_nulls.alias("n_nulls"),
        n_distinct.alias("n_distinct"),
        F.round(
            n_nulls.cast("double") / F.sum("n").cast("double"), 6
        ).alias("null_rate"),
        F.round(
            n_distinct.cast("double") / F.sum("n").cast("double"), 6
        ).alias("distinct_rate"),
    )
    wide = o.selectExpr(
        *[
            e
            for name, spark_in, _, _, _ in PROFILE_MINMAX
            for e in (
                f"min({spark_in}) AS mn_{name}",
                f"max({spark_in}) AS mx_{name}",
            )
        ]
    )
    mm_rows = ", ".join(
        f"'{name}', {fmt_s.format(f'mn_{name}')}, {fmt_s.format(f'mx_{name}')}"
        for name, _, _, fmt_s, _ in PROFILE_MINMAX
    )
    mm = wide.selectExpr(
        f"stack({len(PROFILE_MINMAX)}, {mm_rows})"
        " AS (col_name, min_value, max_value)"
    )
    return counts.join(F.broadcast(mm), "col_name", "left").select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
        "null_rate",
        "distinct_rate",
    )


# --------------------------------------------------------------------
# MAD robust outlier gate (median absolute deviation)
# --------------------------------------------------------------------

MAD_CONSISTENCY = 1.4826  # normal-consistency constant (published)
MAD_Z_CUT = 3.0


@register(
    "customer_mad_outliers",
    oracle=f"""
    WITH m AS (
      SELECT quantile_cont(c_acctbal, 0.5) AS med FROM customer
    ), d AS (
      SELECT c_custkey, c_acctbal, m.med,
             abs(c_acctbal - m.med) AS dev
      FROM customer CROSS JOIN m
    ), s AS (
      SELECT quantile_cont(dev, 0.5) AS mad FROM d
    )
    SELECT d.c_custkey, d.c_acctbal,
           round(d.med, 6) AS med,
           round(s.mad * {MAD_CONSISTENCY}, 6) AS sigma_robust,
           CASE WHEN s.mad > 0
                THEN round(d.dev / (s.mad * {MAD_CONSISTENCY}), 6)
           END AS robust_z,
           (d.dev > {MAD_Z_CUT} * {MAD_CONSISTENCY} * s.mad)
             AS is_outlier
    FROM d CROSS JOIN s
    """,
    tags=("quality", "statistics", "anomaly"),
)
def customer_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate via median absolute deviation — the
    heavy-tail-safe twin of a z-score filter (mean/stddev move with
    the outliers they hunt; median/MAD don't): every customer scored
    by robust z (distance from the median in MAD-derived sigmas) with
    the 3-sigma flag — emitted UNFILTERED so the oracle hashes the
    whole scored frame, not just the (fixture-empty) outlier tail.
    The numeric-column analog of the text-side quality-median filter,
    and the gate a feature-store ingest runs on monetary columns
    before training.

    Exactness: both medians are Spark's exact interpolated
    ``percentile`` vs DuckDB's ``quantile_cont`` (bit-identical pair
    already proven by ``percentile_order_value``); deviations and the
    robust z are pure IEEE double arithmetic on those two scalars —
    the cut compares RAW doubles identically in both engines, rounds
    happen only on emitted columns.

    Scale (100 TB): the exact median is the scale-honest cost here —
    one global sort-based aggregate each for median and MAD (Spark
    runs them as single-reduce exact percentiles). Production at
    trillion-row scale swaps ``approx_percentile`` (t-digest, the
    registered ``percentile_approx_contract`` bounds the error);
    everything else is a broadcast of two 1-row frames over one fact
    scan. No per-group sort, no window."""
    c = load(spark, sf_dir, "customer")
    m = c.agg(F.percentile("c_acctbal", 0.5).alias("med"))
    d = c.join(F.broadcast(m)).select(
        "c_custkey",
        "c_acctbal",
        "med",
        F.abs(F.col("c_acctbal") - F.col("med")).alias("dev"),
    )
    s = d.agg(F.percentile("dev", 0.5).alias("mad"))
    sigma = F.col("mad") * MAD_CONSISTENCY
    return d.join(F.broadcast(s)).select(
        "c_custkey",
        "c_acctbal",
        F.round("med", 6).alias("med"),
        F.round(sigma, 6).alias("sigma_robust"),
        # mad=0 (>=50% of values identical) leaves robust_z undefined:
        # guarded to NULL in BOTH engines (unguarded, Spark's non-ANSI
        # x/0 is NULL but DuckDB's IEEE division is +inf -> hash split)
        F.when(F.col("mad") > 0, F.round(F.col("dev") / sigma, 6)).alias(
            "robust_z"
        ),
        (F.col("dev") > MAD_Z_CUT * MAD_CONSISTENCY * F.col("mad")).alias(
            "is_outlier"
        ),
    )


# --------------------------------------------------------------------
# Weighted PageRank over the nation trade graph (iterative)
# --------------------------------------------------------------------

PR_DAMP = 0.85
PR_ITERS = 5
PR_SCALE = 1_000_000_000_000  # pico-rank: 1.0 of probability mass


def _pagerank_oracle() -> str:
    """Unrolled {PR_ITERS}-iteration PageRank as chained CTEs — the
    ``embeddings_pca_power`` oracle pattern: DuckDB replays the exact
    integer-quantized iteration, term by term."""
    head = f"""
    WITH edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) * 10000 AS BIGINT) AS w_e4
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), outw AS (
      SELECT src, CAST(sum(w_e4) AS BIGINT) AS w_out
      FROM edges GROUP BY src
    ), inw AS (
      SELECT dst, CAST(sum(w_e4) AS BIGINT) AS w_in
      FROM edges GROUP BY dst
    ), ew AS (
      SELECT e.src, e.dst,
             CAST(e.w_e4 AS DOUBLE) / CAST(o.w_out AS DOUBLE) AS wf
      FROM edges e JOIN outw o ON o.src = e.src
    ), nodes AS (
      SELECT n_nationkey AS node, n_name FROM nation
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes
    ), p0 AS (
      SELECT node,
             CAST(round({PR_SCALE}.0 / nn.nd, 0) AS BIGINT) AS pr
      FROM nodes CROSS JOIN nn
    )"""
    its = []
    prev = "p0"
    for t in range(1, PR_ITERS + 1):
        its.append(f"""
    , dang{t} AS (
      SELECT CAST(COALESCE(sum(pr), 0) AS BIGINT) AS d
      FROM {prev} WHERE node NOT IN (SELECT src FROM outw)
    ), inc{t} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(round(CAST(p.pr AS DOUBLE) * e.wf, 0)
                           AS BIGINT)) AS BIGINT) AS inc
      FROM {prev} p JOIN ew e ON e.src = p.node
      GROUP BY e.dst
    ), p{t} AS (
      SELECT n.node,
             CAST(CAST(round((1.0 - {PR_DAMP}) * {PR_SCALE}.0 / nn.nd, 0)
                       AS BIGINT)
                  + CAST(round({PR_DAMP}
                               * (CAST(d.d AS DOUBLE) / nn.nd
                                  + CAST(COALESCE(i.inc, 0) AS DOUBLE)),
                               0) AS BIGINT) AS BIGINT) AS pr
      FROM nodes n
      CROSS JOIN nn CROSS JOIN dang{t} d
      LEFT JOIN inc{t} i ON i.node = n.node
    )""")
        prev = f"p{t}"
    return (
        head
        + "".join(its)
        + f"""
    SELECT n.n_name AS nation, p.pr AS pagerank_pico,
           COALESCE(o.w_out, 0) AS out_strength_e4,
           COALESCE(i.w_in, 0) AS in_strength_e4,
           (o.w_out IS NULL) AS is_dangling
    FROM nodes n
    JOIN {prev} p ON p.node = n.node
    LEFT JOIN outw o ON o.src = n.node
    LEFT JOIN inw i ON i.dst = n.node
    """
    )


@register(
    "nation_trade_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "analytics"),
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (Page et al. '99, damping 0.85, 5 fixed
    iterations) over the nation-level trade graph — nodes are nations,
    an edge src→dst carries the exact-DECIMAL revenue suppliers in src
    shipped to customers in dst (the TPC-H Q7 volume lifted to a full
    adjacency). The graph-centrality complement to the label-
    propagation dup clustering: importance flows along weighted edges
    instead of connectivity, the shape behind supplier-risk and
    influence scoring on transaction graphs.

    Exactness (the ``embeddings_pca_power`` discipline): edge weights
    are DECIMAL-exact integer e4 units; out-degree-normalized weights
    are single-division doubles of two exact integers; rank lives in
    integer PICO units — each edge's contribution quantizes to a
    bigint BEFORE the order-free integer sum, every iteration, in both
    engines; the teleport and damping terms round identically from the
    same literals. The oracle unrolls all 5 iterations as chained
    CTEs; dangling mass (nations with no outbound trade) redistributes
    uniformly through an anti-join sum, never dropped.

    Scale (100 TB): the fact-table work is ONE aggregation — the
    4-table join down to at most |N|^2 = 625 edge rows (AQE broadcasts
    the three dimension sides; the lineitem scan is the only big
    shuffle). The 5 iterations then run DRIVER-side over the collected
    edge list (the ``embeddings_pca_power`` sanctioned pattern: the
    collect is DIMENSION-bounded — ≤ |N|² = 625 rows at ANY corpus
    size, the graph never grows with the fact table). r12: the
    previous in-Spark iteration already collected the same frames to
    the driver every round (each ``broadcast(dang)``/``broadcast(inc)``
    build is a driver collect) and additionally paid 5 ×
    (plan + codegen + checkpoint job + 2 broadcast builds) of pure
    scheduling on 25-row frames — driver-measured ~0.5 s/round at
    sf0.1, and identical at 100 TB because the cost is per-ROUND, not
    per-row. The replay is arithmetic-identical: integer sums are
    order-free exact; every double op replicates the removed plan's op
    order; ``F.round(double, 0)`` is HALF_UP over the shortest decimal
    representation (java BigDecimal.valueOf), which
    ``Decimal(repr(x))`` reproduces bit-for-bit — proven by the
    unchanged unrolled-CTE oracle at all three SFs."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    edges = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cu, orders.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(
            (
                F.sum(
                    F.expr(
                        "CAST(l_extendedprice * (1 - l_discount)"
                        " AS DECIMAL(18,4))"
                    )
                )
                * 10000
            )
            .cast("bigint")
            .alias("w_e4")
        )
    )
    # the ONE fact-scale job; everything below is ≤625-row driver work
    edge_rows = [(r["src"], r["dst"], r["w_e4"]) for r in edges.collect()]
    node_rows = [
        (r["n_nationkey"], r["n_name"])
        for r in na.select("n_nationkey", "n_name").collect()
    ]

    def round0(x: float) -> int:
        # F.round(double, 0).cast(bigint) == HALF_UP on the double's
        # SHORTEST decimal repr (BigDecimal.valueOf == Double.toString;
        # Python repr is the same shortest round-trip string). For
        # |x| < 2^52 every m+0.5 is exactly representable, so shortest-
        # repr and exact-binary HALF_UP agree — rank magnitudes are
        # ≤ PR_SCALE (1e12), far inside that bound.
        with localcontext() as ctx:
            ctx.prec = 50
            return int(
                Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
            )

    outw: dict[int, int] = {}
    inw: dict[int, int] = {}
    for s, d, w in edge_rows:
        outw[s] = outw.get(s, 0) + w  # exact int sums, order-free
        inw[d] = inw.get(d, 0) + w
    # wf: bigint→double casts then one IEEE division, as the plan did
    ew = [(s, d, float(w) / float(outw[s])) for s, d, w in edge_rows]
    nd = float(len(node_rows))
    pr: dict[int, int] = {
        node: round0(float(PR_SCALE) / nd) for node, _ in node_rows
    }
    tele_num = (1.0 - PR_DAMP) * float(PR_SCALE)  # Python-folded literal,
    # exactly the constant the Column expression folded before dividing
    for _ in range(PR_ITERS):
        dang = sum(p for node, p in pr.items() if node not in outw)
        inc: dict[int, int] = {}
        for s, d, wf in ew:
            if s not in pr:  # the removed p⋈ew join dropped such edges
                continue
            inc[d] = inc.get(d, 0) + round0(float(pr[s]) * wf)
        pr = {
            node: round0(tele_num / nd)
            + round0(PR_DAMP * (float(dang) / nd + float(inc.get(node, 0))))
            for node, _ in node_rows
        }
    rows = [
        (
            name,
            pr[node],
            outw.get(node, 0),
            inw.get(node, 0),
            node not in outw,
        )
        for node, name in node_rows
    ]
    return local_frame(
        spark,
        rows,
        "nation string, pagerank_pico bigint, out_strength_e4 bigint,"
        " in_strength_e4 bigint, is_dangling boolean",
    )


# --------------------------------------------------------------------
# Z-order layout data-skipping contract
# --------------------------------------------------------------------

Z_BITS = 8           # bits per dimension -> 256 buckets each
Z_DIM = 1 << Z_BITS
Z_FILES = 64         # simulated files per layout
Z_FILE_SPAN = (Z_DIM * Z_DIM) // Z_FILES  # z-values per z-order file
L_FILE_SPAN = Z_DIM // Z_FILES            # day-buckets per linear file
ZPRED_CB = 37        # point predicate: customer bucket
ZPRED_DB_LO, ZPRED_DB_HI = 96, 127  # range predicate: day buckets
# The oracles' copy of the predicate bank ``zorder_predicates`` builds.
ZPRED_VALUES_SQL = f"""SELECT * FROM (VALUES
        ('cust_point', CAST({ZPRED_CB} AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)),
        ('day_range', CAST(NULL AS BIGINT),
         CAST({ZPRED_DB_LO} AS BIGINT), CAST({ZPRED_DB_HI} AS BIGINT)),
        ('cust_and_day', CAST({ZPRED_CB} AS BIGINT),
         CAST({ZPRED_DB_LO} AS BIGINT), CAST({ZPRED_DB_HI} AS BIGINT))
      ) AS t(predicate, cb_point, db_lo, db_hi)"""


def zorder_predicates(spark: SparkSession) -> DataFrame:
    """The predicate bank every layout contract evaluates (this one and
    staged_r19's Hilbert comparison); a NULL bound is unconstrained."""
    return local_frame(
        spark,
        [
            ("cust_point", ZPRED_CB, None, None),
            ("day_range", None, ZPRED_DB_LO, ZPRED_DB_HI),
            ("cust_and_day", ZPRED_CB, ZPRED_DB_LO, ZPRED_DB_HI),
        ],
        "predicate string, cb_point bigint, db_lo bigint, db_hi bigint",
    )


def _z_expr(shift_fn: str) -> str:
    """Bit-interleave cb/db into a 16-bit Morton code. ``shift_fn`` is
    'spark' (shiftleft/shiftright functions) or 'duck' (<< >>
    operators) — same arithmetic, engine-native spelling."""
    terms = []
    for i in range(Z_BITS):
        if shift_fn == "spark":
            terms.append(
                f"(shiftleft(shiftright(cb, {i}) & 1, {2 * i + 1})"
                f" + shiftleft(shiftright(db, {i}) & 1, {2 * i}))"
            )
        else:
            terms.append(
                f"((((cb >> {i}) & 1) << {2 * i + 1})"
                f" + (((db >> {i}) & 1) << {2 * i}))"
            )
    return " + ".join(terms)


def _zorder_oracle() -> str:
    return f"""
    WITH anchor AS (
      SELECT min(o_orderdate) AS mn,
             CAST((epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate)))
                  // 86400000000 AS BIGINT) AS max_day
      FROM orders
    ), r AS (
      SELECT CAST(o_custkey % {Z_DIM} AS BIGINT) AS cb,
             CAST(((epoch_us(o_orderdate) - epoch_us(a.mn)) // 86400000000)
                  * {Z_DIM} // (a.max_day + 1) AS BIGINT) AS db
      FROM orders CROSS JOIN anchor a
    ), rz AS (
      SELECT cb, db, CAST({_z_expr("duck")} AS BIGINT) AS z FROM r
    ), files AS (
      SELECT 'zorder' AS layout, z // {Z_FILE_SPAN} AS file, cb, db FROM rz
      UNION ALL
      SELECT 'linear', db // {L_FILE_SPAN}, cb, db FROM rz
    ), stats AS (
      SELECT layout, file,
             min(cb) AS mncb, max(cb) AS mxcb,
             min(db) AS mndb, max(db) AS mxdb,
             CAST(count(*) AS BIGINT) AS nr
      FROM files GROUP BY 1, 2
    ), preds AS (
      {ZPRED_VALUES_SQL}
    ), sel AS (
      SELECT 'cust_point' AS predicate,
             CAST(count(CASE WHEN cb = {ZPRED_CB} THEN 1 END) AS BIGINT)
               AS selected_rows
      FROM rz
      UNION ALL
      SELECT 'day_range',
             CAST(count(CASE WHEN db BETWEEN {ZPRED_DB_LO} AND {ZPRED_DB_HI}
                             THEN 1 END) AS BIGINT)
      FROM rz
      UNION ALL
      SELECT 'cust_and_day',
             CAST(count(CASE WHEN cb = {ZPRED_CB}
                              AND db BETWEEN {ZPRED_DB_LO} AND {ZPRED_DB_HI}
                             THEN 1 END) AS BIGINT)
      FROM rz
    ), agg AS (
      SELECT s.layout, p.predicate,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN
               (p.cb_point IS NULL
                OR (s.mncb <= p.cb_point AND p.cb_point <= s.mxcb))
               AND (p.db_lo IS NULL
                    OR (s.mxdb >= p.db_lo AND s.mndb <= p.db_hi))
               THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(sum(CASE WHEN
               (p.cb_point IS NULL
                OR (s.mncb <= p.cb_point AND p.cb_point <= s.mxcb))
               AND (p.db_lo IS NULL
                    OR (s.mxdb >= p.db_lo AND s.mndb <= p.db_hi))
               THEN s.nr ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(sum(s.nr) AS BIGINT) AS total_rows
      FROM stats s CROSS JOIN preds p
      GROUP BY 1, 2
    )
    SELECT a.layout, a.predicate, a.n_files, a.files_scanned,
           a.rows_scanned, a.total_rows, sel.selected_rows,
           round(CAST(a.rows_scanned AS DOUBLE)
                 / CAST(a.total_rows AS DOUBLE), 6) AS scan_fraction
    FROM agg a JOIN sel USING (predicate)
    """


def zorder_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (cb, db, z) bucketed frame: per-row customer bucket,
    range-scaled day bucket (against a broadcast 1-row date anchor),
    and the 16-bit Morton code — eagerly checkpointed because every
    consumer (zone-map build, selected-row counts, and the real-parquet
    row-group test that certifies the contract against genuinely
    written footers) reads it multiple times. One definition so the
    test can never drift from the query it certifies."""
    o = load(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp_ntz")
    anchor = o.agg(
        F.min(ts).alias("mn"),
        F.expr(
            "CAST(timestampdiff(DAY,"
            " min(CAST(o_orderdate AS TIMESTAMP_NTZ)),"
            " max(CAST(o_orderdate AS TIMESTAMP_NTZ))) AS BIGINT)"
        ).alias("max_day"),
    )
    # integer floor division: (day_idx * 256) DIV (max_day + 1)
    r = o.join(F.broadcast(anchor)).selectExpr(
        f"CAST(pmod(o_custkey, {Z_DIM}) AS BIGINT) AS cb",
        "CAST(timestampdiff(DAY, mn, CAST(o_orderdate AS TIMESTAMP_NTZ))"
        f" AS BIGINT) * {Z_DIM} DIV (max_day + 1) AS db",
    )
    return r.selectExpr(
        "cb", "db", f"CAST({_z_expr('spark')} AS BIGINT) AS z"
    ).localCheckpoint(eager=True)


@register(
    "orders_zorder_skipping_contract",
    oracle=_zorder_oracle(),
    tags=("layout", "pruning", "contract"),
)
def orders_zorder_skipping_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-skipping contract for a Morton (z-order) file layout vs a
    single-dimension linear layout — the write-side lever that makes
    100 TB point/range scans cheap: interleave the bits of two
    predicate dimensions (customer bucket, time bucket) into one sort
    key, carve the key space into files, and min/max zone maps prune
    on BOTH dimensions at once. Linear (time-only) layout prunes time
    ranges perfectly but scans EVERY file for a customer point query;
    z-order prunes both to ~1/8 of files at 8 bits per dimension. One
    row per (layout, predicate): file/row scan counts, true selected
    rows, scan fraction — the numbers a table-layout decision reads.

    Exactness: buckets, Morton codes (16 explicit shift-mask terms,
    engine-native spellings of the same integer arithmetic), file
    assignment, zone-map min/max, and every count are exact integers;
    the one division rounds from two exact BIGINTs.

    Scale (100 TB): ONE fact scan computes buckets + z-codes
    (per-row integer expressions against a broadcast 1-row date
    anchor); the zone-map build is a (layout, file) hash aggregate —
    128 groups — and the pruning evaluation is literal dimension work
    (128 x 3 cross join). This is exactly the metadata pass a real
    OPTIMIZE ZORDER writes; the simulated files stand in for the
    rewrite the container can't hold (the companion pytest writes the
    REAL parquet layouts from the same shared frame and re-proves the
    pruning against genuine footer statistics)."""
    rz = zorder_bucketed(spark, sf_dir)
    files = rz.selectExpr(
        f"stack(2, 'zorder', z DIV {Z_FILE_SPAN},"
        f" 'linear', db DIV {L_FILE_SPAN}) AS (layout, file)",
        "cb",
        "db",
    )
    stats = files.groupBy("layout", "file").agg(
        F.min("cb").alias("mncb"),
        F.max("cb").alias("mxcb"),
        F.min("db").alias("mndb"),
        F.max("db").alias("mxdb"),
        F.count(F.lit(1)).alias("nr"),
    )
    preds = zorder_predicates(spark)
    in_day = F.col("db").between(ZPRED_DB_LO, ZPRED_DB_HI)
    sel = rz.agg(
        F.count(F.when(F.col("cb") == ZPRED_CB, 1))
        .cast("bigint")
        .alias("cust_point"),
        F.count(F.when(in_day, 1)).cast("bigint").alias("day_range"),
        F.count(F.when((F.col("cb") == ZPRED_CB) & in_day, 1))
        .cast("bigint")
        .alias("cust_and_day"),
    ).selectExpr(
        "stack(3, 'cust_point', cust_point, 'day_range', day_range,"
        " 'cust_and_day', cust_and_day) AS (predicate, selected_rows)"
    )
    surv = (
        F.col("cb_point").isNull()
        | ((F.col("mncb") <= F.col("cb_point")) & (F.col("cb_point") <= F.col("mxcb")))
    ) & (
        F.col("db_lo").isNull()
        | ((F.col("mxdb") >= F.col("db_lo")) & (F.col("mndb") <= F.col("db_hi")))
    )
    agg = (
        stats.join(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(surv, 1).otherwise(0)).cast("bigint").alias(
                "files_scanned"
            ),
            F.sum(F.when(surv, F.col("nr")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("nr").cast("bigint").alias("total_rows"),
        )
    )
    return agg.join(F.broadcast(sel), "predicate").select(
        "layout",
        "predicate",
        "n_files",
        "files_scanned",
        "rows_scanned",
        "total_rows",
        "selected_rows",
        F.round(
            F.col("rows_scanned").cast("double")
            / F.col("total_rows").cast("double"),
            6,
        ).alias("scan_fraction"),
    )


# --------------------------------------------------------------------
# Triangle counting / clustering coefficient (graph motif)
# --------------------------------------------------------------------

TRI_MIN_SUPPORT = 2  # co-purchase edges need >= 2 shared orders


@register(
    "part_copurchase_triangles",
    oracle=f"""
    WITH ip AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM ip a
      JOIN ip b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUPPORT}
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.pa = e1.pb
      JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) / 2 AS BIGINT) AS n_edges,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT agg.n_nodes, agg.n_edges, tri.n_triangles, agg.n_wedges,
           CASE WHEN agg.n_wedges > 0 THEN
             CAST(round(3.0 * CAST(tri.n_triangles AS DOUBLE)
                        / CAST(agg.n_wedges AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT)
           END AS global_clustering_micro
    FROM agg CROSS JOIN tri
    """,
    tags=("graph", "motif", "analytics"),
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the part
    co-purchase graph — the graph-motif health check behind
    recommendation quality (triangle-rich co-purchase neighborhoods
    = coherent product affinities) and community-structure audits;
    the motif-counting complement to the connectivity-only dup
    clustering and the flow-based PageRank. Nodes are parts, an edge
    joins parts bought together in ≥ {TRI_MIN_SUPPORT} orders; one
    row: nodes, edges, triangles, wedges (open 2-paths), and the
    clustering coefficient 3·triangles/wedges in integer micro units.

    Exactness: every motif count is an exact integer over an exact
    integer edge list; the lone division quantizes to micro.

    Scale (100 TB): per-order pair emit is the basket-bounded
    quadratic (the SNM/posting-emit discipline — baskets are small by
    nature, and the support threshold prunes the edge list before any
    quadratic-in-graph work); the triangle join enumerates each edge
    pair once under the a<b<c orientation — at web scale the same
    join runs degree-ordered (orient each edge toward the higher-
    degree endpoint) to bound per-vertex fan-out, which this plan
    swaps in by replacing the id comparator with a (degree, id)
    struct comparator. The edge list localCheckpoints once and feeds
    all three triangle sides plus the degree aggregate."""
    li = load(spark, sf_dir, "lineitem")
    ip = li.select("l_orderkey", "l_partkey").distinct()
    a = ip.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = ip.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= TRI_MIN_SUPPORT)
        .select("pa", "pb")
        .localCheckpoint(eager=True)  # 3 triangle sides + degree agg
    )
    e1 = e.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
    e2 = e.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
    e3 = e.select(F.col("pa").alias("x"), F.col("pb").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    return agg.join(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        # wedge-free graphs (perfect matchings) leave the coefficient
        # undefined: NULL in both engines (0/0 is NULL in non-ANSI
        # Spark but NaN in DuckDB — a silent hash split unguarded)
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                3.0
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
                * 1e6,
                0,
            ).cast("bigint"),
        ).alias("global_clustering_micro"),
    )


# --------------------------------------------------------------------
# Positional phrase search (exact-phrase retrieval)
# --------------------------------------------------------------------

# Literal phrase battery — mixed 2- and 3-term phrases with non-trivial
# fixture hit counts, mirroring the registered BM25 battery's fixed-
# query design (the battery is config, not data).
PHRASE_BATTERY = ("table hash", "customer join", "small query line")


def _phrase_oracle() -> str:
    branches = []
    for ph in PHRASE_BATTERY:
        terms = ph.split(" ")
        joins = "\n        ".join(
            f"JOIN w t{i} ON t{i}.doc_id = t0.doc_id"
            f" AND t{i}.pos = t0.pos + {i} AND t{i}.wd = '{t}'"
            for i, t in enumerate(terms[1:], start=1)
        )
        branches.append(f"""
      SELECT '{ph}' AS phrase, t0.doc_id,
             CAST(count(*) AS BIGINT) AS n_matches
      FROM w t0
        {joins}
      WHERE t0.wd = '{terms[0]}'
      GROUP BY 1, 2""")
    body = "\n      UNION ALL\n".join(branches)
    return f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS wd,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
{body}
    """


@register(
    "docs_phrase_search",
    oracle=_phrase_oracle(),
    tags=("llm", "retrieval", "positional"),
)
def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over a positional inverted index — the
    quoted-query operator BM25's bag-of-words scoring cannot express:
    for each battery phrase, every document containing the words
    CONSECUTIVELY, with its occurrence count. One row per (phrase,
    matching doc).

    Exactness: occurrence counts are exact integers from positional
    equality; positions are engine-local ordinals used only in
    relative offsets, so 0- vs 1-based never leaks.

    Scale (100 TB): the positional posting frame (doc, word, pos) is
    built ONCE (a generator over the scan, checkpointed for the m
    join sides) and each phrase resolves as the classic m-way
    positional self-join — equi-keyed on (doc, pos±offset, word),
    hash-partitioned, no window, no regex over full text (a
    contains-style LIKE would false-positive across word boundaries
    and re-scan the corpus per phrase). In production the rarest term
    drives the join order; AQE's runtime stats pick that up from the
    word-filtered side sizes."""
    d = load(spark, sf_dir, "documents")
    battery_terms = sorted({t for ph in PHRASE_BATTERY for t in ph.split(" ")})
    # only the battery terms' postings survive any downstream join, so
    # filter BEFORE the checkpoint: the materialized frame holds the
    # battery posting lists, not every token of every document
    w = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "wd"),
        )
        .filter(F.col("wd").isin(battery_terms))
        .localCheckpoint(eager=True)
    )
    out = None
    for ph in PHRASE_BATTERY:
        terms = ph.split(" ")
        j = (
            w.filter(F.col("wd") == terms[0])
            .select("doc_id", F.col("pos").alias("p0"))
        )
        for i, t in enumerate(terms[1:], start=1):
            ti = w.filter(F.col("wd") == t).select(
                "doc_id", (F.col("pos") - i).alias("p0")
            )
            j = j.join(ti, ["doc_id", "p0"])
        hit = j.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches")
        ).select(F.lit(ph).alias("phrase"), "doc_id", "n_matches")
        out = hit if out is None else out.unionByName(hit)
    return out
