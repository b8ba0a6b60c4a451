"""Scale-stress heavy operator families: does shuffle volume grow linearly?

Inflates the sf0.1 documents/embeddings fixtures k× (k = 1, 2, 4) and
runs the production near-dup queries — plus BM25 retrieval, k-means,
DSIR selection, and the composed curation pipeline — at each size in a fresh
session with event logging on, then sums per-task shuffle write bytes
from the event log. The check is the growth EXPONENT between sizes
(log bytes-ratio / log size-ratio):

- ``docs_minhash_lsh_pairs`` and ``docs_dup_clusters`` must stay
  ~linear (exponent ≤ 1.35): banded LSH emits O(n·bands) bucket rows
  and label propagation touches each edge a bounded number of rounds.
- ``embeddings_dedup_apply`` rides the DELIBERATELY exact all-pairs
  GEMM (`llm/similarity.py` documents the trade); its shuffle may grow
  up to quadratically (exponent ≤ 2.3 asserted) — the linear-scale
  alternative is the LSH/IVF kNN family.

Inflation preserves semantics-per-copy:
- documents: copy c prefixes every word with ``c{c}x`` — a bijection
  on shingles, so each copy reproduces the original near-dup pair set
  exactly and copies share NO shingles (pair count scales ×k, never
  ×k²).
- embeddings: copy c uses fresh unit Gaussians from ``rng(c)`` —
  near-orthogonal to everything, so planted cluster structure stays
  constant while corpus size scales (random-pair cosine still crosses
  the 0.42 fixture threshold at its background rate, which is why the
  exact path's pair count is intrinsically quadratic-rate there).

Usage:  python tools/scale_stress.py [base_sf_dir]
Writes STRESS_local.json at the repo root.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = (
    "docs_minhash_lsh_pairs",
    "docs_dup_clusters",
    "embeddings_dedup_apply",
    "docs_bm25_topk",
    "embeddings_kmeans",
    "docs_dsir_weights",
    "corpus_curation_e2e",
    "docs_minhash_incremental_pairs",
    "embeddings_semdedup",
    "embeddings_semdedup_scaledk",
    "docs_segment_dedup_apply",
    "retrieval_hybrid_rrf",
    "docs_incremental_exact_dedup",
    "docs_incremental_exact_dedup_shufflejoin",
    "embeddings_semdedup_ivf_scaledk",
    "docs_nb_lang_classifier",
    "docs_bigram_backoff_surprisal",
    "docs_bloom_decontamination",
    "docs_winnowing_fingerprints",
    "docs_simhash_band_pairs",
    "docs_cdc_chunks",
)
SCALES = (1, 2, 4)


def _semdedup_scaledk(spark, sf_dir):
    """Production SemDeDup path: k data-derived (∝ corpus size), so
    expected cluster size — and with it the within-cluster quadratic
    pair scan — stays constant under inflation."""
    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import semdedup

    return semdedup(spark, sf_dir, k=None)


def _semdedup_ivf_scaledk(spark, sf_dir):
    """Over-broadcast-ceiling SemDeDup: iterated k-means clusterer with
    data-derived k (k ∝ n keeps cluster sizes — and the within-cluster
    pair scan — constant under inflation; Lloyd adds `iterations` linear
    corpus passes, never a superlinear shuffle)."""
    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import semdedup_ivf

    return semdedup_ivf(spark, sf_dir, k=None)


def _incremental_dedup_shufflejoin(spark, sf_dir):
    """docs_incremental_exact_dedup with broadcast joins disabled — the
    plan a 100 TB corpus forces once the distinct corpus-hash set
    outgrows the broadcast threshold (at fixture scale AQE would
    broadcast it). Disabling autoBroadcastJoinThreshold (plan-time AND
    AQE's runtime conversion both read it) degrades the membership join
    to the hash-partitioned shuffle join the production path relies on;
    the harness then asserts its shuffle grows LINEARLY in corpus
    size — the reference's bronze_incremental_load.sql:61-62 anti-join
    contract at scale."""
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries

    # runtime conf on the per-query fresh session; it dies with it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return all_queries()["docs_incremental_exact_dedup"].fn(spark, sf_dir)


def _margin_mining_fixedq(spark, sf_dir):
    """embeddings_margin_mining with the held-out side PINNED to the
    base copy (doc_id < the inflation shift): the production shape —
    the query set does not grow with the corpus — so the pair frame
    and both k-NN shuffles must track corpus size ~linearly. Without
    the pin, fixture inflation grows both sides and measures the
    intrinsically quadratic all-pairs frame instead of the operator."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        embeddings_margin_mining,
    )

    return embeddings_margin_mining(spark, sf_dir, test_ceiling=10_000_000)


def _semdedup_hier_scaledk(spark, sf_dir):
    """Hierarchical (RP-tree) SemDeDup with data-derived k — the
    at-scale clusterer: ceil(log_b k) mean-centered salted-hyperplane
    split levels, O(n·log k·d) compute, no k·d broadcast, balanced
    cells feeding the shared within-cell prune. This is the production
    path past the flat scaled-k variants' O(n·k) assignment wall
    (BENCH_rung_16x measured ivf_scaledk at exponent 1.16).

    Broadcast is disabled (the _incremental_dedup_shufflejoin rule):
    at 1x the checkpointed assign frame is small enough that AQE
    broadcasts the within-cell pair join (1x shuffle 0.31 MB vs the
    flat variant's 1.9 MB), and the 2x threshold crossing then reads
    as a fake 2.7 growth exponent. Forcing the shuffle join at every
    size measures the asymptotic shape — which is what a 100 TB
    corpus runs anyway. Per-level (cell -> mean) joins keep their
    explicit broadcast HINTS (hints override the threshold), exactly
    like production."""
    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import (
        semdedup_hier,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return semdedup_hier(spark, sf_dir, k=None)


def _knn_gemm_fixedq(spark, sf_dir):
    """knn_cosine_gemm with the query block PINNED to the base copy
    (vec_id < the inflation shift): the production shape — a fixed
    probe set against a growing corpus — so the driver-side collect is
    O(|probe set|) and both the GEMM candidate emit and the exact
    scalar pair frame must track corpus size ~linearly. Without the
    pin the vec_id % 50 block grows with the corpus and the stress
    measures the intrinsically quadratic all-pairs frame instead of
    the operator (the same class margin mining's fixedq pin closes)."""
    from python_nyc_taxi_data_pipeline_spark.llm.similarity import (
        knn_cosine_gemm,
    )

    return knn_cosine_gemm(spark, sf_dir, query_ceiling=10_000_000)


# Non-registered callables stressed alongside the registry queries.
EXTRA_FNS = {
    "embeddings_semdedup_scaledk": _semdedup_scaledk,
    "docs_incremental_exact_dedup_shufflejoin": _incremental_dedup_shufflejoin,
    "embeddings_semdedup_ivf_scaledk": _semdedup_ivf_scaledk,
    "embeddings_semdedup_hier_scaledk": _semdedup_hier_scaledk,
    "embeddings_margin_mining_fixedq": _margin_mining_fixedq,
    "knn_cosine_gemm_fixedq": _knn_gemm_fixedq,
}


def _hier_contract_shufflejoin(spark, sf_dir):
    """The hier contract with broadcast disabled — the same measurement rule as
    _semdedup_hier_scaledk: both its clusterer pair joins cross the
    AQE broadcast threshold between 1x and 2x, which reads as a fake
    super-linear step (measured 1.371 with broadcast on, from the 1x
    frames riding BHJ for free)."""
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return all_queries()["embeddings_semdedup_hier_contract"].fn(spark, sf_dir)


# registered query with a bespoke measurement rule
EXTRA_FNS.update(
    {"embeddings_semdedup_hier_contract": _hier_contract_shufflejoin}
)


MAX_EXPONENT = {
    # Near-dup family (r4): banded LSH / label propagation are linear;
    # embeddings_dedup_apply rides the documented exact all-pairs GEMM.
    "docs_minhash_lsh_pairs": 1.35,
    "docs_dup_clusters": 1.35,
    "embeddings_dedup_apply": 2.3,
    # Retrieval / clustering / selection / composed curation: all are
    # claimed linear-shuffle designs (broadcast stats or k·d-bounded
    # aggregation states) — hold them to the same ~linear bar.
    "docs_bm25_topk": 1.35,
    "embeddings_kmeans": 1.35,
    "docs_dsir_weights": 1.35,
    "corpus_curation_e2e": 1.35,
    # Incremental minhash probes the persisted band index with the new
    # batch only; SemDeDup is nearest-of-k-seed clustering + within-
    # cluster pruning — both claimed linear.
    "docs_minhash_incremental_pairs": 1.35,
    "embeddings_semdedup": 1.35,
    # Segment dedup shuffles one packed-long row per segment (the
    # inflation's word-prefix bijection means copies share no segments
    # — keeper groups scale *k); hybrid RRF is BM25's scan-linear plan
    # plus bounded anchor/fusion joins.
    "docs_segment_dedup_apply": 1.35,
    "retrieval_hybrid_rrf": 1.35,
    # Data-derived k (k ∝ n): cluster sizes stay constant under
    # inflation, so the pair-scan shuffle must stay ~linear too.
    "embeddings_semdedup_scaledk": 1.35,
    # Incremental exact dedup: batch×corpus-hash membership join + one
    # keep-first window — hash-keyed shuffles, both sides linear in
    # corpus size. The _shufflejoin variant pins the SAME bound with
    # broadcast disabled (the over-threshold 100 TB degradation path).
    "docs_incremental_exact_dedup": 1.35,
    "docs_incremental_exact_dedup_shufflejoin": 1.35,
    "embeddings_semdedup_ivf_scaledk": 1.35,
    # NB classifier: model build + scoring are map-side-combined aggs
    # over corpus explodes; the only doc-keyed shuffles are the per-doc
    # rollups — linear by design.
    "docs_nb_lang_classifier": 1.35,
    # Bigram backoff LM: bigram/unigram count aggs (the word-prefix
    # inflation bijection grows both vocab and bigram types ~k) + one
    # per-doc rollup; both LM tables prune to constants pre-broadcast.
    "docs_bigram_backoff_surprisal": 1.35,
    # Bloom decontamination: filter size is data-derived (bits-per-item
    # constant), so the probe/build shuffles and the candidate-remnant
    # exact join must all track corpus size ~linearly.
    "docs_bloom_decontamination": 1.35,
    # Winnowing: per-doc selection is embarrassingly linear; the
    # shared-fingerprint pair emit rides posting lists whose df the
    # word-prefix inflation bijection preserves (copies share no
    # grams), so pairs — and their shuffle — scale ~k.
    "docs_winnowing_fingerprints": 1.35,
    # SimHash band search: 60-vote fingerprint agg + 4 band rows per
    # doc are linear; bijected copies hash to fresh fingerprints, so
    # band buckets keep constant occupancy profiles under inflation
    # and the capped quadratic emit stays ~k.
    "docs_simhash_band_pairs": 1.35,
    # CDC chunking: the boundary fold is map-side array logic; the only
    # shuffles are the (doc_id, chunk)-keyed hash agg and the 16-byte
    # chunk-hash count join — both linear in corpus size.
    "docs_cdc_chunks": 1.35,
    # Staged r7: OPH rides the same banded-bucket emit as the k-perm
    # family (bijected copies pair among themselves); semantic decon's
    # only shuffle is the test-sized argmax partial agg (the corpus
    # STREAMS against the broadcast held-out block); vocab growth is
    # one word-key count agg (the prefix bijection grows vocab ~k);
    # margin mining with the held-out side pinned shuffles the
    # test×corpus pair frame, linear in corpus size.
    "docs_minhash_oph_pairs": 1.35,
    "docs_semantic_decontamination": 1.35,
    "corpus_vocab_growth": 1.35,
    "embeddings_margin_mining_fixedq": 1.35,
    # kNN GEMM with the probe block pinned to the base copy: the
    # corpus streams through mapInPandas against a constant query
    # matrix (candidate emit = |corpus| batches x constant top-k) and
    # the exact-side broadcast pair frame is query-bounded — both
    # shuffles ~linear in corpus size.
    "knn_cosine_gemm_fixedq": 1.35,
    # Hierarchical SemDeDup: per level one (cell, dim) mean aggregate
    # (linear) + a map-side sign split; levels grow log(k), and the
    # balanced cells keep the within-cell pair shuffle ~n·cell_size.
    "embeddings_semdedup_hier_scaledk": 1.35,
    # Edit-similarity verify rides the inverted-index pair emit (the
    # prefix bijection keeps copies pairing only among themselves, so
    # candidate pairs — and the text-fetch joins — scale ~k); the
    # Levenshtein DP itself is per-pair compute, no shuffle.
    "docs_edit_similarity_pairs": 1.35,
    # PCA's single shuffle is the 4161-state moment aggregation —
    # map-side combined to a CONSTANT number of rows per partition, so
    # shuffle bytes should stay ~flat while scan time grows linearly.
    "embeddings_pca_power": 1.35,
    # JS divergence: one (source, token) count shuffle over the
    # Zipf-compressed vocab (the prefix bijection grows vocab ~k); the
    # pair stage is bounded by source cardinality, not corpus size.
    "docs_source_js_divergence": 1.35,
    # CCNet cuts: LM scoring is the stressed surprisal plan; the exact
    # cut adds one per-lang window shuffle (~k rows), the histogram
    # contract adds the bounded (lang, bin) agg + the eval-only ntile.
    "docs_ccnet_perplexity_buckets": 1.35,
    "docs_ccnet_histogram_cut_contract": 1.35,
    # Cluster report: label propagation (stressed via docs_dup_clusters)
    # plus two corpus-keyed hash aggregates — linear by design.
    "docs_dup_cluster_report": 1.35,
    # Kneser-Ney: one bigram-count agg (the word-prefix bijection grows
    # bigram types ~k) + three bigram-type-scale aggregates/joins; the
    # TakeOrdered head is constant-size.
    "docs_kneser_ney_bigrams": 1.35,
    # Relational staged r7 (key-shifted orders/customer/lineitem/events
    # inflation): Benford/profile/RFM/z-order are single-scan hash
    # aggregates whose group counts are either literal (9 digits, 6
    # columns, 128 file slots) or key-bounded (customers, QI classes) —
    # map-side combine keeps their shuffles ~flat-to-linear. PageRank's
    # fact work is the one edge aggregation (25x25 groups); iterations
    # are dimension-size. MAD's exact percentile buffers the value
    # column through its aggregate, linear by construction. The
    # entropy query shuffles per-(user, bucket) partials, users ~k.
    "orders_benford_audit": 1.35,
    "orders_column_profile": 1.35,
    "orders_rfm_segments": 1.35,
    "orders_zorder_skipping_contract": 1.35,
    "nation_trade_pagerank": 1.35,
    "customer_mad_outliers": 1.35,
    "customer_k_anonymity": 1.35,
    "events_interarrival_entropy": 1.35,
    # Phrase search: the positional posting build scans the whole
    # corpus but the per-phrase joins see only the battery terms'
    # postings — the word-prefix inflation bijection pins those to the
    # base copy, so join shuffles stay ~flat while the scan grows.
    # (Triangles are deliberately NOT stressed: duplicated baskets
    # inflate co-purchase SUPPORT itself, so the stress would measure
    # the inflation scheme's edge blow-up, not the operator.)
    "docs_phrase_search": 1.35,
    # Staged r8. Token contamination: tokenization is the vocab join
    # (vocab grows ~k under the prefix bijection), the gram probe is a
    # gram-keyed equi-join with both sides ~k. Rerank cascade: the
    # probe block is ORDER BY doc_id LIMIT 5 — pinned to the base copy
    # under key-shifted inflation (the production bounded-query shape),
    # so stage 1 streams the ~k corpus once and stage 2 stays
    # rank-bounded. Cross-source matrix / mix shift / threshold sweep
    # ride the stressed pair/cluster plans plus |sources|²- or
    # band-bounded rollups. The events family (retention, lifecycle,
    # sessions, conversion lag) shuffles once on user_id (users ~k,
    # events/user constant). Dimension stats / brier / chunk plan /
    # rule attribution / distinctive terms are single-scan hash
    # aggregates with bounded or vocab-(~k)-sized groups. Gini's only
    # corpus shuffle is the per-customer spend agg (customers ~k; the
    # bucket self-join is domain-bounded). PQ distortion adds an
    # (M·K)-group agg on the broadcast-codebook assignment scan.
    "docs_token_space_contamination": 1.35,
    "retrieval_rerank_cascade": 1.35,
    "docs_quality_brier_reliability": 1.35,
    "docs_source_distinctive_terms": 1.35,
    "docs_cross_source_duplication": 1.35,
    "events_weekly_retention_cohorts": 1.35,
    "events_user_lifecycle": 1.35,
    "docs_rag_chunk_plan": 1.35,
    "embeddings_dimension_stats": 1.35,
    "docs_lang_confusion_matrix": 1.35,
    "customer_spend_gini_contract": 1.35,
    "docs_dedup_survivorship_mix_shift": 1.35,
    "events_session_stats": 1.35,
    "docs_neardup_threshold_sweep": 1.35,
    "events_conversion_lag_histogram": 1.35,
    "embeddings_pq_distortion_report": 1.35,
    "docs_gopher_rule_attribution": 1.35,
    # Staged r9. BPE round-trip is the vocabulary join (vocab ~k under
    # the prefix bijection) + one lang-group agg; ship latency is the
    # co-partitioned fact-fact join (both sides ~k) + a bounded agg;
    # seasonality/l-diversity are single-scan aggregates with literal-
    # or key-bounded groups; norm outliers is two scans reducing to a
    # one-row moment frame; boilerplate mass is the (source, gram) df
    # agg + a vocab-bounded template join-back.
    "docs_bpe_roundtrip_contract": 1.35,
    "lineitem_ship_latency_histogram": 1.35,
    "orders_seasonality_profile": 1.35,
    "embeddings_norm_outliers": 1.35,
    "customer_l_diversity": 1.35,
    "docs_boilerplate_ngram_mass": 1.35,
    # PII scrub is per-row codegen + a |sources|-group agg; CUSUM's
    # event-volume work is the one daily-count agg (day spine is
    # calendar-bounded); cosine calibration's pair frame is a CONSTANT
    # probe block — its shuffle should stay ~flat under inflation.
    "docs_pii_scrub_contract": 1.35,
    "events_error_cusum": 1.35,
    "embeddings_cosine_calibration": 1.35,
    # Staged r10. DoReMi rides the stressed surprisal plan + a
    # |sources|-group agg; IVF balance / budget plan are single-scan
    # bounded-group aggregates; degrees ride the stressed pair plan;
    # DAU/WAU's event-volume work is the one distinct (user, day) agg
    # (the spine fan-out is calendar-bounded).
    "docs_doremi_reweight_step": 1.35,
    "embeddings_ivf_balance_report": 1.35,
    "docs_dedup_graph_degrees": 1.35,
    "events_dau_wau_stickiness": 1.35,
    "corpus_token_budget_plan": 1.35,
    # Attribution rides the token-contamination inverted-index probe
    # (both gram sides ~k); pareto is one user-key agg + histogram
    # arithmetic; SLA is the co-partitioned fact join + bounded agg.
    "docs_contamination_attribution": 1.35,
    "events_power_user_pareto": 1.35,
    "orders_priority_sla": 1.35,
    # Curriculum is ONE shard-key partition sort (positions) + a
    # bounded manifest rollup; the quantization sweep is a scan with a
    # constant 4-way fan-out into a 4-group agg.
    "docs_curriculum_shard_manifest": 1.35,
    # r11 seed: three chained Arrow map stages over a BOUNDED synthetic
    # video block (doc_id < 200) — zero shuffle at every scale (the
    # vacuous-pass class, like docs_rag_chunk_plan).
    "docs_frame_sample_contract": 1.35,
    # r11 slate. Short-frame/audio are the same bounded zero-shuffle
    # synthetic-block class as the seed; distillation labels ride the
    # cascade's corpus-linear stage-1 scan (everything downstream is
    # |probes|·k); stream-batch parity re-runs the incremental band
    # probes to closure — the per-step index join is the registered
    # incremental query's linear shape, ×4 steps; repetition is a
    # doc-keyed window sort + (doc, tri) hash agg, both combinable;
    # novelty is the Zipf-compressed (gram → min doc) agg + gram-key
    # join (the contamination-index shape); the IVF curve streams the
    # corpus twice vs broadcast constant frames; the salted contract's
    # exchanges are constant-width by construction.
    "docs_short_frame_contract": 1.35,
    "docs_audio_window_features": 1.35,
    "retrieval_distillation_labels": 1.35,
    "docs_minhash_stream_batch_parity": 1.35,
    "docs_repetition_profile": 1.35,
    "docs_ngram_novelty": 1.35,
    "embeddings_ivf_recall_probe_curve": 1.35,
    "lineitem_salted_distinct_contract": 1.35,
    # r11 closer: t-closeness is one corpus scan to the (QI × segment)
    # hash aggregate; everything downstream is QI-domain metadata.
    "customer_t_closeness": 1.35,
    # the hier contract runs the O(n log k) tree (stressed standalone
    # at 1.173) plus the flat scaled-k comparator (0.967).
    "embeddings_semdedup_hier_contract": 1.35,
    # peak concurrency = sessionization + a 2-rows-per-session
    # boundary frame on the banded prefix scaffold.
    "events_peak_concurrency": 1.35,
    # bootstrap is a map-side weight draw + a B-group agg.
    "docs_length_bootstrap_ci": 1.35,
    # llm/staged_r14–staged_r19: aggregates over bounded metadata
    # domains after one scan, so near-linear like the rest.
    "corpus_filter_ablation_lattice": 1.35,
    "customer_churn_training_frame": 1.35,
    "customer_cohort_repeat_rate": 1.35,
    "customer_order_gap_percentiles": 1.35,
    "docs_bpe_vocab_size_curve": 1.35,
    "docs_char_entropy_quality": 1.35,
    "docs_image_text_alignment_contract": 1.35,
    "docs_lang_temperature_ladder": 1.35,
    "docs_license_propagation_contract": 1.35,
    "docs_simhash_bit_bias": 1.35,
    "docs_source_lang_association": 1.35,
    "docs_stratified_split_manifest": 1.35,
    "docs_ttr_window_profile": 1.35,
    "docs_vocab_coverage_ladder": 1.35,
    "embeddings_quantization_sweep": 1.35,
    "events_ab_cuped_readout": 1.35,
    "events_ab_srm_check": 1.35,
    "events_burstiness_fano": 1.35,
    "events_error_context_window": 1.35,
    "events_halflife_engagement": 1.35,
    "events_power_mde_planner": 1.35,
    "events_session_path_trigrams": 1.35,
    "events_session_survival_curve": 1.35,
    "events_type_entropy_rate": 1.35,
    "events_value_iqr_trimmed_stats": 1.35,
    "events_weekly_retention_triangle": 1.35,
    "lineitem_approx_percentile_contract": 1.35,
    "lineitem_business_day_latency": 1.35,
    "lineitem_salted_join_contract": 1.35,
    "nation_trade_reciprocity": 1.35,
    "orders_benford_first_digit": 1.35,
    "orders_daily_autocorr": 1.35,
    "orders_did_readout": 1.35,
    "orders_dow_adjusted_anomalies": 1.35,
    "orders_hilbert_vs_zorder_quality": 1.35,
    "orders_naive_forecast_eval": 1.35,
    "orders_priority_mix_drift_tvd": 1.35,
    "orders_priority_trend_ols": 1.35,
    "orders_runs_test": 1.35,
    "orders_temporal_dim_join": 1.35,
    "orders_theil_sen_trend": 1.35,
    "orders_volume_changepoint": 1.35,
    "part_price_type_anova": 1.35,
    "part_type_brand_hhi": 1.35,
}
EVENTLOG_DIR = "/tmp/spark-stress-eventlogs"


def build_inflated(base_sf_dir: str, k: int, outdir: str) -> None:
    """Materialize a k×-inflated fixture dir (documents, embeddings,
    and the relational fact tables orders/lineitem/customer/events
    rewritten with key-shifted copies; every other table symlinked
    from the base dir)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_sf_dir, "documents.parquet"))
    d = docs.to_pandas()
    parts = []
    for c in range(k):
        p = d.copy()
        p["doc_id"] = p["doc_id"] + c * 10_000_000
        if c > 0:
            prefix = f"c{c}x"
            p["text"] = p["text"].map(
                lambda t: " ".join(prefix + w for w in t.split(" "))
            )
        parts.append(p)
    import pandas as pd

    docs_all = pd.concat(parts, ignore_index=True)
    # Small row groups: a single-row-group file reads as ONE Spark
    # partition, and a 1-partition plan satisfies every distribution
    # trivially — AQE then ELIDES all exchanges and the harness would
    # measure 0 shuffle bytes (observed: docs_segment_dedup_apply
    # reported 59 bytes). 16 row groups per file keeps the stress run
    # representative of a multi-executor scan.
    pq.write_table(
        pa.Table.from_pandas(docs_all, preserve_index=False),
        os.path.join(outdir, "documents.parquet"),
        row_group_size=max(1, len(docs_all) // 16),
    )

    emb = pq.read_table(os.path.join(base_sf_dir, "embeddings.parquet")).to_pandas()
    dim = len(emb["embedding"].iloc[0])
    eparts = [emb]
    for c in range(1, k):
        rng = np.random.default_rng(c)
        vecs = rng.normal(size=(len(emb), dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        p = emb.copy()
        p["vec_id"] = p["vec_id"] + c * 10_000_000
        p["embedding"] = [row.astype(np.float32).tolist() for row in vecs]
        eparts.append(p)
    emb_all = pd.concat(eparts, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(emb_all, preserve_index=False),
        os.path.join(outdir, "embeddings.parquet"),
        row_group_size=max(1, len(emb_all) // 16),
    )

    # Relational fact tables, inflated by key-shifted copies so the
    # orders/customer/events staged queries scale too (attributes stay
    # identical; keys shift by the same c*10M convention as doc_id).
    # l_orderkey shifts WITH o_orderkey so every lineitem copy still
    # joins its order copy; o_custkey / l_suppkey stay unshifted so
    # dimension joins keep resolving. No pre-existing stress query
    # reads these tables, so inflating them changes nothing else.
    _REL_SHIFTS = {
        "orders.parquet": ("o_orderkey",),
        "lineitem.parquet": ("l_orderkey",),
        "customer.parquet": ("c_custkey",),
        "events.parquet": ("event_id", "user_id"),
    }
    for name, shift_cols in _REL_SHIFTS.items():
        t = pq.read_table(os.path.join(base_sf_dir, name)).to_pandas()
        for col in shift_cols:
            # a base key at/above the shift would alias into copy-1's
            # key space and silently corrupt every downstream join the
            # stress then measures — same guard class as merge_into's
            # _REPLAY_SHIFT raise_error
            assert int(t[col].max()) < 10_000_000, (
                f"{name}.{col} max {int(t[col].max())} >= 10M shift: "
                "raise the key-shift before inflating this fixture"
            )
        tparts = [t]
        for c in range(1, k):
            p = t.copy()
            for col in shift_cols:
                p[col] = p[col] + c * 10_000_000
            tparts.append(p)
        t_all = pd.concat(tparts, ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(t_all, preserve_index=False),
            os.path.join(outdir, name),
            row_group_size=max(1, len(t_all) // 16),
        )

    for f in glob.glob(os.path.join(base_sf_dir, "*.parquet")):
        name = os.path.basename(f)
        if name in ("documents.parquet", "embeddings.parquet", *_REL_SHIFTS):
            continue
        dst = os.path.join(outdir, name)
        if not os.path.exists(dst):
            os.symlink(f, dst)


def shuffle_bytes_from_eventlog(log_dir: str, app_id: str) -> int:
    """Sum Shuffle Bytes Written across all SparkListenerTaskEnd events.
    Handles both single-file and rolling (eventlog_v2_<appid>/events_*)
    layouts; compression is disabled in the session config."""
    candidates = []
    for path in glob.glob(os.path.join(log_dir, f"*{app_id}*")):
        if os.path.isdir(path):
            candidates.extend(glob.glob(os.path.join(path, "events_*")))
        else:
            candidates.append(path)
    total = 0
    for path in candidates:
        with open(path, errors="replace") as f:
            for line in f:
                if '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                total += int(sw.get("Shuffle Bytes Written", 0))
    return total


def run_query(name: str, sf_dir: str) -> dict:
    """One query in a fresh session with event logging; returns metrics."""
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    os.makedirs(EVENTLOG_DIR, exist_ok=True)
    spark = get_session(
        f"stress-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVENTLOG_DIR}",
            "spark.eventLog.compress": "false",
            # split the small fixture files across input partitions so
            # the measured plans shuffle like a real multi-executor scan
            "spark.sql.files.maxPartitionBytes": "262144",
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    app_id = spark.sparkContext.applicationId
    t0 = time.perf_counter()
    fn = EXTRA_FNS.get(name) or all_queries()[name].fn
    df = fn(spark, sf_dir)
    # Force FULL evaluation via an observed noop write. A bare
    # df.count() lets Catalyst eliminate the query: e.g. a left outer
    # join back to the corpus on a groupBy key is provably unique on
    # the build side, so count(*) collapses to a naked file scan and
    # the harness measures 0 shuffle (observed: segment dedup reported
    # 59 bytes while really shuffling megabytes).
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop"
    ).mode("overwrite").save()
    rows = int(obs.get["rows"])
    sec = round(time.perf_counter() - t0, 3)
    spark.stop()
    time.sleep(1)  # let the event log flush/close
    return {
        "sec": sec,
        "rows": rows,
        "shuffle_write_bytes": shuffle_bytes_from_eventlog(EVENTLOG_DIR, app_id),
    }


def bpe_mode(base: str) -> int:
    print(json.dumps(bpe_merge_cost(base)))
    return 0


def build_bpe_vocab_fixture(base: str, outdir: str, n_new_words: int = 600) -> str:
    """Vocabulary-inflated documents fixture for the 200-merge stress:
    the base fixture has only ~31 distinct words, so serial training
    saturates near 107 merges (every word fully fused). Appending words
    formed by CONCATENATING shuffled base-word pairs (deterministic
    rng(0)) adds up to ~900 fresh seam contexts — duplicate ROWS would
    add zero new pairs; fresh concatenations are what un-saturates the
    merge space. Base docs are kept so the base merges still train."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    if os.path.exists(outdir):
        shutil.rmtree(outdir)
    os.makedirs(outdir)
    docs = pq.read_table(os.path.join(base, "documents.parquet")).to_pandas()
    vocab = sorted({w for t in docs["text"] for w in t.split(" ") if w})
    rng = np.random.default_rng(0)
    new_words: list[str] = []
    seen = set(vocab)
    attempts = 0
    while len(new_words) < n_new_words and attempts < n_new_words * 20:
        attempts += 1
        w = vocab[rng.integers(len(vocab))] + vocab[rng.integers(len(vocab))]
        if w not in seen:
            seen.add(w)
            new_words.append(w)
    next_id = int(docs["doc_id"].max()) + 1
    extra_rows = []
    per_doc = 40
    for i in range(0, len(new_words), per_doc):
        text = " ".join(new_words[i : i + per_doc])
        extra_rows.append(
            {
                "doc_id": next_id,
                "text": text,
                "lang": "en",
                "source": "bpe_stress",
                "n_chars": len(text),
            }
        )
        next_id += 1
    all_docs = pd.concat(
        [docs, pd.DataFrame(extra_rows)[docs.columns]], ignore_index=True
    )
    pq.write_table(
        pa.Table.from_pandas(all_docs, preserve_index=False),
        os.path.join(outdir, "documents.parquet"),
        row_group_size=max(1, len(all_docs) // 16),
    )
    for f in glob.glob(os.path.join(base, "*.parquet")):
        name = os.path.basename(f)
        if name != "documents.parquet":
            os.symlink(f, os.path.join(outdir, name))
    return outdir


def bpe_merge_cost(base: str, n_merges: int = 200) -> dict:
    """BPE training at a realistic merge count (stress-only; the oracle
    query proves the mechanism at N_MERGES=6), on the vocabulary-
    inflated fixture so the full merge budget is actually learnable.
    Measures (a) the exact ``batch=1`` driver-loop cost — each round is
    one pair-count shuffle + a few-row take, so per-round wall time ≈
    fixed job-scheduling overhead once the distinct-word table is small
    — and (b) ``batch=8``, the top-m non-overlapping fast-BPE
    approximation, quantifying what it buys back from that overhead."""
    from python_nyc_taxi_data_pipeline_spark.llm import bpe
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    fixture = build_bpe_vocab_fixture(base, "/tmp/stress_bpe_vocab")
    spark = get_session("stress-bpe200")

    # every trainer call recomputes from the fixture, so the two arms
    # below are independently timed
    t0 = time.perf_counter()
    merges, words, _ = bpe.bpe_train(spark, fixture, n_merges=n_merges)
    words.write.format("noop").mode("overwrite").save()
    total = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    bmerges, bwords, _ = bpe.bpe_train(spark, fixture, n_merges=n_merges, batch=8)
    bwords.write.format("noop").mode("overwrite").save()
    btotal = round(time.perf_counter() - t0, 3)
    spark.stop()
    return {
        "n_merges_requested": n_merges,
        "n_merges_learned": len(merges),
        "total_sec": total,
        "sec_per_round": round(total / max(1, len(merges)), 3),
        "batched8_n_merges_learned": len(bmerges),
        "batched8_total_sec": btotal,
        "batched8_speedup": round(total / btotal, 2) if btotal else None,
    }


def funnel_form_compare(dirs: dict) -> dict:
    """Union-of-aggregates funnel vs the single-pass conditional-
    aggregation rewrite at each inflation (the funnel docstring records
    the sf0.1 measurement where union wins; this probes whether the
    extra corpus scans invert that at larger inputs). Wall time, fresh
    session per form per scale, min of 2 runs."""
    from python_nyc_taxi_data_pipeline_spark.plans.curation import (
        corpus_curation_funnel,
        corpus_curation_funnel_singlepass,
    )
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    out: dict = {}
    forms = (
        ("union", corpus_curation_funnel),
        ("singlepass", corpus_curation_funnel_singlepass),
    )
    for k, sf_dir in dirs.items():
        per: dict = {}
        for label, fn in forms:
            spark = get_session(f"stress-funnel-{label}-x{k}")
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            spark.stop()
            per[label] = {"runs": runs, "min": min(runs)}
        per["union_over_singlepass"] = round(
            per["union"]["min"] / per["singlepass"]["min"], 2
        )
        out[str(k)] = per
        print(f"# funnel_form_compare x{k}: {per}", file=sys.stderr)
    return out


def main() -> int:
    # --bpe-only is positional-agnostic: `scale_stress.py --bpe-only`
    # must not be misread as base='--bpe-only' (which would rmtree the
    # stress dirs and crash on a nonexistent fixture path).
    args = [a for a in sys.argv[1:] if a != "--bpe-only"]
    bpe_only = "--bpe-only" in sys.argv[1:]
    # --only name,name: stress just those queries and MERGE their rows
    # into the existing STRESS_local.json (other queries' results and
    # the funnel/BPE probes are preserved) — for stressing newly added
    # operators without re-running the full multi-hour sweep.
    only: tuple[str, ...] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = tuple(args[i + 1].split(","))
        del args[i : i + 2]
        unknown = [n for n in only if n not in MAX_EXPONENT]
        if unknown:
            print(f"unknown --only queries: {unknown}", file=sys.stderr)
            return 2
    base = args[0] if args else "/root/testdata/sf0.1"
    if bpe_only:
        return bpe_mode(base)
    dirs = {}
    for k in SCALES:
        outdir = f"/tmp/stress_x{k}"
        if os.path.exists(outdir):
            shutil.rmtree(outdir)
        build_inflated(base, k, outdir)
        dirs[k] = outdir
        print(f"# built {outdir}", file=sys.stderr)

    results: dict[str, dict] = {}
    failures = []
    for name in only if only is not None else QUERIES:
        per_scale = {}
        # Unmeasured 1× warm-up so one-time costs (cache population —
        # BPE merges, data-derived k — or freshly materialized /tmp
        # state) never land in a measured run. NOTE the r7 re-sweep:
        # embeddings_dedup_apply's first exponent stayed 1.644 WITH the
        # warm-up (disproving r6's cold-start hypothesis) — it is a
        # workload-composition step, not a growth law: the BASE fixture
        # has zero identical vectors, so near-dup pair structure first
        # EXISTS at 2× (every vector gains a key-shifted twin); the
        # 1×→2× interval therefore measures "no pairs → n pairs", and
        # the steady-state 2×→4× slope (1.017) is the real scaling.
        warm = run_query(name, dirs[SCALES[0]])
        print(f"# {name} warmup x{SCALES[0]} (unmeasured): {warm}", file=sys.stderr)
        for k in SCALES:
            m = run_query(name, dirs[k])
            per_scale[str(k)] = m
            print(f"# {name} x{k}: {m}", file=sys.stderr)
        exps = []
        for lo, hi in zip(SCALES, SCALES[1:]):
            b_lo = per_scale[str(lo)]["shuffle_write_bytes"]
            b_hi = per_scale[str(hi)]["shuffle_write_bytes"]
            if b_lo > 0 and b_hi > 0:
                exps.append(
                    round(math.log(b_hi / b_lo) / math.log(hi / lo), 3)
                )
        worst = max(exps) if exps else None
        # A plan with ZERO shuffle bytes at every scale (pure scan +
        # generator, e.g. docs_rag_chunk_plan) has no exponent to
        # bound — that is the best possible shape, not a failure.
        zero_shuffle = all(
            per_scale[str(k)]["shuffle_write_bytes"] == 0 for k in SCALES
        )
        ok = (worst is not None and worst <= MAX_EXPONENT[name]) or zero_shuffle
        if not ok:
            failures.append(name)
        results[name] = {
            "scales": per_scale,
            "warmup_1x_unmeasured": warm,
            "shuffle_growth_exponents": exps,
            "worst_exponent": worst,
            "zero_shuffle": zero_shuffle,
            "max_allowed": MAX_EXPONENT[name],
            "ok": ok,
        }

    stress_path = os.path.join(ROOT, "STRESS_local.json")
    if only is not None:
        # merge mode: fold the new rows into the existing snapshot,
        # keeping every other query and the funnel/BPE probe results
        try:
            with open(stress_path) as f:
                out = json.load(f)
        except (OSError, ValueError):
            out = {
                "metric": "neardup_scale_stress",
                "base_sf_dir": base,
                "scales": list(SCALES),
                "queries": {},
            }
        out.setdefault("queries", {}).update(results)
        out["ok"] = all(q.get("ok") for q in out["queries"].values())
        with open(stress_path, "w") as f:
            f.write(json.dumps(out) + "\n")
        print(json.dumps({k: results[k]["worst_exponent"] for k in results}))
        return 1 if failures else 0

    # The trailing probes must not be able to discard the sweep that
    # already completed: record an error entry instead of dying.
    try:
        funnel_result = funnel_form_compare(dirs)
    except Exception as exc:  # noqa: BLE001 — report, don't lose the sweep
        funnel_result = {"error": f"{type(exc).__name__}: {exc}"[:500]}
    try:
        bpe_result = bpe_merge_cost(base)
    except Exception as exc:  # noqa: BLE001 — report, don't lose the sweep
        bpe_result = {"error": f"{type(exc).__name__}: {exc}"[:500]}
    out = {
        "metric": "neardup_scale_stress",
        "base_sf_dir": base,
        "scales": list(SCALES),
        "queries": results,
        "ok": not failures,
        "funnel_form_compare": funnel_result,
        "bpe_200_merges": bpe_result,
    }
    with open(stress_path, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
