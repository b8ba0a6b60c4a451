"""Property tests for the hash-based (non-oracled) LLM-data operators."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as E
from python_nyc_taxi_data_pipeline_spark.catalog import load
from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
    FEATURE_DIM,
    documents_as_binary,
    extract_features,
    fake_feature_extractor,
)

from tests.conftest import SF_DIR


def test_minhash_lsh_pairs_are_verified_subset(spark):
    """Every LSH pair is exact-Jaccard-verified ≥ threshold, so the
    same-lang portion must be a subset of the brute-force pair set."""
    qs = E.queries()
    lsh = qs["docs_minhash_lsh_pairs"](spark, SF_DIR)
    brute = qs["docs_ngram_jaccard_pairs"](spark, SF_DIR)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang")
    lsh_same_lang = (
        lsh.join(docs.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("lang", "lang_a")
        .join(
            docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "lang", "lang_b"
            ),
            "doc_b",
        )
        .filter(F.col("lang_a") == F.col("lang_b"))
        .select("doc_a", "doc_b", "jaccard")
    )
    extra = lsh_same_lang.join(brute, ["doc_a", "doc_b"], "left_anti")
    assert extra.count() == 0
    # and all reported similarities clear the threshold
    assert lsh.filter(F.col("jaccard") < 0.30).count() == 0


def test_simhash_deterministic_and_near_dup_property(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import simhash_table

    a = simhash_table(spark, SF_DIR).collect()
    b = simhash_table(spark, SF_DIR).collect()
    assert sorted(a) == sorted(b)  # stable across runs
    # identical text → identical simhash (hash of the word multiset)
    docs = load(spark, SF_DIR, "documents")
    sh = simhash_table(spark, SF_DIR)
    joined = docs.join(sh, "doc_id").select("text", "simhash")
    per_text = joined.groupBy("text").agg(
        F.count_distinct("simhash").alias("n_hashes")
    )
    assert per_text.filter(F.col("n_hashes") > 1).count() == 0
    # the registered contract query: every near-dup pair within the
    # Hamming bound (and there ARE pairs, so the contract has teeth)
    checks = E.queries()["docs_simhash"](spark, SF_DIR).collect()
    assert checks and all(r["hamming_le_12"] for r in checks)


def test_knn_lsh_results_agree_with_bruteforce_scores(spark):
    """Approximate top-k must report the same cosine values as brute
    force for every (query, neighbor) pair it returns."""
    qs = E.queries()
    lsh = qs["knn_cosine_lsh"](spark, SF_DIR).select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("lsh_sim")
    )
    brute = (
        qs["knn_cosine_bruteforce"](spark, SF_DIR)
        .select("query_id", "neighbor_id", F.col("cosine_sim").alias("bf_sim"))
    )
    both = lsh.join(brute, ["query_id", "neighbor_id"])
    assert both.filter(F.col("lsh_sim") != F.col("bf_sim")).count() == 0


def test_dup_clusters_match_union_find(spark):
    """Distributed connected components ≡ driver-side union-find."""
    qs = E.queries()
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in qs["docs_ngram_jaccard_pairs"](spark, SF_DIR).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}

    got = {
        r["doc_id"]: r["cluster_rep"]
        for r in qs["docs_dup_clusters"](spark, SF_DIR).collect()
    }
    all_docs = load(spark, SF_DIR, "documents").count()
    assert len(got) == all_docs
    for node, rep in expected.items():
        assert got[node] == rep, (node, got[node], rep)
    # singletons map to themselves
    singles = [d for d, r in got.items() if d not in expected]
    assert all(got[d] == d for d in singles)


def test_connected_components_raises_when_max_iter_runs_out(spark):
    """A 40-node path needs more rounds than ``max_iter=2`` allows: after
    two rounds node 39 still holds label 37, not the component's 0, so
    the call must raise instead of returning those labels."""
    import pytest

    from python_nyc_taxi_data_pipeline_spark.llm.clusters import connected_components

    edges = spark.range(39).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(edges, max_iter=2)
    comp = connected_components(edges)
    assert {r["component"] for r in comp.collect()} == {0}


def test_knn_gemm_matches_bruteforce(spark):
    """Vectorized GEMM top-k ≡ exact baseline (tolerance for float
    summation order)."""
    from python_nyc_taxi_data_pipeline_spark.llm.similarity import knn_gemm_raw

    qs = E.queries()
    bf = {}
    for r in qs["knn_cosine_bruteforce"](spark, SF_DIR).collect():
        bf.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine_sim"]))
    gm = {}
    for r in knn_gemm_raw(spark, SF_DIR).collect():
        gm.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine_sim"]))
    assert set(bf) == set(gm)
    for q in bf:
        sims_bf = sorted(s for _, s in bf[q])
        sims_gm = sorted(s for _, s in gm[q])
        assert len(sims_bf) == len(sims_gm)
        for a, b in zip(sims_bf, sims_gm):
            assert abs(a - b) < 1e-5, (q, a, b)
    # the registered contract query agrees, per query
    checks = qs["knn_cosine_gemm"](spark, SF_DIR).collect()
    assert checks and all(r["gemm_matches_exact"] for r in checks)


def test_approx_distinct_within_rsd(spark):
    """The query now self-checks the HLL sketch against the exact count
    and exposes the verdict as `hll_within_10pct` (oracle-checkable)."""
    qs = E.queries()
    rows = qs["agg_approx_distinct"](spark, SF_DIR).collect()
    exact = {
        r["o_orderpriority"]: r["n_customers"]
        for r in qs["agg_distinct_exact"](spark, SF_DIR).collect()
    }
    assert rows
    for r in rows:
        assert r["hll_within_10pct"], r
        assert r["exact_customers"] == exact[r["o_orderpriority"]], r


def test_grouped_trend_matches_closed_form(spark):
    """applyInPandas least-squares slope ≡ covar_pop/var_pop in SQL."""
    e = load(spark, SF_DIR, "events")
    from python_nyc_taxi_data_pipeline_spark.llm.grouped import user_value_trend

    trend = {
        r["user_id"]: r["value_slope_per_hour"]
        for r in user_value_trend(e).collect()
    }
    hours = (F.col("ts").cast("timestamp_ltz").cast("double") / 3600.0)
    sql_slope = {
        r["user_id"]: r["slope"]
        for r in e.groupBy("user_id")
        .agg(
            (F.covar_pop(hours, F.col("value")) / F.var_pop(hours)).alias("slope")
        )
        .collect()
    }
    assert set(trend) == set(sql_slope)
    for uid, s in trend.items():
        assert abs(s - sql_slope[uid]) < 1e-4, (uid, s, sql_slope[uid])


def test_multimodal_feature_extraction(spark):
    docs = load(spark, SF_DIR, "documents").limit(50)
    binary = documents_as_binary(docs)
    feats = extract_features(binary).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-9
        assert r["n_bytes"] > 0
    # the Spark path reproduces the pure-python extractor exactly
    one = docs.limit(1).collect()[0]
    spark_row = [r for r in feats if r["doc_id"] == one["doc_id"]][0]
    assert spark_row["features"] == fake_feature_extractor(
        one["text"].encode("utf-8")
    )


def test_stratified_sample_proportions_and_determinism(spark):
    from python_nyc_taxi_data_pipeline_spark.plans.analytics import (
        SAMPLE_FRACTIONS,
        stratified_sample_raw,
    )

    s1 = stratified_sample_raw(spark, SF_DIR)
    s2 = stratified_sample_raw(spark, SF_DIR)
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )  # fixed seed → deterministic
    totals = {
        r["lang"]: r["count"]
        for r in load(spark, SF_DIR, "documents").groupBy("lang").count().collect()
    }
    sampled = {r["lang"]: r["count"] for r in s1.groupBy("lang").count().collect()}
    for lang, frac in SAMPLE_FRACTIONS.items():
        got = sampled.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.25, (lang, got, frac)
    # the registered query reports every stratum within its binomial bound
    checks = E.queries()["stratified_sample_docs"](spark, SF_DIR).collect()
    assert checks and all(r["within_bounds"] for r in checks)


def _gradient_ppm(w, h):
    """Deterministic P6 test image: R=x*16, G=y*16, B=(x+y)*8."""
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes(((x * 16) % 256, (y * 16) % 256, ((x + y) * 8) % 256))
    return b"P6\n# test comment\n" + f"{w} {h}\n255\n".encode() + bytes(px)


def test_decode_real_pnm_payloads():
    import pytest

    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import decode_image

    # binary PPM with a header comment
    img = decode_image(_gradient_ppm(4, 3))
    assert (img["width"], img["height"], img["channels"]) == (4, 3, 3)
    assert len(img["pixels"]) == 4 * 3 * 3
    assert img["pixels"][:6] == bytes((0, 0, 0, 16, 0, 8))  # (0,0) then (1,0)

    # ASCII PGM
    pgm = b"P2\n3 2\n255\n0 10 20\n30 40 50\n"
    img2 = decode_image(pgm)
    assert (img2["width"], img2["height"], img2["channels"]) == (3, 2, 1)
    assert img2["pixels"] == bytes((0, 10, 20, 30, 40, 50))

    # unsupported / corrupt formats raise
    with pytest.raises(ValueError, match="unsupported image format"):
        decode_image(b"\x89PNG")
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n4 4\n255\n\x00\x01")


def test_decode_and_resize_real_images(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        decode_image,
        decode_images,
        resize_images,
    )

    rows = [(i, _gradient_ppm(8, 8), (len(_gradient_ppm(8, 8)), "image/x-ppm")) for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, meta struct<n_bytes:int, media_type:string>"
    )
    decoded = {r.doc_id: r for r in decode_images(df).collect()}
    assert len(decoded) == 6
    assert decoded[0].width == 8 and decoded[0].channels == 3
    assert bytes(decoded[0].pixels) == decode_image(_gradient_ppm(8, 8))["pixels"]

    resized = {r.doc_id: r for r in resize_images(df, width=4, height=4).collect()}
    out = decode_image(bytes(resized[0].payload))
    assert (out["width"], out["height"], out["channels"]) == (4, 4, 3)
    # nearest-neighbor: output pixel (x,y) = source pixel (2x, 2y)
    src = decode_image(_gradient_ppm(8, 8))
    for y in range(4):
        for x in range(4):
            di = (y * 4 + x) * 3
            si = ((y * 2) * 8 + x * 2) * 3
            assert out["pixels"][di : di + 3] == src["pixels"][si : si + 3]


def test_multimodal_resize_shape_and_determinism(spark):
    from python_nyc_taxi_data_pipeline_spark.catalog import load
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        documents_as_binary,
        resize_images,
    )

    docs = load(spark, SF_DIR, "documents").limit(50)
    out = resize_images(documents_as_binary(docs), width=8, height=8)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r.payload) == 64 and r.width == 8 for r in rows)
    # pure function of input → identical on re-run
    again = {r.doc_id: bytes(r.payload) for r in out.collect()}
    assert all(again[r.doc_id] == bytes(r.payload) for r in rows)


def test_stride_resize_fallback_matches_scalar_formula(spark):
    """The non-PNM byte-stride fallback is a numpy gather (r7 VERDICT
    finding #3); it must reproduce the original scalar kernel
    ``bytes(p[int(i * (len(p)/target))] ...)`` byte-for-byte — the
    truncation arithmetic is part of the stage's contract (the resize
    feature queries hash over these bytes)."""
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        resize_images,
    )

    # Non-PNM payloads of assorted lengths, including > and < target
    # (64 bytes at 8x8) and one that stresses float truncation edges.
    payloads = [
        bytes(range(256)),
        b"xyz" * 100,
        b"short",
        bytes([7]) * 63,
        bytes((i * 37) % 251 for i in range(1000)),
    ]
    binary = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: bytes(r.payload)
        for r in resize_images(binary, width=8, height=8).collect()
    }
    target = 64
    for i, p in enumerate(payloads):
        if len(p) >= target:
            step = len(p) / target
            want = bytes(p[int(j * step)] for j in range(target))
        else:
            reps = (target + len(p) - 1) // len(p)
            want = (p * reps)[:target]
        assert got[i] == want, f"payload {i}"


def test_multimodal_frame_sampling_fan_out(spark):
    from python_nyc_taxi_data_pipeline_spark.catalog import load
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        documents_as_binary,
        sample_frames,
    )

    docs = load(spark, SF_DIR, "documents").limit(20)
    binary = documents_as_binary(docs)
    out = sample_frames(binary, frame_bytes=32, every_nth=4).collect()
    n_bytes = {r.doc_id: r.meta.n_bytes for r in binary.collect()}
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, frames in by_doc.items():
        expect = (max(1, n_bytes[doc_id] // 32) + 3) // 4
        assert len(frames) == expect
        assert sorted(f.frame_idx for f in frames) == [4 * i for i in range(expect)]


def test_multimodal_arrow_matches_pandas_path(spark):
    from python_nyc_taxi_data_pipeline_spark.catalog import load
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        documents_as_binary,
        extract_features,
        extract_features_arrow,
    )

    docs = load(spark, SF_DIR, "documents").limit(40)
    binary = documents_as_binary(docs)
    via_pandas = {r.doc_id: r for r in extract_features(binary).collect()}
    via_arrow = {r.doc_id: r for r in extract_features_arrow(binary).collect()}
    assert via_pandas.keys() == via_arrow.keys()
    for k in via_pandas:
        assert via_pandas[k].n_bytes == via_arrow[k].n_bytes
        assert via_pandas[k].features == via_arrow[k].features


def test_dedup_apply_keeps_one_rep_per_cluster(spark):
    qs = E.queries()
    kept = {r.doc_id for r in qs["docs_dedup_apply"](spark, SF_DIR).collect()}
    clusters = {
        r.doc_id: r.cluster_rep
        for r in qs["docs_dup_clusters"](spark, SF_DIR).collect()
    }
    # kept = exactly the cluster representatives
    assert kept == {rep for rep in clusters.values()}
    # every dropped doc's representative IS kept
    for doc, rep in clusters.items():
        assert rep in kept
        if doc not in kept:
            assert clusters[rep] == rep


def test_pack_sequences_invariants(spark):
    from python_nyc_taxi_data_pipeline_spark.plans.curation import PACK_BUDGET

    rows = sorted(
        E.queries()["docs_pack_sequences"](spark, SF_DIR).collect(),
        key=lambda r: r.doc_id,
    )
    # pack ids are monotone non-decreasing in doc order and start at 0
    ids = [r.pack_id for r in rows]
    assert ids[0] == 0 and all(a <= b for a, b in zip(ids, ids[1:]))
    # a document's pack is its running offset div budget
    offset = 0
    for r in rows:
        assert r.pack_id == offset // PACK_BUDGET, r
        offset += r.n_tokens


def test_contamination_pairs_cross_split(spark):
    qs = E.queries()
    rows = qs["docs_train_test_contamination"](spark, SF_DIR).collect()
    pair_set = {
        (r.doc_a, r.doc_b)
        for r in qs["docs_ngram_jaccard_pairs"](spark, SF_DIR).collect()
    }
    for r in rows:
        assert (r.doc_a, r.doc_b) in pair_set  # subset of the near-dup pairs
        assert r.split_a != r.split_b  # and each one crosses the split


def test_embeddings_dedup_apply_consistent_with_pairs(spark):
    qs = E.queries()
    rows = {r.vec_id: r for r in qs["embeddings_dedup_apply"](spark, SF_DIR).collect()}
    pairs = [
        (r.id_a, r.id_b) for r in qs["embeddings_neardup_pairs"](spark, SF_DIR).collect()
    ]
    # no two kept vectors form a near-dup pair; every vector's rep is kept
    for a, b in pairs:
        assert not (rows[a].kept and rows[b].kept), (a, b)
    for r in rows.values():
        assert rows[r.cluster_rep].kept
        assert r.kept == (r.cluster_rep == r.vec_id)


def test_source_quota_sample_invariants(spark):
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.plans.curation import SOURCE_QUOTA

    qs = E.queries()
    rows = qs["docs_source_quota_sample"](spark, SF_DIR).collect()
    per_source = Counter(r.source for r in rows)
    assert all(n <= SOURCE_QUOTA for n in per_source.values())
    # deterministic: identical kept set on a re-run (md5 order, no rand())
    again = {r.doc_id for r in qs["docs_source_quota_sample"](spark, SF_DIR).collect()}
    assert {r.doc_id for r in rows} == again
    # a source with >= quota docs is capped exactly AT the quota
    totals = Counter(
        r.source for r in load(spark, SF_DIR, "documents").select("source").collect()
    )
    for src, total in totals.items():
        assert per_source.get(src, 0) == min(total, SOURCE_QUOTA)


def test_mixture_weights_rebalance_to_uniform(spark):
    rows = E.queries()["docs_mixture_weights"](spark, SF_DIR).collect()
    n_langs = len(rows)
    assert abs(sum(r.actual_frac for r in rows) - 1.0) < 1e-4
    # weight × actual share ≈ the uniform target share for every lang
    for r in rows:
        assert abs(r.sample_weight * r.actual_frac - 1.0 / n_langs) < 1e-4


def test_quality_median_filter_keeps_top_half_per_lang(spark):
    from collections import Counter, defaultdict

    kept = E.queries()["docs_quality_median_filter"](spark, SF_DIR).collect()
    assert all(r.pr >= 0.5 for r in kept)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars").collect()
    totals = Counter(d.lang for d in docs)
    kept_by_lang = defaultdict(list)
    for r in kept:
        kept_by_lang[r.lang].append(r)
    for lang, n in totals.items():
        ks = kept_by_lang[lang]
        # percent_rank >= 0.5 keeps the top ~half: n - ceil((n-1)/2) rows
        assert len(ks) == n - -(-(n - 1) // 2)
        # every kept doc's proxy >= every dropped doc's proxy (ties split
        # deterministically by doc_id, so compare against the strict max)
        kept_ids = {r.doc_id for r in ks}
        dropped = [d for d in docs if d.lang == lang and d.doc_id not in kept_ids]
        if dropped and ks:
            assert min(r.n_chars for r in ks) >= max(d.n_chars for d in dropped) or any(
                d.n_chars == min(r.n_chars for r in ks) for d in dropped
            )


def test_df_ceiling_drops_hot_shingle_but_keeps_clean_pairs(spark):
    """The DF_CEILING cap must (a) drop pairs whose ONLY overlap is a
    boilerplate shingle hotter than the ceiling, and (b) leave pairs
    with genuine (cool-shingle) overlap untouched. Built on a synthetic
    corpus: one hot trigram shared by MANY docs plus two true near-dups
    sharing cool trigrams."""
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        _jaccard_pairs_from,
    )

    hot = "copyright footer text"  # one trigram, shared by every doc
    rows = [(i, f"unique{i} filler{i} words{i} " + hot, "en") for i in range(12)]
    # true near-dups: identical 12-word text → jaccard 1.0 on cool grams
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows += [(100, dup, "en"), (101, dup, "en")]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    capped = _jaccard_pairs_from(spark, d, df_ceiling=8)
    exact = _jaccard_pairs_from(spark, d, None)

    capped_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    exact_pairs = {(r.doc_a, r.doc_b) for r in exact.collect()}
    # the true near-dup pair survives the cap
    assert (100, 101) in capped_pairs
    # the hot shingle (df=14 > ceiling 8) contributes no pairs when
    # capped; uncapped it may create none either (jaccard too low), so
    # assert the cap never ADDS pairs and the work was really dropped
    assert capped_pairs <= exact_pairs
    # with a sub-threshold but emit-heavy hot gram, the uncapped plan
    # materializes candidate intersections for all 12*11/2 = 66 hot
    # combos; the capped plan's grouped posting lists exclude it.
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        hashed_shingle_table,
    )

    g = hashed_shingle_table(spark, d, extra_cols=("lang",))
    posts = g.select("lang", F.explode("grams").alias("gram"), "doc_id")
    grouped = posts.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    assert grouped.filter(F.col("df") > 8).count() >= 1  # hot gram exists


def test_df_ceiling_contract_row_is_selfconsistent(spark):
    row = E.queries()["docs_jaccard_df_ceiling_contract"](spark, SF_DIR).first()
    assert row.ceiling == 64
    assert row.max_df <= row.ceiling  # fixture headroom holds
    assert row.n_hot_grams == 0
    assert row.n_pairs_capped == row.n_pairs_exact  # recall unchanged


def test_df_ceiling_contract_matches_production_capped_plan(spark):
    """The contract's FUSED capped census (one emit pass, hot-tagged
    grams) must agree with the production capped plan on a corpus where
    the cap is actually binding — both the capped and exact counts."""
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        _jaccard_contract_counts,
        _jaccard_pairs_from,
    )

    hot = "shared boilerplate footer"
    rows = [(i, f"u{i} v{i} w{i} x{i} " + hot, "en") for i in range(12)]
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows += [(100, dup, "en"), (101, dup, "en")]
    # a pair whose overlap is ONLY the hot trigram plus short uniques —
    # rides the cap boundary differently in capped vs exact
    rows += [(200, "p q r " + hot, "en"), (201, "s t u " + hot, "en")]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    row = _jaccard_contract_counts(spark, d, ceiling=8).first()
    capped_true = _jaccard_pairs_from(spark, d, 8).count()
    exact_true = _jaccard_pairs_from(spark, d, None).count()
    assert row.n_pairs_capped == capped_true
    assert row.n_pairs_exact == exact_true
    assert row.n_hot_grams >= 1  # the cap was binding in this corpus
    assert row.max_df > 8
    # and the jaccard threshold really separates the two counts here
    assert exact_true >= capped_true


def test_token_weighted_sample_overselects_long_docs(spark):
    """A-ES with weight = token count must overrepresent long docs:
    the sample's mean length exceeds the corpus mean, and the sample is
    exactly the deterministic top-k (re-running gives identical rows)."""
    qs = E.queries()
    s1 = qs["docs_token_weighted_sample"](spark, SF_DIR).collect()
    s2 = qs["docs_token_weighted_sample"](spark, SF_DIR).collect()
    assert s1 == s2  # deterministic
    d = load(spark, SF_DIR, "documents")
    corpus_mean = d.select(
        F.avg(F.size(F.split("text", " "))).alias("m")
    ).first().m
    sample_mean = sum(r.n_words for r in s1) / len(s1)
    assert sample_mean > corpus_mean
    # keys are valid A-ES draws: in (0, 1], sorted desc
    keys = [r.sample_key for r in s1]
    assert keys == sorted(keys, reverse=True)
    assert all(0 < k <= 1 for k in keys)


def test_quality_topp_per_lang_fraction_and_ordering(spark):
    """Per language, the filter keeps ~TOP_P of documents (within
    integer-rank granularity) and every kept doc quality-dominates
    every dropped doc under the integer ordering."""
    from python_nyc_taxi_data_pipeline_spark.plans.sampling import TOP_P

    kept = E.queries()["docs_quality_topp_per_lang"](spark, SF_DIR)
    d = load(spark, SF_DIR, "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept_counts = {
        r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, total in totals.items():
        k = kept_counts.get(lang, 0)
        # percent_rank <= p keeps floor(p*(n-1))+1 rows
        expected = int(TOP_P * (total - 1)) + 1
        assert abs(k - expected) <= 1, (lang, k, expected, total)


def test_incremental_minhash_equals_batch_touching_subset(spark):
    """The incremental path (batch bands probing the corpus band index)
    must reproduce exactly the batch-touching subset of the full-run
    LSH pair set — same pairs, same jaccard values."""
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import _INCR_BATCH_MOD

    qs = E.queries()
    full = qs["docs_minhash_lsh_pairs"](spark, SF_DIR).collect()
    incr = qs["docs_minhash_incremental_pairs"](spark, SF_DIR).collect()
    touching = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in full
        if r.doc_a % _INCR_BATCH_MOD == 0 or r.doc_b % _INCR_BATCH_MOD == 0
    }
    got = {(r.doc_a, r.doc_b): r.jaccard for r in incr}
    assert got == touching


def test_semdedup_keeps_cluster_minima_and_prunes_correctly(spark):
    """Greedy pruning invariants: the lowest vec_id of every cluster is
    always kept, and every dropped vector has a LOWER-id cluster-mate
    within the epsilon-ball (recomputed exactly here)."""
    import math

    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import (
        SEMDEDUP_COSINE,
    )

    rows = E.queries()["embeddings_semdedup"](spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        lowest = min(m.vec_id for m in members)
        assert next(m for m in members if m.vec_id == lowest).kept
    emb = {
        r.vec_id: r.embedding
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    for members in by_cluster.values():
        for m in members:
            if m.kept:
                continue
            mates = [o for o in members if o.vec_id < m.vec_id]
            assert any(
                cos(emb[m.vec_id], emb[o.vec_id]) >= SEMDEDUP_COSINE
                for o in mates
            ), m.vec_id


def test_cdc_chunks_are_insertion_robust(spark):
    """The CDC property: inserting one word into a long document
    changes only the chunk containing the insertion (or merges/splits
    at its nearest cut) — the other chunk hashes survive verbatim.
    Fixed-stride chunking would shift every downstream chunk."""
    from python_nyc_taxi_data_pipeline_spark.plans.analytics2 import (
        CDC_BOUNDARY_NIBBLE,
    )
    from pyspark.sql import Window

    base_words = [f"w{i}" for i in range(400)]
    mutated = base_words[:200] + ["INSERTED"] + base_words[200:]
    d = spark.createDataFrame(
        [(1, " ".join(base_words)), (2, " ".join(mutated))],
        "doc_id long, text string",
    )

    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
    is_b = (F.substring(F.md5("word"), 1, 1) == CDC_BOUNDARY_NIBBLE).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cut = tok.withColumn("chunk_id", F.coalesce(F.sum(is_b).over(w), F.lit(0)))
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "word"))),
        lambda s: s.getField("word"),
    )
    chunks = cut.groupBy("doc_id", "chunk_id").agg(
        F.md5(F.concat_ws(" ", ordered)).alias("h")
    )
    h1 = {r.h for r in chunks.filter("doc_id = 1").collect()}
    h2 = {r.h for r in chunks.filter("doc_id = 2").collect()}
    shared = h1 & h2
    # all but the insertion-bearing chunk survive: >= 80% overlap
    assert len(shared) >= 0.8 * len(h1), (len(shared), len(h1), len(h2))
    assert h1 != h2  # and the insertion IS visible


def test_dsir_weights_favor_target_lang(spark):
    """DSIR scores docs by log-likelihood ratio vs the 'en' target
    distribution, so the top-k must overrepresent 'en' relative to the
    corpus; scores are deterministic integers (micro-nats)."""
    qs = E.queries()
    top = qs["docs_dsir_weights"](spark, SF_DIR).collect()
    assert top == qs["docs_dsir_weights"](spark, SF_DIR).collect()
    d = load(spark, SF_DIR, "documents")
    n = d.count()
    en = d.filter(F.col("lang") == "en").count()
    top_ids = [r.doc_id for r in top]
    en_top = (
        d.filter(F.col("doc_id").isin(top_ids) & (F.col("lang") == "en")).count()
    )
    assert en_top / len(top) > en / n, (en_top, len(top), en, n)
    # scores sorted desc, all integers
    scores = [r.score_micro for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(isinstance(s, int) for s in scores)


def test_shuffle_shards_match_independent_recompute(spark):
    """The shard manifest (counts AND the position-sensitive
    perm_checksum) must equal an independent hashlib-based recompute of
    the md5 permutation — this pins the exact within-shard order, not
    just membership."""
    import hashlib
    from collections import defaultdict

    from python_nyc_taxi_data_pipeline_spark.plans.selection import N_SHARDS

    rows = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("nt"))
        .collect()
    )
    shards = defaultdict(list)
    for r in rows:
        k = hashlib.md5(f"shuffle:{r.doc_id}".encode()).hexdigest()
        shards[int(k[:4], 16) % N_SHARDS].append((k, r.doc_id, r.nt))
    expected = {}
    for sid, docs in shards.items():
        docs.sort()
        expected[sid] = (
            len(docs),
            sum(nt for _, _, nt in docs),
            sum((i + 1) * d for i, (_, d, _) in enumerate(docs)),
        )
    got = {
        r.shard_id: (r.n_docs, r.shard_tokens, r.perm_checksum)
        for r in E.queries()["docs_shuffle_shards"](spark, SF_DIR).collect()
    }
    assert got == expected


def test_source_overlap_internally_consistent(spark):
    """All C(|sources|,2) pairs present; jaccard recomputes from its own
    components and respects set bounds (shared <= min(|A|,|B|))."""
    rows = E.queries()["docs_source_overlap"](spark, SF_DIR).collect()
    n_sources = (
        load(spark, SF_DIR, "documents").select("source").distinct().count()
    )
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r.shared_terms <= min(r.terms_a, r.terms_b)
        union = r.terms_a + r.terms_b - r.shared_terms
        assert abs(r.jaccard - round(r.shared_terms / union, 6)) < 1e-9
        assert 0.0 <= r.jaccard <= 1.0


def test_matryoshka_rerank_consistency_and_recall_above_chance(spark):
    """The reranked top-k must (a) be internally consistent — every
    returned row's full-dim cosine really ranks in the top-k of its
    query's shortlist — and (b) beat random-shortlist recall against
    the exact brute-force top-k by a wide margin (random C-of-N
    shortlisting would land ~C/N ≈ 1%% of true neighbors; require 5x
    that). Random fixture vectors cap absolute recall — see the
    operator docstring."""
    from python_nyc_taxi_data_pipeline_spark.llm.similarity import (
        MRL_CANDIDATES,
        TOP_K,
    )

    qs = E.queries()
    mr = qs["knn_matryoshka_rerank"](spark, SF_DIR).collect()
    by_q = {}
    for r in mr:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert len(rows) == TOP_K
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, TOP_K + 1))
        assert all(1 <= r.prefix_rank <= MRL_CANDIDATES for r in rows)
        # rank order follows (cosine desc, neighbor_id asc)
        srt = sorted(rows, key=lambda r: (-r.cosine_sim, r.neighbor_id))
        assert [r.rank for r in srt] == list(range(1, TOP_K + 1))
    bf = {
        (r.query_id, r.neighbor_id)
        for r in qs["knn_cosine_bruteforce"](spark, SF_DIR).collect()
    }
    hit = {(r.query_id, r.neighbor_id) for r in mr}
    n_corpus = load(spark, SF_DIR, "embeddings").count()
    recall = len(hit & bf) / len(bf)
    chance = MRL_CANDIDATES / (n_corpus - 1)
    assert recall >= 5 * chance, (recall, chance)


def test_temperature_mixture_flattens_toward_uniform(spark):
    """q ∝ p^α with α<1 must (a) sum to 1, (b) upsample every
    below-average language (sample_weight > 1) and downsample every
    above-average one, and (c) be strictly flatter than the raw
    mixture (max/min ratio shrinks)."""
    rows = E.queries()["docs_lang_temperature_mixture"](spark, SF_DIR).collect()
    assert abs(sum(r.temp_frac for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.actual_frac for r in rows) - 1.0) < 1e-4
    mean = 1.0 / len(rows)
    for r in rows:
        if r.actual_frac < mean:
            assert r.sample_weight > 1.0, r
        elif r.actual_frac > mean:
            assert r.sample_weight < 1.0, r
    spread = lambda xs: max(xs) / min(xs)
    assert spread([r.temp_frac for r in rows]) < spread(
        [r.actual_frac for r in rows]
    )


def test_corpus_health_report_consistency(spark):
    """The one-row health report must recompute from first principles:
    doc/token counts, dup fraction from distinct text hashes, and lang
    entropy bounded by ln(n_langs) (uniform max)."""
    import math

    row = E.queries()["corpus_health_report"](spark, SF_DIR).first()
    d = load(spark, SF_DIR, "documents")
    assert row.n_docs == d.count()
    n_distinct = d.select("text").distinct().count()
    assert abs(
        row.exact_dup_frac - round((row.n_docs - n_distinct) / row.n_docs, 6)
    ) < 1e-9
    assert 0.0 <= row.lang_entropy_nats <= math.log(row.n_langs) + 1e-9


def test_lsh_recall_eval_matches_direct_comparison(spark):
    """Per-query recall@k must equal the overlap computed directly from
    the two registered rankings."""
    qs = E.queries()
    ev = {r.query_id: r for r in qs["knn_lsh_recall_eval"](spark, SF_DIR).collect()}
    exact = {}
    for r in qs["knn_cosine_bruteforce"](spark, SF_DIR).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    lsh = {}
    for r in qs["knn_cosine_lsh"](spark, SF_DIR).collect():
        lsh.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(ev) == set(exact)
    for qid, row in ev.items():
        assert row.n_overlap == len(exact[qid] & lsh.get(qid, set())), qid
        assert row.top1_hit in (0, 1)


def test_source_drift_psi_detects_planted_shift(spark):
    """PSI must be ~0 for a source drawn from the corpus distribution
    and strictly larger for a synthetically shifted source. Builds a
    two-source frame: 'same' = real corpus text, 'shifted' = the same
    text with every word prefixed (disjoint token space), and checks
    the shifted source dominates every real source's PSI."""
    from python_nyc_taxi_data_pipeline_spark.plans.selection import (
        docs_source_drift_psi,
    )

    real = E.queries()["docs_source_drift_psi"](spark, SF_DIR).collect()
    assert len(real) == 20
    assert all(r.psi_micro >= 0 for r in real)  # PSI is non-negative
    d = load(spark, SF_DIR, "documents")
    shifted = d.limit(50).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.regexp_replace(F.concat(F.lit(" "), F.col("text")), " ", " zz")
        .substr(F.lit(2), F.lit(1_000_000))
        .alias("text"),
        "lang",
        F.lit("shifted_src").alias("source"),
        "n_chars",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        d.unionByName(shifted).write.mode("overwrite").parquet(
            f"{tmp}/documents.parquet"
        )
        rows = docs_source_drift_psi(spark, tmp).collect()
    by_src = {r.source: r.psi_micro for r in rows}
    assert max(v for s, v in by_src.items() if s != "shifted_src") < by_src[
        "shifted_src"
    ]


def test_hourly_anomaly_zscores_are_standardized(spark):
    """Per event_type, the z-scores over hourly buckets must average
    ~0 with unit variance (they are standardized by construction), and
    the is_anomaly flag must equal |z| >= 2 row-wise."""
    rows = E.queries()["events_hourly_anomaly"](spark, SF_DIR).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert r.is_anomaly == (abs(r.z_score) >= 2.0)
        by_type.setdefault(r.event_type, []).append(r.z_score)
    for t, zs in by_type.items():
        m = sum(zs) / len(zs)
        v = sum(z * z for z in zs) / len(zs) - m * m
        assert abs(m) < 1e-3, (t, m)
        assert abs(v - 1.0) < 1e-2, (t, v)


def test_hll_merge_cumulative_monotone_and_consistent(spark):
    """The merged-sketch cumulative curve must start at day-1's new
    users, be monotonically non-decreasing, end at the total distinct
    user count, and carry a TRUE within-bound flag on every row."""
    rows = E.queries()["events_cum_users_hll_merge"](spark, SF_DIR).collect()
    assert len(rows) == 30
    assert rows[0].cum_users_exact == rows[0].n_new_users
    cums = [r.cum_users_exact for r in rows]
    assert cums == sorted(cums)
    total = (
        load(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert cums[-1] == total
    assert all(r.hll_merge_within_10pct for r in rows)


def test_retention_cohorts_structure(spark):
    """Every cohort must have an age-0 row with 100% retention, rates
    in (0, 1], and per-cohort retained counts never exceed the cohort
    size."""
    rows = E.queries()["events_retention_cohorts"](spark, SF_DIR).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert 0 < r.retention_rate <= 1.0
        assert r.n_retained <= r.cohort_size
        by_cohort.setdefault(r.cohort_day, []).append(r)
    for day, rs in by_cohort.items():
        age0 = [r for r in rs if r.age_days == 0]
        assert len(age0) == 1 and age0[0].retention_rate == 1.0, day


def test_segment_dedup_apply_invariants(spark):
    """First-writer-wins segment dedup: every surviving segment text is
    globally unique across the cleaned corpus, kept <= total, and an
    exact duplicate doc collapses to its earlier copy's leftovers."""
    from python_nyc_taxi_data_pipeline_spark.llm.segdedup import SEG_WORDS

    qs = E.queries()
    out = qs["docs_segment_dedup_apply"](spark, SF_DIR)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = {r["doc_id"]: r["text"] for r in load(spark, SF_DIR, "documents").collect()}
    assert set(rows) == set(docs)

    def segments(text):
        ws = text.split(" ")
        return [
            " ".join(ws[i : i + SEG_WORDS]) for i in range(0, len(ws), SEG_WORDS)
        ]

    # Replay the keep-first contract in pure Python and compare exactly.
    keeper = {}
    for doc_id in sorted(docs):
        for idx, seg in enumerate(segments(docs[doc_id])):
            keeper.setdefault(seg, (doc_id, idx))
    for doc_id in sorted(docs):
        segs = segments(docs[doc_id])
        kept = [s for i, s in enumerate(segs) if keeper[s] == (doc_id, i)]
        r = rows[doc_id]
        assert r["total_segments"] == len(segs)
        assert r["kept_segments"] == len(kept)
        assert r["clean_text"] == " ".join(kept)

    # Dedup must fire on the fixture (it contains exact-dup docs).
    assert any(r["kept_segments"] < r["total_segments"] for r in rows.values())


def test_hybrid_rrf_fuses_both_rank_lists(spark):
    """RRF output must reproduce 1/(K+rank) sums from the two source
    lists, include every candidate of either list exactly once, and
    rank the anchor-adjacent overlap (if any) above single-list hits
    with equal ranks."""
    from python_nyc_taxi_data_pipeline_spark.llm.fusion import RRF_K

    qs = E.queries()
    fused = {
        (r["query_id"], r["doc_id"]): r
        for r in qs["retrieval_hybrid_rrf"](spark, SF_DIR).collect()
    }
    bm = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in qs["docs_bm25_topk"](spark, SF_DIR).collect()
    }
    assert set(bm) <= set(fused)
    for key, row in fused.items():
        assert row["in_bm25"] == (key in bm)
        assert row["in_bm25"] or row["in_dense"]
        if row["in_bm25"] and not row["in_dense"]:
            assert abs(row["rrf_score"] - 1.0 / (RRF_K + bm[key])) < 1e-6
        if row["in_bm25"] and row["in_dense"]:
            assert row["rrf_score"] > 1.0 / (RRF_K + bm[key])
    # fused_rank is a dense contiguous 1..n per query
    from collections import defaultdict

    per_q = defaultdict(list)
    for (qid, _), r in fused.items():
        per_q[qid].append(r["fused_rank"])
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hybrid_ann_variant_shares_bm25_side_and_reports_recall(spark):
    """The ANN hybrid must carry the SAME BM25 side as the exact
    variant (only the dense engine differs), its dense list must be a
    subset of the prefix shortlist universe (trivially: <= DENSE_TOP_K
    docs per query), and the recall contract must emit one row per
    query with recall in [0, 1] and n_overlap consistent."""
    from python_nyc_taxi_data_pipeline_spark.llm.fusion import RRF_EVAL_TOP

    qs = E.queries()
    exact = qs["retrieval_hybrid_rrf"](spark, SF_DIR).collect()
    ann = qs["retrieval_hybrid_rrf_ann"](spark, SF_DIR).collect()
    bm_exact = {(r["query_id"], r["doc_id"]) for r in exact if r["in_bm25"]}
    bm_ann = {(r["query_id"], r["doc_id"]) for r in ann if r["in_bm25"]}
    assert bm_exact == bm_ann and bm_ann
    from collections import Counter

    dense_per_q = Counter(r["query_id"] for r in ann if r["in_dense"])
    assert dense_per_q and all(v <= 5 for v in dense_per_q.values())

    ev = qs["retrieval_hybrid_ann_recall_eval"](spark, SF_DIR).collect()
    assert {r["query_id"] for r in ev} == {r["query_id"] for r in exact}
    for r in ev:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_overlap"] <= RRF_EVAL_TOP
        assert r["top1_hit"] in (0, 1)


def test_dedup_apply_best_picks_longest_member(spark):
    """Canonical-copy dedup keeps exactly one row per cluster, the
    longest member (doc_id tie-break), and agrees with the min-id
    variant on WHICH clusters exist."""
    qs = E.queries()
    best = qs["docs_dedup_apply_best"](spark, SF_DIR).collect()
    minid = {r["doc_id"] for r in qs["docs_dedup_apply"](spark, SF_DIR).collect()}
    clusters = {}
    for r in qs["docs_dup_clusters"](spark, SF_DIR).collect():
        clusters.setdefault(r["cluster_rep"], []).append(r["doc_id"])
    docs = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in load(spark, SF_DIR, "documents").collect()
    }
    assert len(best) == len(clusters) == len(minid)
    for r in best:
        members = clusters[r["cluster_id"]]
        assert r["cluster_size"] == len(members)
        expect = min(members, key=lambda d: (-docs[d], d))
        assert r["doc_id"] == expect
        assert r["n_words"] == docs[expect]


def _textbook_bpe(spark, n_merges):
    """Reference in-memory BPE on the fixture corpus (greedy
    left-to-right merge, count-desc/lex tie-break): the merge list and
    the final segmentation of every distinct word."""
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.llm.bpe import EOW

    texts = [r["text"] for r in load(spark, SF_DIR, "documents").collect()]
    vocab = Counter(w for t in texts for w in t.split(" "))
    words = {w: (list(w) + [EOW], c) for w, c in vocab.items()}

    expected = []
    for rnd in range(1, n_merges + 1):
        counts = Counter()
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rnd, a, b, cnt))
        for w, (syms, c) in words.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            words[w] = (out, c)
    return expected, {w: syms for w, (syms, _) in words.items()}


def test_bpe_merges_match_pure_python_replay(spark):
    """Distributed BPE trainer ≡ a reference-textbook in-memory BPE on
    the same corpus (greedy left-to-right merge, count-desc/lex
    tie-break)."""
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import N_MERGES, bpe_train

    expected, final = _textbook_bpe(spark, N_MERGES)
    got, vocab, _ = bpe_train(spark, SF_DIR)
    assert got == expected
    # the returned vocabulary mapping matches the replay's final state
    assert {r["word"]: r["syms"] for r in vocab.collect()} == final


def test_bpe_large_budget_trains_exactly(spark):
    """A budget of 18 merges trains the exact greedy trajectory too:
    the default ``batch=1`` holds at every budget."""
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import bpe_train

    expected, final = _textbook_bpe(spark, 18)
    got, vocab, _ = bpe_train(spark, SF_DIR, n_merges=18)
    assert len(got) == 18
    assert got == expected
    assert {r["word"]: r["syms"] for r in vocab.collect()} == final


def test_bpe_batched_final_vocab_matches_serial(spark):
    """With batch>1 the merge ORDER may differ from batch=1, but the
    non-overlap filter must still fill the whole 12-merge budget on this
    fixture, each pick carrying a positive count."""
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import bpe_train

    serial, _, _ = bpe_train(spark, SF_DIR, n_merges=12)
    batched, _, _ = bpe_train(spark, SF_DIR, n_merges=12, batch=4)
    assert len(batched) == len(serial) == 12
    # every batched pick carries the count it was measured at — positive
    assert all(cnt > 0 for _, _, _, cnt in batched)


def test_bpe_train_recomputes_from_regenerated_fixture(spark, tmp_path):
    """Regenerating a fixture dir in-process under the SAME path (the
    /tmp/stress_x* pattern) must retrain over the new data — there is
    no cross-call merge memo (removed in r12), so stale merges can
    never be replayed over new data."""
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import bpe_train

    fixture = tmp_path / "sfbpe"
    fixture.mkdir()
    path = str(fixture / "documents.parquet")

    def write_docs(text):
        spark.createDataFrame(
            [(0, text, "en", "web", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(path)

    write_docs("ab ab ab cd")
    merges1, _, _ = bpe_train(spark, str(fixture), n_merges=2)
    write_docs("xy xy xy qr")  # regenerate in place: new part files
    merges2, _, _ = bpe_train(spark, str(fixture), n_merges=2)
    assert merges1 != merges2
    assert {a for _, a, _, _ in merges2} & {"x", "q"}


def test_bpe_merge_fold_survives_quote_and_backslash_symbols(spark):
    """The merge fold takes learned symbols as bound literals, so
    symbols containing SQL-hostile characters (quotes, backslashes)
    must fold correctly instead of breaking expression generation."""
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import _merge_col

    rows = [("w1", 1, ["a'b", "\\c", "x"]), ("w2", 1, ["a'b", "y", "\\c"])]
    df = spark.createDataFrame(
        rows, "word string, freq long, syms array<string>"
    )
    out = {
        r["word"]: r["syms"]
        for r in df.select(
            "word", _merge_col("a'b", "\\c").alias("syms")
        ).collect()
    }
    assert out == {"w1": ["a'b\\c", "x"], "w2": ["a'b", "y", "\\c"]}


def test_unigram_surprisal_filter_properties(spark):
    """OOV tokens must score strictly above every in-vocab token, the
    keep flag must equal the float mean comparison (away from exact
    ties), and some docs must land on each side of the corpus mean."""
    qs = E.queries()
    rows = qs["docs_unigram_surprisal_filter"](spark, SF_DIR).collect()
    assert len(rows) == load(spark, SF_DIR, "documents").count()
    s_all = sum(r["sum_surprisal_micro"] for r in rows)
    n_all = sum(r["n_tokens"] for r in rows)
    corpus_mean = s_all / n_all
    kept = dropped = 0
    for r in rows:
        doc_mean = r["sum_surprisal_micro"] / r["n_tokens"]
        assert r["keep_below_corpus_mean"] == (
            r["sum_surprisal_micro"] * n_all <= r["n_tokens"] * s_all
        )
        if abs(doc_mean - corpus_mean) > 1e-6:
            assert r["keep_below_corpus_mean"] == (doc_mean < corpus_mean)
        kept += r["keep_below_corpus_mean"]
        dropped += not r["keep_below_corpus_mean"]
    assert kept > 0 and dropped > 0


def test_collocations_scores_match_brute_force(spark):
    """Phrase scores must equal a pure-Python count-and-score replay,
    including ranks and the discount."""
    from python_nyc_taxi_data_pipeline_spark.llm.collocations import (
        MIN_PAIR_COUNT,
        PHRASE_DELTA,
        TOP_PHRASES,
    )
    from collections import Counter

    texts = [r["text"] for r in load(spark, SF_DIR, "documents").collect()]
    uni, bi = Counter(), Counter()
    for t in texts:
        ws = t.split(" ")
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    total = sum(uni.values())
    scored = [
        (a, b, c, uni[a], uni[b], round((c - PHRASE_DELTA) * total / (uni[a] * uni[b]), 6))
        for (a, b), c in bi.items()
        if c >= MIN_PAIR_COUNT
    ]
    scored.sort(key=lambda r: (-r[5], r[0], r[1]))
    expected = [r + (i + 1,) for i, r in enumerate(scored[:TOP_PHRASES])]

    got = [
        tuple(r)
        for r in E.queries()["docs_collocations_pmi"](spark, SF_DIR).collect()
    ]
    assert got == expected


def test_curation_funnel_matches_stage_frames(spark):
    """Referee: the single-pass funnel's per-stage counts must equal
    counts computed directly from the shared _curation_stages frames
    (the five-scan naive form) — pins the conditional-aggregation
    rewrite to the pipeline it reports on."""
    from pyspark.sql import functions as F

    from python_nyc_taxi_data_pipeline_spark.plans.curation import (
        _curation_stages,
        corpus_curation_funnel,
    )

    got = {
        r.stage: (r.stage_idx, r.n_docs, r.n_tokens)
        for r in corpus_curation_funnel(spark, SF_DIR).collect()
    }
    names = ["raw", "quality_gate", "exact_dedup", "train_split", "decontaminated"]
    for idx, (name, frame) in enumerate(
        zip(names, _curation_stages(spark, SF_DIR)), 1
    ):
        row = frame.agg(
            F.count(F.lit(1)).alias("d"),
            F.coalesce(
                F.sum(F.size(F.split("text", " ")).cast("long")), F.lit(0)
            ).alias("t"),
        ).collect()[0]
        assert got[name] == (idx, row.d, row.t), name


def test_curation_funnel_singlepass_matches_staged(spark):
    """The single-pass conditional-aggregation funnel (the scale_stress
    crossover probe) must produce byte-identical rows to the registered
    union-of-aggregates form."""
    from python_nyc_taxi_data_pipeline_spark.plans.curation import (
        corpus_curation_funnel,
        corpus_curation_funnel_singlepass,
    )

    staged = sorted(map(tuple, corpus_curation_funnel(spark, SF_DIR).collect()))
    single = sorted(
        map(tuple, corpus_curation_funnel_singlepass(spark, SF_DIR).collect())
    )
    assert staged == single


def test_incremental_exact_dedup_rejects_replayed_slice(spark):
    """The replayed (re-delivered) slice must be rejected wholesale —
    its content already lives in the corpus — while the fresh slice is
    admitted with within-batch keep-first semantics."""
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import _REPLAY_SHIFT

    rows = E.queries()["docs_incremental_exact_dedup"](spark, SF_DIR).collect()
    replayed = [r for r in rows if r.doc_id >= _REPLAY_SHIFT]
    fresh = [r for r in rows if r.doc_id < _REPLAY_SHIFT]
    assert replayed and all(not r.accepted for r in replayed)
    assert fresh and any(r.accepted for r in fresh)
    # every batch row gets exactly one verdict row
    assert len({r.doc_id for r in rows}) == len(rows)


def test_incremental_exact_dedup_replay_shift_guard(spark, tmp_path):
    """A corpus whose doc_ids reach _REPLAY_SHIFT must raise, not
    silently alias replayed ids onto fresh ones (consumers classify by
    doc_id >= _REPLAY_SHIFT) — same contract as merge_into_orders'
    INSERT_KEY_SHIFT guard."""
    import pytest

    from python_nyc_taxi_data_pipeline_spark.llm.dedup import _REPLAY_SHIFT

    fixture = tmp_path / "sfguard"
    fixture.mkdir()
    spark.createDataFrame(
        [
            (10, "alpha text", "en", "web", 10),
            (_REPLAY_SHIFT + 1, "beta text", "en", "web", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(fixture / "documents.parquet"))
    with pytest.raises(Exception, match="_REPLAY_SHIFT"):
        E.queries()["docs_incremental_exact_dedup"](spark, str(fixture)).collect()


def test_minhash_calibration_covers_verified_pairs_and_bounds_hold(spark):
    """The calibration contract rows are exactly the verified LSH pair
    set (same pairs, same exact Jaccard), and every pair's estimator
    error bound verdict is TRUE — so a signature drift that widens the
    estimator error past the ceiling fails HERE before it degrades
    recall in production."""
    qs = E.queries()
    cal = qs["docs_minhash_estimate_calibration"](spark, SF_DIR)
    lsh = qs["docs_minhash_lsh_pairs"](spark, SF_DIR)
    cal_rows = {(r.doc_a, r.doc_b): (r.jaccard, r.est_err_bounded) for r in cal.collect()}
    lsh_rows = {(r.doc_a, r.doc_b): r.jaccard for r in lsh.collect()}
    assert set(cal_rows) == set(lsh_rows)
    for pair, (jac, bounded) in cal_rows.items():
        assert jac == lsh_rows[pair]
        assert bounded is True


def test_bigram_backoff_surprisal_matches_python_replay(spark):
    """Per-doc sums, backoff-level counts, and the keep flag must equal
    a pure-Python Stupid-Backoff replay (top-B bigram table with the
    (count DESC, p, t) tie-break, ALPHA-discounted top-V unigram
    backoff, add-one OOV floor, HALF_UP micro-nat quantization)."""
    import math
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP

    from python_nyc_taxi_data_pipeline_spark.llm.lm import ALPHA, TOP_B, TOP_V

    def micro(x: float) -> int:
        return int(
            Decimal(repr(x * 1e6)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    texts = {
        r["doc_id"]: r["text"].split(" ")
        for r in load(spark, SF_DIR, "documents").collect()
        if len(r["text"].split(" ")) >= 2
    }
    bi, uni = Counter(), Counter()
    for ws in texts.values():
        bi.update(zip(ws, ws[1:]))
        uni.update(ws)
    ctx = Counter()
    for (p, _t), c in bi.items():
        ctx[p] += c
    topb = {
        pt: micro(-math.log(bi[pt] / ctx[pt[0]]))
        for pt in sorted(bi, key=lambda pt: (-bi[pt], pt))[:TOP_B]
    }
    total = sum(uni.values())
    topv = {
        t: micro(-math.log(ALPHA * (uni[t] / total)))
        for t in sorted(uni, key=lambda t: (-uni[t], t))[:TOP_V]
    }
    oov = micro(-math.log(ALPHA * (1.0 / (total + 1))))
    expect = {}
    for doc_id, ws in texts.items():
        s = hits = backs = oovs = 0
        for pt in zip(ws, ws[1:]):
            if pt in topb:
                s, hits = s + topb[pt], hits + 1
            elif pt[1] in topv:
                s, backs = s + topv[pt[1]], backs + 1
            else:
                s, oovs = s + oov, oovs + 1
        expect[doc_id] = (len(ws) - 1, hits, backs, oovs, s)
    rows = E.queries()["docs_bigram_backoff_surprisal"](spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    s_all = sum(v[4] for v in expect.values())
    n_all = sum(v[0] for v in expect.values())
    kept = dropped = 0
    for r in rows:
        assert (
            r["n_bigrams"],
            r["n_bigram_hits"],
            r["n_unigram_backoffs"],
            r["n_oov"],
            r["sum_surprisal_micro"],
        ) == expect[r["doc_id"]]
        assert r["keep_below_corpus_mean"] == (
            r["sum_surprisal_micro"] * n_all <= r["n_bigrams"] * s_all
        )
        kept += r["keep_below_corpus_mean"]
        dropped += not r["keep_below_corpus_mean"]
    assert kept > 0 and dropped > 0
    # the pruning must exercise the bigram and backoff levels; the OOV
    # floor only fires when the vocabulary outgrows TOP_V (the sf0.001
    # fixture's ~40-word vocabulary fits entirely, so expect 0 there —
    # the per-row equality above already pins the OOV logic itself)
    assert sum(r["n_bigram_hits"] for r in rows) > 0
    assert sum(r["n_unigram_backoffs"] for r in rows) > 0
    assert sum(r["n_oov"] for r in rows) == sum(v[3] for v in expect.values())
    if len(uni) > TOP_V:
        assert sum(r["n_oov"] for r in rows) > 0


def test_bloom_decontamination_matches_python_replay(spark):
    """The query's exact columns must equal a pure-Python full exact
    recomputation (no bloom), and a Python replay of the bloom itself
    (bit-for-bit, using Spark's xxhash64 for the K probe positions)
    must be a superset of the true matches with a bounded
    false-positive rate — the two halves of the prefilter contract."""
    import hashlib

    from pyspark.sql import functions as SF
    from python_nyc_taxi_data_pipeline_spark.plans.curation import (
        BLOOM_K,
        bloom_m_for,
    )

    def trigrams(text: str) -> set[str]:
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_DIR, "documents").collect()
        if len(r["text"].split(" ")) >= 3
    }
    split = {
        d: hashlib.md5(str(d).encode()).hexdigest()[:2] for d in docs
    }
    train = {d: trigrams(t) for d, t in docs.items() if split[d] < "cd"}
    test_sh = set().union(
        *(trigrams(t) for d, t in docs.items() if split[d] >= "e6")
    )
    bloom_m = bloom_m_for(len(test_sh))  # the query derives M the same way
    # Spark's xxhash64 for every distinct shingle x seed (the bloom's
    # hash family) — the replay uses identical bit positions
    all_sh = sorted(set().union(*train.values()) | test_sh)
    sh_df = spark.createDataFrame([(s,) for s in all_sh], ["sh"])
    pos_rows = sh_df.select(
        "sh",
        *[
            SF.pmod(SF.xxhash64("sh", SF.lit(k)), SF.lit(bloom_m)).alias(f"p{k}")
            for k in range(BLOOM_K)
        ],
    ).collect()
    pos = {r["sh"]: [r[f"p{k}"] for k in range(BLOOM_K)] for r in pos_rows}
    bits = set()
    for s in test_sh:
        bits.update(pos[s])
    fp = tp = neg = 0
    expect = {}
    for d, grams in train.items():
        n_match = 0
        for s in grams:
            candidate = all(p in bits for p in pos[s])
            truly = s in test_sh
            assert candidate or not truly  # no false negative, ever
            if truly:
                n_match += 1
                tp += 1
            elif candidate:
                fp += 1
            else:
                neg += 1
        expect[d] = (len(grams), n_match)
    # bloom actually prunes: FP rate over true-negative probes is small
    assert fp / max(fp + neg, 1) < 0.05
    rows = E.queries()["docs_bloom_decontamination"](spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        n_sh, n_match = expect[r["doc_id"]]
        assert r["n_shingles"] == n_sh
        assert r["n_matching_shingles"] == n_match
        assert r["exact_contaminated"] == (n_match > 0)
    assert any(r["exact_contaminated"] for r in rows)
    assert any(not r["exact_contaminated"] for r in rows)


def test_cdc_chunk_fold_matches_python_replay(spark, tmp_path):
    """Full Python replay of the map-side aggregate() chunk fold,
    pinning the edge cases the former window form defined: a boundary
    word is the LAST word of its chunk; a trailing boundary leaves no
    empty chunk; a doc whose every word is a boundary yields one
    chunk per word; a boundary-free doc is one chunk."""
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.plans.analytics2 import (
        CDC_BOUNDARY_NIBBLE,
    )

    def is_boundary(w):
        return hashlib.md5(w.encode()).hexdigest()[0] == CDC_BOUNDARY_NIBBLE

    # mine words of each kind so the fixture hits every edge
    pool = [f"w{i}" for i in range(4000)]
    bnd = [w for w in pool if is_boundary(w)]
    plain = [w for w in pool if not is_boundary(w)]
    assert len(bnd) >= 4

    def replay(words):
        chunks, cur = [], []
        for w in words:
            cur.append(w)
            if is_boundary(w):
                chunks.append(cur)
                cur = []
        if cur:
            chunks.append(cur)
        return [
            (
                ci,
                len(cw),
                hashlib.md5(" ".join(cw).encode()).hexdigest(),
            )
            for ci, cw in enumerate(chunks)
        ]

    docs = {
        1: plain[:5] + bnd[:1] + plain[5:8] + bnd[1:2],  # trailing boundary
        2: bnd[:4],  # every word a boundary
        3: plain[:6],  # no boundary at all
        4: plain[6:9] + bnd[2:3] + plain[9:12],  # boundary mid-doc
        5: [bnd[3]],  # single boundary word
    }
    fixture = tmp_path / "sfcdc"
    fixture.mkdir()
    spark.createDataFrame(
        [(i, " ".join(ws), "en", "web", 1) for i, ws in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(fixture / "documents.parquet"))
    got = {
        (r.doc_id, r.chunk_id): (r.n_words, r.chunk_hash)
        for r in E.queries()["docs_cdc_chunks"](spark, str(fixture)).collect()
    }
    want = {}
    for doc_id, ws in docs.items():
        for ci, n, h in replay(ws):
            want[(doc_id, ci)] = (n, h)
    assert got == want


def test_semdedup_hier_partition_balance_and_prune_laws(spark):
    """The RP-tree hierarchical SemDeDup (the at-scale clusterer for
    data-derived k): (1) every vector is assigned exactly once;
    (2) the adaptive size gate HARD-BOUNDS every cell at 2x ceil(n/k)
    — the guarantee that keeps the within-cell pair scan linear at
    any corpus size; (3) the shared
    greedy prune keeps each cell's lowest id and only drops vectors
    with a lower-id epsilon-mate in the SAME cell (recomputed exactly);
    (4) the plan carries no cartesian/row-UDF antipatterns."""
    import math as _math

    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import (
        HIER_BRANCH,
        SEMDEDUP_COSINE,
        SEMDEDUP_TARGET_CLUSTER_SIZE,
        semdedup_hier,
    )
    from tests.test_plans import plan_of

    df = semdedup_hier(spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    rows = df.collect()
    n = load(spark, SF_DIR, "embeddings").count()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    k = max(1, _math.ceil(n / SEMDEDUP_TARGET_CLUSTER_SIZE))
    cap = 2 * max(1, _math.ceil(n / k))
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    sizes = [len(m) for m in by_cluster.values()]
    assert max(sizes) <= cap, (max(sizes), cap)
    assert HIER_BRANCH >= 2  # heap-numbered ids need b-ary children
    for members in by_cluster.values():
        lowest = min(m.vec_id for m in members)
        assert next(m for m in members if m.vec_id == lowest).kept
    emb = {
        r.vec_id: r.embedding
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = _math.sqrt(sum(x * x for x in a))
        nb = _math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    for members in by_cluster.values():
        for m in members:
            if m.kept:
                continue
            mates = [o for o in members if o.vec_id < m.vec_id]
            assert any(
                cos(emb[m.vec_id], emb[o.vec_id]) >= SEMDEDUP_COSINE
                for o in mates
            ), m.vec_id


def test_semdedup_hier_freezes_unsplittable_duplicate_clump(spark, tmp_path):
    """An exact-duplicate clump BIGGER than the 2x-target cell cap can
    never be separated by a mean-centered hyperplane (every member
    projects identically), so the no-shrink freeze rule must stop
    splitting it after one zero-progress level instead of looping to
    the depth backstop — where b-ary heap cell ids would overflow
    int64 (the r9 ADVICE crash scenario). Uses 0.1-style values whose
    float mean is NOT exact, so the freeze is exercised on tiny-but-
    nonzero centered vectors, not just literal zeros."""
    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import (
        semdedup_hier,
    )

    clump = [(i, [0.1, 0.2, 0.3, 0.4]) for i in range(200)]
    # 40 scattered singletons so the tree has real splitting to do too.
    scatter = [
        (
            200 + i,
            [
                float((i * 37) % 13 - 6),
                float((i * 17) % 11 - 5),
                float((i * 29) % 7 - 3),
                float(i % 5 + 1),
            ],
        )
        for i in range(40)
    ]
    fixture = tmp_path / "sfclump"
    fixture.mkdir()
    spark.createDataFrame(
        clump + scatter, "vec_id long, embedding array<float>"
    ).write.parquet(str(fixture / "embeddings.parquet"))
    rows = semdedup_hier(spark, str(fixture)).collect()
    assert len(rows) == 240
    assert len({r.vec_id for r in rows}) == 240
    in_clump = [r for r in rows if r.vec_id < 200]
    # Identical vectors always travel together: one frozen cell.
    assert len({r.cluster_id for r in in_clump}) == 1
    # cosine(identical) = 1 >= epsilon: greedy prune keeps only id 0.
    kept = sorted(r.vec_id for r in in_clump if r.kept)
    assert kept == [0]


def test_semdedup_seed_row_guard_raises_value_error(spark):
    """The fixed-seed SemDeDup path refuses a k whose k·d seed doubles
    exceed one broadcast row's budget, with a ValueError (not an
    assert, which ``python -O`` strips), before any job runs."""
    import pytest

    from python_nyc_taxi_data_pipeline_spark.catalog import EMB_DIM
    from python_nyc_taxi_data_pipeline_spark.llm.semdedup import (
        SEED_ROW_MAX_DOUBLES,
        semdedup,
    )

    too_many = SEED_ROW_MAX_DOUBLES // EMB_DIM + 1
    with pytest.raises(ValueError, match="IVF variant"):
        semdedup(spark, SF_DIR, k=too_many)
