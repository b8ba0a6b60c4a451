"""Tests for the queries in llm/staged_r8.py.

Oracle parity is checked registry-wide (tests/test_parity.py); these
pin the parts an oracle hash can't localize when it breaks: independent
pure-Python/pandas/numpy replays of the growth-accounting states, the
histogram-Gini identity, the chunk-boundary arithmetic, the
per-dimension moments, and the rerank cascade's lexical cross-score —
plus the structural invariants (identities, bounds, set containments)
each report promises its consumers.
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r8
from python_nyc_taxi_data_pipeline_spark.llm.staged_r8 import (
    CASCADE_N_PROBES,
    CASCADE_STAGE1_K,
    CASCADE_STAGE2_K,
    CHUNK_S,
    CHUNK_W,
    GINI_BUCKET_CENTS,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


# --------------------------------------------------------------------
# Module-wide gates (parity and plans share the session's builds)
# --------------------------------------------------------------------


def test_r8_batch_names_the_whole_slate():
    gates.assert_registers_exactly(
        staged_r8,
        (
            "customer_spend_gini_contract",
            "docs_cross_source_duplication",
            "docs_dedup_survivorship_mix_shift",
            "docs_gopher_rule_attribution",
            "docs_lang_confusion_matrix",
            "docs_neardup_threshold_sweep",
            "docs_quality_brier_reliability",
            "docs_rag_chunk_plan",
            "docs_source_distinctive_terms",
            "docs_token_space_contamination",
            "embeddings_dimension_stats",
            "embeddings_pq_distortion_report",
            "events_conversion_lag_histogram",
            "events_session_stats",
            "events_user_lifecycle",
            "events_weekly_retention_cohorts",
            "retrieval_rerank_cascade",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r8, built)


def test_staged_plans_avoid_sort_aggregate(built):
    """Struct and string min/max silently plan as SortAggregate,
    which sorts every group's rows within partitions."""
    gates.assert_plans_clean(staged_r8, built, sort_aggregate=True)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r8, parity)


def test_promote_to_registry_round_trip():
    gates.assert_register_round_trip("events_session_stats")


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


# --------------------------------------------------------------------
# Growth accounting (lifecycle + retention) — pandas referee
# --------------------------------------------------------------------


def _user_weeks() -> pd.DataFrame:
    """Distinct (user_id, week) with week = integer days-from-min DIV 7
    — the shared frame both event queries are built on, replayed in
    pandas straight off the parquet."""
    e = _pd("events")
    days = (e["ts"].dt.normalize() - e["ts"].dt.normalize().min()).dt.days
    uw = pd.DataFrame({"user_id": e["user_id"], "week": days // 7})
    return uw.drop_duplicates(ignore_index=True)


def test_user_lifecycle_pandas_replay(spark):
    got = (
        QUERIES["events_user_lifecycle"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index(["week", "state"])["n_users"]
        .sort_index()
    )
    uw = _user_weeks().sort_values(["user_id", "week"])
    uw["prev"] = uw.groupby("user_id")["week"].shift(1)
    uw["next"] = uw.groupby("user_id")["week"].shift(-1)
    max_week = int(uw["week"].max())
    rows: list[tuple[int, str]] = []
    for r in uw.itertuples():
        if pd.isna(r.prev):
            rows.append((r.week, "new"))
        elif r.week - r.prev == 1:
            rows.append((r.week, "retained"))
        else:
            rows.append((r.week, "resurrected"))
        if (pd.isna(r.next) or r.next > r.week + 1) and r.week + 1 <= max_week:
            rows.append((r.week + 1, "churned"))
    want = (
        pd.DataFrame(rows, columns=["week", "state"])
        .value_counts()
        .rename("n_users")
        .sort_index()
    )
    pd.testing.assert_series_equal(
        got.astype("int64"), want.astype("int64"), check_names=False
    )


def test_lifecycle_growth_accounting_identity(spark):
    """actives(w) = new(w) + retained(w) + resurrected(w) for every
    week — the identity the decomposition exists to satisfy."""
    df = QUERIES["events_user_lifecycle"].fn(spark, SF_DIR).toPandas()
    active_states = df[df["state"] != "churned"]
    per_week = active_states.groupby("week")["n_users"].sum()
    uw = _user_weeks()
    actives = uw.groupby("week").size()
    for week, n in actives.items():
        assert per_week.get(week, 0) == n, f"week {week}"


def test_retention_cohort_diagonal(spark):
    """Offset-0 cells are the cohort definition: n_active ==
    cohort_size and retention exactly 1e6; every other retention is
    ≤ 1e6; cohort sizes partition the user population."""
    df = QUERIES["events_weekly_retention_cohorts"].fn(spark, SF_DIR).toPandas()
    diag = df[df["week_offset"] == 0]
    assert (diag["n_active"] == diag["cohort_size"]).all()
    assert (diag["retention_micro"] == 1_000_000).all()
    assert (df["retention_micro"] <= 1_000_000).all()
    n_users = _user_weeks()["user_id"].nunique()
    assert diag["cohort_size"].sum() == n_users


# --------------------------------------------------------------------
# Histogram Gini — exact replay + identity vs direct mean abs diff
# --------------------------------------------------------------------


def test_gini_histogram_identity_replay(spark):
    got = QUERIES["customer_spend_gini_contract"].fn(spark, SF_DIR).toPandas()
    assert len(got) == 1
    r = got.iloc[0]

    o = _pd("orders")
    cents = (
        o["o_totalprice"]
        .map(lambda x: int(Decimal(str(x)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100))
        .groupby(o["o_custkey"])
        .sum()
    )
    b = cents // GINI_BUCKET_CENTS  # per-customer bucket value
    # Direct O(n²) mean-absolute-difference over per-customer bucket
    # values — the definitional form the histogram identity replaces.
    v = b.to_numpy(dtype=np.int64)
    direct_numer = int(np.abs(v[:, None] - v[None, :]).sum())
    assert int(r["n_customers"]) == len(v)
    assert int(r["total_bucket_units"]) == int(v.sum())
    assert int(r["gini_numer"]) == direct_numer
    assert int(r["gini_denom"]) == 2 * len(v) * int(v.sum())
    assert abs(float(r["gini"]) - direct_numer / (2 * len(v) * v.sum())) < 5e-7
    assert 0.0 <= float(r["gini"]) <= 1.0
    assert int(r["n_buckets"]) == int(pd.Series(v).nunique())


# --------------------------------------------------------------------
# Chunk plan — pandas replay + coverage invariants
# --------------------------------------------------------------------


def test_chunk_plan_replay_and_coverage(spark):
    got = (
        QUERIES["docs_rag_chunk_plan"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"], ignore_index=True)
    )
    d = _pd("documents")
    n_by_doc = d["text"].str.split(" ").str.len().groupby(d["doc_id"]).first()
    rows = []
    for doc_id, n in n_by_doc.items():
        n_chunks = 1 if n <= CHUNK_W else 1 + -(-(n - CHUNK_W) // CHUNK_S)
        for k in range(n_chunks):
            end = min(k * CHUNK_S + CHUNK_W, n)
            rows.append(
                (doc_id, k, k * CHUNK_S + 1, end, end - k * CHUNK_S,
                 k == n_chunks - 1, CHUNK_W - (end - k * CHUNK_S))
            )
    want = pd.DataFrame(
        rows,
        columns=["doc_id", "chunk_idx", "start_tok", "end_tok", "n_toks",
                 "is_last", "pad_toks"],
    ).sort_values(["doc_id", "chunk_idx"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got.astype({"is_last": bool}), want.astype(got.dtypes.to_dict())
    )
    # Coverage: the last chunk always ends exactly at the doc's token
    # count (no token dropped, no phantom tail chunk).
    last = got[got["is_last"]].set_index("doc_id")["end_tok"]
    for doc_id, n in n_by_doc.items():
        assert last[doc_id] == n, f"doc {doc_id}"
    # Only the last chunk may pad.
    assert (got.loc[~got["is_last"], "pad_toks"] == 0).all()


# --------------------------------------------------------------------
# Dimension stats — numpy referee
# --------------------------------------------------------------------


def test_dimension_stats_numpy_replay(spark):
    got = (
        QUERIES["embeddings_dimension_stats"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("dim", ignore_index=True)
    )
    emb = np.stack(_pd("embeddings")["embedding"].to_numpy()).astype(np.float64)
    qv = np.round(emb * 10000.0).astype(np.int64)  # numpy round = half-even
    # Spark/DuckDB ROUND are half away from zero — redo exact halves.
    frac = emb * 10000.0
    half = np.isclose(np.abs(frac - np.trunc(frac)), 0.5)
    qv = np.where(half, np.trunc(frac) + np.sign(frac), qv).astype(np.int64)
    n, d = emb.shape
    assert list(got["dim"]) == list(range(1, d + 1))
    assert (got["n"] == n).all()
    np.testing.assert_array_equal(got["n_zero"].to_numpy(), (qv == 0).sum(axis=0))
    np.testing.assert_array_equal(got["sum_e4"].to_numpy(), qv.sum(axis=0))
    np.testing.assert_array_equal(
        got["sumsq_e8"].to_numpy(), (qv.astype(object) ** 2).sum(axis=0)
    )
    mean = qv.sum(axis=0) / n / 1e4
    var = (qv.astype(np.float64) ** 2).sum(axis=0) / n / 1e8 - mean * mean
    np.testing.assert_allclose(got["mean"].to_numpy(), np.round(mean, 6), atol=1e-9)
    np.testing.assert_allclose(
        got["variance"].to_numpy(), np.round(var, 6), atol=1e-9
    )
    assert (got["variance"] >= -1e-9).all()


# --------------------------------------------------------------------
# Brier reliability — structural invariants
# --------------------------------------------------------------------


def test_brier_reliability_invariants(spark):
    df = QUERIES["docs_quality_brier_reliability"].fn(spark, SF_DIR).toPandas()
    n_docs_total = len(_pd("documents"))
    assert df["n_docs"].sum() == n_docs_total
    assert df["bin"].between(0, 9).all()
    assert df["bin"].is_unique
    assert (df["gap_micro"] == (df["mean_p_micro"] - df["keep_rate_micro"]).abs()).all()
    assert df["mean_p_micro"].between(0, 1_000_000).all()
    assert df["keep_rate_micro"].between(0, 1_000_000).all()
    # mean p within a bin must lie inside the bin's probability range
    # (the last bin absorbs the saturated 1e6 scores).
    lo = df["bin"] * 100_000
    hi = np.where(df["bin"] == 9, 1_000_000, (df["bin"] + 1) * 100_000 - 1)
    assert (df["mean_p_micro"] >= lo).all() and (df["mean_p_micro"] <= hi).all()
    # Brier bound: per-bin mean of (p−y·1e6)² can never exceed 1e12.
    assert df["brier_mean_micro2"].between(0, 10**12).all()


# --------------------------------------------------------------------
# Rerank cascade — lexical cross-score referee + cascade contracts
# --------------------------------------------------------------------


def test_rerank_cascade_contracts_and_lexical_referee(spark):
    df = QUERIES["retrieval_rerank_cascade"].fn(spark, SF_DIR).toPandas()
    # Cascade shape: ≤ N_PROBES probes, exactly STAGE2_K rows each
    # (fixture corpus ≫ K), ranks in range, stage-2 drawn from stage 1.
    assert df["query_doc_id"].nunique() <= CASCADE_N_PROBES
    assert (df.groupby("query_doc_id").size() == CASCADE_STAGE2_K).all()
    assert df["stage1_rank"].between(1, CASCADE_STAGE1_K).all()
    assert df["stage2_rank"].between(1, CASCADE_STAGE2_K).all()
    assert (df["blended_micro"] == df["c_micro"] + df["lex_micro"]).all()
    # Probes are held-out, candidates train — the splits never overlap.
    qh = df["query_doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2]
    )
    th = df["train_doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2]
    )
    assert (qh >= "e6").all() and (th < "cd").all()
    # Pure-Python referee for the lexical cross-score of every emitted
    # pair: exact distinct-word Jaccard in integer micro units.
    texts = _pd("documents").set_index("doc_id")["text"]
    for r in df.itertuples():
        qw = set(texts[r.query_doc_id].split(" "))
        cw = set(texts[r.train_doc_id].split(" "))
        shared = len(qw & cw)
        want = shared * 1_000_000 // (len(qw) + len(cw) - shared)
        assert r.lex_micro == want, (r.query_doc_id, r.train_doc_id)


# --------------------------------------------------------------------
# Cross-source duplication — consistency vs the registered pair plan
# --------------------------------------------------------------------


def test_cross_source_matrix_partitions_the_pairs(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        docs_ngram_jaccard_pairs,
    )

    matrix = QUERIES["docs_cross_source_duplication"].fn(spark, SF_DIR).toPandas()
    pairs = docs_ngram_jaccard_pairs(spark, SF_DIR).toPandas()
    assert matrix["n_pairs"].sum() == len(pairs)
    assert (matrix["source_a"] <= matrix["source_b"]).all()
    assert (matrix["min_jaccard"] <= matrix["max_jaccard"]).all()
    # Every cell re-derivable from the raw pair table.
    src = _pd("documents").set_index("doc_id")["source"]
    cells = (
        pd.DataFrame(
            {
                "source_a": np.minimum(
                    pairs["doc_a"].map(src), pairs["doc_b"].map(src)
                ),
                "source_b": np.maximum(
                    pairs["doc_a"].map(src), pairs["doc_b"].map(src)
                ),
            }
        )
        .value_counts()
        .rename("n_pairs")
    )
    got = matrix.set_index(["source_a", "source_b"])["n_pairs"].sort_index()
    pd.testing.assert_series_equal(
        got.astype("int64"), cells.sort_index().astype("int64"), check_names=False
    )


# --------------------------------------------------------------------
# Mix shift — ledger identities vs the registered cluster assignments
# --------------------------------------------------------------------


def test_mix_shift_ledger_identities(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.clusters import docs_dup_clusters

    df = QUERIES["docs_dedup_survivorship_mix_shift"].fn(spark, SF_DIR).toPandas()
    clus = docs_dup_clusters(spark, SF_DIR).toPandas()
    assert (df["n_removed"] == df["n_before"] - df["n_after"]).all()
    assert (df["n_removed"] >= 0).all()
    assert df["n_before"].sum() == len(clus)
    assert df["n_after"].sum() == clus["cluster_rep"].nunique()
    assert (
        df["shift_micro"] == df["share_after_micro"] - df["share_before_micro"]
    ).all()
    # Floor-divided shares each sum to 1e6 − ε with ε < n_sources.
    for col in ("share_before_micro", "share_after_micro"):
        s = df[col].sum()
        assert 1_000_000 - len(df) < s <= 1_000_000, col


# --------------------------------------------------------------------
# Distinctive terms — pandas referee for one source
# --------------------------------------------------------------------


def test_distinctive_terms_pandas_replay(spark):
    got = QUERIES["docs_source_distinctive_terms"].fn(spark, SF_DIR).toPandas()
    d = _pd("documents")
    tf = (
        d.assign(term=d["text"].str.split(" "))
        .explode("term")
        .groupby(["source", "term"])
        .size()
        .rename("tf")
        .reset_index()
    )
    df_ = tf.groupby("term").size().rename("df").reset_index()
    n_sources = d["source"].nunique()
    scored = tf.merge(df_, on="term")
    scored["score"] = scored["tf"] * n_sources * 1_000_000 // scored["df"]
    for source in got["source"].unique():
        g = got[got["source"] == source].sort_values("rank")
        s = scored[scored["source"] == source].sort_values(
            ["score", "term"], ascending=[False, True]
        ).head(len(g))
        assert list(g["term"]) == list(s["term"]), source
        assert list(g["score"]) == list(s["score"]), source


# --------------------------------------------------------------------
# Confusion matrix — consistency vs the registered classifier
# --------------------------------------------------------------------


def test_confusion_matrix_consistency(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.classifier import (
        docs_nb_lang_classifier,
    )

    df = QUERIES["docs_lang_confusion_matrix"].fn(spark, SF_DIR).toPandas()
    preds = docs_nb_lang_classifier(spark, SF_DIR).toPandas()
    assert df["n"].sum() == len(preds)
    want = preds.groupby(["lang", "pred_lang"]).size().rename("n")
    got = df.set_index(["lang", "pred_lang"])["n"].sort_index()
    pd.testing.assert_series_equal(
        got.astype("int64"), want.sort_index().astype("int64"), check_names=False
    )
    # Row totals really are row totals; the share floor-divides them.
    rt = df.groupby("lang")["n"].sum()
    assert (df["row_total"] == df["lang"].map(rt)).all()
    assert (
        df["row_share_micro"] == df["n"] * 1_000_000 // df["row_total"]
    ).all()
    assert (df["is_correct"] == (df["lang"] == df["pred_lang"])).all()


# --------------------------------------------------------------------
# Token-space contamination — split discipline + probe bounds
# --------------------------------------------------------------------


def test_token_contamination_bounds_and_split(spark):
    df = QUERIES["docs_token_space_contamination"].fn(spark, SF_DIR).toPandas()
    # Every emitted doc is held-out under the md5 convention.
    hh = df["doc_id"].map(lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2])
    assert (hh >= "e6").all()
    assert (df["n_shared_trigrams"] <= df["n_token_trigrams"]).all()
    assert (df["n_shared_trigrams"] >= 0).all()
    assert (df["contaminated"] == (df["n_shared_trigrams"] > 0)).all()
    # The held-out emission covers the whole held-out split (docs with
    # < 3 tokens still appear, with zero trigrams).
    d = _pd("documents")
    held = d["doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2] >= "e6"
    )
    assert set(df["doc_id"]) == set(d.loc[held, "doc_id"])


# --------------------------------------------------------------------
# Sessionization — pandas referee (independent stitching)
# --------------------------------------------------------------------


def _event_secs() -> pd.DataFrame:
    e = _pd("events")
    return pd.DataFrame(
        {
            "user_id": e["user_id"],
            "event_id": e["event_id"],
            "sec": (e["ts"] - pd.Timestamp("1970-01-01")).dt.total_seconds().astype(
                "int64"
            ),
        }
    )


def test_session_stats_pandas_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r8 import SESSION_GAP_SEC

    got = (
        QUERIES["events_session_stats"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("n_events", ignore_index=True)
    )
    ev = _event_secs().sort_values(["user_id", "sec", "event_id"])
    sessions: list[tuple[int, int]] = []  # (n_events, duration)
    for _, g in ev.groupby("user_id"):
        secs = g["sec"].to_list()
        start, prev, count = secs[0], secs[0], 1
        for s in secs[1:]:
            if s - prev >= SESSION_GAP_SEC:
                sessions.append((count, prev - start))
                start, count = s, 0
            count += 1
            prev = s
        sessions.append((count, prev - start))
    sp = pd.DataFrame(sessions, columns=["n_events", "dur"])
    want = (
        sp.groupby("n_events")
        .agg(
            n_sessions=("dur", "size"),
            total_duration_sec=("dur", "sum"),
            min_duration_sec=("dur", "min"),
            max_duration_sec=("dur", "max"),
        )
        .reset_index()
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_names=False
    )
    # Conservation: session events sum to the event count.
    assert (got["n_events"] * got["n_sessions"]).sum() == len(ev)


# --------------------------------------------------------------------
# Threshold sweep — cumulative identity vs the raw pair table
# --------------------------------------------------------------------


def test_threshold_sweep_cumulative_identity(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        docs_ngram_jaccard_pairs,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r8 import (
        SWEEP_BUCKET_MICRO,
    )

    got = (
        QUERIES["docs_neardup_threshold_sweep"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    pairs = docs_ngram_jaccard_pairs(spark, SF_DIR).toPandas()
    jm = (pairs["jaccard"] * 1_000_000.0).round().astype("int64")
    assert got["n_pairs"].sum() == len(pairs)
    for r in got.itertuples():
        assert r.threshold_micro == r.bucket * SWEEP_BUCKET_MICRO
        assert r.n_pairs == int((jm // SWEEP_BUCKET_MICRO == r.bucket).sum())
        assert r.n_pairs_at_or_above == int(
            (jm >= r.bucket * SWEEP_BUCKET_MICRO).sum()
        )
    # Monotone non-increasing cumulative curve.
    assert got["n_pairs_at_or_above"].is_monotonic_decreasing


# --------------------------------------------------------------------
# Conversion lag — pandas referee
# --------------------------------------------------------------------


def test_conversion_lag_pandas_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r8 import LAG_BUCKET_SEC

    got = (
        QUERIES["events_conversion_lag_histogram"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("lag_bucket_hours", ignore_index=True)
    )
    e = _pd("events")
    sec = (e["ts"] - pd.Timestamp("1970-01-01")).dt.total_seconds().astype("int64")
    df = pd.DataFrame(
        {"user_id": e["user_id"], "event_type": e["event_type"], "sec": sec}
    )
    s0 = df[df["event_type"] == "signup"].groupby("user_id")["sec"].min()
    p0 = df[df["event_type"] == "purchase"].groupby("user_id")["sec"].min()
    lag = (p0 - s0).dropna()
    lag = lag[lag >= 0].astype("int64")
    want = (
        lag.groupby(lag // LAG_BUCKET_SEC)
        .agg(["size", "min", "max"])
        .reset_index()
        .set_axis(
            ["lag_bucket_hours", "n_users", "min_lag_sec", "max_lag_sec"], axis=1
        )
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_names=False
    )


# --------------------------------------------------------------------
# PQ distortion — ledger identities vs the registered assignment
# --------------------------------------------------------------------


def test_pq_distortion_ledger_identities(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.kmeans import (
        PQ_M,
        embeddings_pq_codes,
    )

    df = QUERIES["embeddings_pq_distortion_report"].fn(spark, SF_DIR).toPandas()
    codes = embeddings_pq_codes(spark, SF_DIR).toPandas()
    n_vecs = codes["vec_id"].nunique()
    assert set(df["subspace"]) == set(range(PQ_M))
    # Every subspace's loads partition the vector population.
    assert (df.groupby("subspace")["n_vectors"].sum() == n_vecs).all()
    # Exact distortion mass per cell vs the assignment table.
    d_e4 = (codes["dist_sq"] * 10_000.0).round().astype("int64")
    want = (
        codes.assign(d_e4=d_e4)
        .groupby(["subspace", "code"])["d_e4"]
        .agg(["size", "sum", "max"])
    )
    got = df.set_index(["subspace", "code"]).sort_index()
    assert (got["n_vectors"] == want["size"]).all()
    assert (got["sum_dist_e4"] == want["sum"]).all()
    assert (got["max_dist_e4"] == want["max"]).all()
    assert (got["mean_dist_e4"] == got["sum_dist_e4"] // got["n_vectors"]).all()
    # Load shares floor-sum to 1e6 − ε within each subspace.
    for _, g in df.groupby("subspace"):
        s = g["load_share_micro"].sum()
        assert 1_000_000 - len(g) < s <= 1_000_000


# --------------------------------------------------------------------
# Rule attribution — consistency vs the registered Gopher verdicts
# --------------------------------------------------------------------


def test_rule_attribution_vs_gopher_battery(spark):
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries

    df = QUERIES["docs_gopher_rule_attribution"].fn(spark, SF_DIR).toPandas()
    assert sorted(df["rule"]) == [
        "distinct_frac",
        "mean_word_len",
        "n_words",
        "stopword_hits",
    ]
    n_docs = len(_pd("documents"))
    assert (df["n_docs"] == n_docs).all()
    assert (df["n_sole_fail"] <= df["n_fail"]).all()
    # Sole kills can never exceed the kill total; every kill is
    # attributed at least once (Σ n_fail ≥ n_killed).
    n_killed = int(df["n_killed"].iloc[0])
    assert df["n_sole_fail"].sum() <= n_killed
    assert df["n_fail"].sum() >= n_killed
    # The kill total agrees with the registered Gopher keep verdicts.
    gopher = all_queries()["docs_gopher_quality"]
    keep_col = [
        c
        for c in gopher.fn(spark, SF_DIR).columns
        if "keep" in c or "pass" in c
    ]
    if keep_col:
        g = gopher.fn(spark, SF_DIR).toPandas()
        assert n_killed == int((~g[keep_col[0]].astype(bool)).sum())
