"""Tests for the queries in llm/staged_r9.py: independent
pure-Python/pandas/numpy referees for the parts a hash mismatch can't
localize (BPE round-trip reconstruction, basket lift arithmetic, the
engine-free day-of-week convention, norm-fence moments, boilerplate
mass). Oracle parity is checked registry-wide (tests/test_parity.py)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r9
from python_nyc_taxi_data_pipeline_spark.llm.staged_r9 import (
    BASKET_MIN_SUPPORT,
    BOILER_MIN_DOCS,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


# --------------------------------------------------------------------
# Module-wide gates (parity and plans share the session's builds)
# --------------------------------------------------------------------


def test_r9_batch_names_the_whole_slate():
    gates.assert_registers_exactly(
        staged_r9,
        (
            "customer_l_diversity",
            "docs_boilerplate_ngram_mass",
            "docs_bpe_roundtrip_contract",
            "docs_pii_scrub_contract",
            "embeddings_cosine_calibration",
            "embeddings_norm_outliers",
            "events_error_cusum",
            "lineitem_ship_latency_histogram",
            "orders_basket_lift",
            "orders_seasonality_profile",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r9, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r9, parity)


def test_promote_to_registry_round_trip():
    gates.assert_register_round_trip("customer_l_diversity")


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


# --------------------------------------------------------------------
# BPE round-trip — the contract must actually HOLD, and the ratio must
# replay from the vocabulary
# --------------------------------------------------------------------


def test_bpe_roundtrip_holds_and_ratio_replays(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import EOW, bpe_train

    got = QUERIES["docs_bpe_roundtrip_contract"].fn(spark, SF_DIR).toPandas()
    assert (got["n_roundtrip_failures"] == 0).all()
    assert (got["n_symbols"] <= got["n_word_tokens"].map(lambda _: 10**18)).all()
    # Replay one language's aggregate from the raw vocab + corpus.
    _, vocab, _ = bpe_train(spark, SF_DIR)
    v = vocab.toPandas().set_index("word")["syms"]
    d = _pd("documents")
    lang = got["lang"].iloc[0]
    words = (
        d.loc[d["lang"] == lang, "text"].str.split(" ").explode().reset_index(drop=True)
    )
    n_syms = int(words.map(lambda w: len(v[w])).sum())
    n_chars = int(words.map(len).sum() + len(words))
    row = got.set_index("lang").loc[lang]
    assert int(row["n_word_tokens"]) == len(words)
    assert int(row["n_word_types"]) == words.nunique()
    assert int(row["n_symbols"]) == n_syms
    assert int(row["chars_per_symbol_micro"]) == n_chars * 1_000_000 // n_syms
    # Round-trip really reconstructs: every vocab entry concatenates
    # back to word + EOW.
    for w, syms in v.items():
        assert "".join(syms) == w + EOW


# --------------------------------------------------------------------
# Basket lift — pandas referee on supports and the lift formula
# --------------------------------------------------------------------


def test_basket_lift_pandas_replay(spark):
    got = QUERIES["orders_basket_lift"].fn(spark, SF_DIR).toPandas()
    li = _pd("lineitem")[["l_orderkey", "l_partkey"]]
    part = _pd("part")[["p_partkey", "p_brand"]]
    items = (
        li.merge(part, left_on="l_partkey", right_on="p_partkey")[
            ["l_orderkey", "p_brand"]
        ]
        .drop_duplicates()
        .rename(columns={"l_orderkey": "okey", "p_brand": "brand"})
    )
    n_orders = items["okey"].nunique()
    s1 = items.groupby("brand").size()
    merged = items.merge(items, on="okey")
    pairs = (
        merged[merged["brand_x"] < merged["brand_y"]]
        .groupby(["brand_x", "brand_y"])
        .size()
    )
    pairs = pairs[pairs >= BASKET_MIN_SUPPORT]
    assert len(got) == len(pairs)
    for r in got.itertuples():
        s_ab = pairs[(r.brand_a, r.brand_b)]
        assert r.s_ab == s_ab
        assert r.s_a == s1[r.brand_a] and r.s_b == s1[r.brand_b]
        assert r.n_orders == n_orders
        assert r.confidence_micro == s_ab * 1_000_000 // s1[r.brand_a]
        assert r.lift_micro == s_ab * n_orders * 1_000_000 // (
            s1[r.brand_a] * s1[r.brand_b]
        )
    # Symmetric sanity: confidence ≤ 1e6; support ≤ min(s_a, s_b).
    assert (got["confidence_micro"] <= 1_000_000).all()
    assert (got["s_ab"] <= got[["s_a", "s_b"]].min(axis=1)).all()


# --------------------------------------------------------------------
# Ship latency — bucket convention referee (esp. negative latencies)
# --------------------------------------------------------------------


def test_ship_latency_bucket_convention(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r9 import (
        LATENCY_BUCKET_DAYS,
    )

    got = QUERIES["lineitem_ship_latency_histogram"].fn(spark, SF_DIR).toPandas()
    li = _pd("lineitem")[["l_orderkey", "l_returnflag", "l_shipdate"]]
    o = _pd("orders")[["o_orderkey", "o_orderdate"]]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    lat = (
        j["l_shipdate"].dt.normalize() - j["o_orderdate"].dt.normalize()
    ).dt.days
    # floor-toward-minus-inf weekly bucket — numpy's // already floors
    want = (
        pd.DataFrame(
            {"flag": j["l_returnflag"], "bucket": lat // LATENCY_BUCKET_DAYS,
             "lat": lat}
        )
        .groupby(["flag", "bucket"])
        .agg(n=("lat", "size"), mn=("lat", "min"), mx=("lat", "max"))
    )
    assert got["n_lines"].sum() == len(j)
    g = got.set_index(["l_returnflag", "week_bucket"]).sort_index()
    assert (g["n_lines"] == want["n"]).all()
    assert (g["min_days"] == want["mn"]).all()
    assert (g["max_days"] == want["mx"]).all()
    # Every row's min/max actually lives inside its bucket's range.
    lo = g.index.get_level_values(1) * LATENCY_BUCKET_DAYS
    assert (g["min_days"] >= lo).all()
    assert (g["max_days"] < lo + LATENCY_BUCKET_DAYS).all()


# --------------------------------------------------------------------
# Seasonality — the engine-free DOW must equal the calendar weekday
# --------------------------------------------------------------------


def test_seasonality_dow_is_calendar_weekday(spark):
    got = QUERIES["orders_seasonality_profile"].fn(spark, SF_DIR).toPandas()
    o = _pd("orders")
    d = o["o_orderdate"].dt.normalize()
    want = (
        pd.DataFrame({"m": d.dt.month, "dow": d.dt.weekday})  # Monday=0
        .groupby(["m", "dow"])
        .size()
    )
    g = got.set_index(["month_num", "dow_idx"])["n_orders"].sort_index()
    pd.testing.assert_series_equal(
        g.astype("int64"),
        want.sort_index().astype("int64"),
        check_names=False,
        check_index_type=False,
    )
    n = len(o)
    assert (
        got["share_micro"] == got["n_orders"] * 1_000_000 // n
    ).all()


# --------------------------------------------------------------------
# Norm outliers — numpy moment referee
# --------------------------------------------------------------------


def test_norm_outliers_numpy_replay(spark):
    got = QUERIES["embeddings_norm_outliers"].fn(spark, SF_DIR).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    emb = np.stack(_pd("embeddings")["embedding"].to_numpy()).astype(np.float64)
    frac = emb * 10000.0
    qv = np.round(frac)
    half = np.isclose(np.abs(frac - np.trunc(frac)), 0.5)
    qv = np.where(half, np.trunc(frac) + np.sign(frac), qv).astype(np.int64)
    q2 = (qv * qv).sum(axis=1) // 1_000_000
    n = len(q2)
    m1, m2 = int(q2.sum()), int((q2 * q2).sum())
    mean = m1 / n
    sd = np.sqrt(m2 / n - mean * mean)
    lo, hi = round(mean - 3 * sd, 6), round(mean + 3 * sd, 6)
    assert int(r["n"]) == n
    assert int(r["sum_normsq_e2"]) == m1
    assert int(r["min_q2"]) == int(q2.min())
    assert int(r["max_q2"]) == int(q2.max())
    assert abs(float(r["fence_lo"]) - lo) < 1e-6
    assert abs(float(r["fence_hi"]) - hi) < 1e-6
    assert int(r["n_below"]) == int((q2 < float(r["fence_lo"])).sum())
    assert int(r["n_above"]) == int((q2 > float(r["fence_hi"])).sum())


# --------------------------------------------------------------------
# l-diversity — referee + the k-anonymity pairing invariant
# --------------------------------------------------------------------


def test_l_diversity_pandas_replay(spark):
    got = QUERIES["customer_l_diversity"].fn(spark, SF_DIR).toPandas()
    c = _pd("customer")
    cls = (
        c.assign(bal_bucket=np.floor(c["c_acctbal"] / 1000.0).astype(int))
        .groupby(["c_nationkey", "bal_bucket"])
        .agg(n_c=("c_custkey", "size"), l=("c_mktsegment", "nunique"))
    )
    want = cls.groupby("l").agg(
        n_classes=("n_c", "size"),
        n_customers=("n_c", "sum"),
        min_class_size=("n_c", "min"),
        max_class_size=("n_c", "max"),
    )
    g = got.set_index("diversity_l").sort_index()
    pd.testing.assert_frame_equal(
        g.astype("int64"), want.sort_index().astype("int64"), check_names=False
    )
    # Conservation: every customer is in exactly one class.
    assert got["n_customers"].sum() == len(c)
    # l is bounded by the sensitive-attribute domain.
    assert got["diversity_l"].max() <= c["c_mktsegment"].nunique()


# --------------------------------------------------------------------
# Boilerplate mass — pandas referee
# --------------------------------------------------------------------


def test_boilerplate_mass_pandas_replay(spark):
    got = QUERIES["docs_boilerplate_ngram_mass"].fn(spark, SF_DIR).toPandas()
    d = _pd("documents")
    rows = []
    for r in d.itertuples():
        ws = r.text.split(" ")
        for i in range(len(ws) - 2):
            rows.append((r.doc_id, r.source, f"{ws[i]} {ws[i+1]} {ws[i+2]}"))
    grams = pd.DataFrame(rows, columns=["doc_id", "source", "g"])
    dfreq = grams.drop_duplicates().groupby(["source", "g"]).size()
    boiler = set(dfreq[dfreq >= BOILER_MIN_DOCS].index)
    mass = grams.groupby("source").size()
    bmass = (
        grams[[t in boiler for t in zip(grams["source"], grams["g"])]]
        .groupby("source")
        .size()
    )
    g = got.set_index("source").sort_index()
    assert (g["total_grams"] == mass).all()
    for src in g.index:
        assert g.loc[src, "boiler_grams"] == int(bmass.get(src, 0)), src
        assert (
            g.loc[src, "boiler_share_micro"]
            == int(bmass.get(src, 0)) * 1_000_000 // int(mass[src])
        )
    assert (g["n_docs"] == d.groupby("source").size()).all()


# --------------------------------------------------------------------
# PII scrub — the residual-zero certificate + exact planted counts
# --------------------------------------------------------------------


def test_pii_scrub_certificate(spark):
    got = QUERIES["docs_pii_scrub_contract"].fn(spark, SF_DIR).toPandas()
    d = _pd("documents")
    # The base corpus is provably digit/@-free (the plant premise).
    assert not d["text"].str.contains("[0-9@]", regex=True).any()
    per_src = d.groupby("source").size()
    g = got.set_index("source").sort_index()
    assert (g["n_docs"] == per_src).all()
    # Exactly one planted email + one planted IP found per doc.
    assert (g["n_emails"] == g["n_docs"]).all()
    assert (g["n_ips"] == g["n_docs"]).all()
    # The certificate: zero residual matches after scrubbing.
    assert (g["n_residual"] == 0).all()
    # Length delta replay for one source: plant minus replacements.
    src = per_src.index[0]
    sub = d[d["source"] == src]
    planted_len = (
        " contact user@example.com from 10.0.."
    )  # fixed chars around the ids
    want_removed = sum(
        (len(f"user{i}@example.com") - len("<EMAIL>"))
        + (len(f"10.0.{i % 256}.{i % 100}") - len("<IP>"))
        for i in sub["doc_id"]
    )
    assert int(g.loc[src, "chars_removed"]) == want_removed


# --------------------------------------------------------------------
# CUSUM — the suffix-max implementation must equal the sequential
# recursion exactly (the identity's referee)
# --------------------------------------------------------------------


def test_cusum_equals_sequential_recursion(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r9 import CUSUM_H_MULT

    got = (
        QUERIES["events_error_cusum"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("day_idx", ignore_index=True)
    )
    e = _pd("events")
    err = e[e["event_type"] == "error"]
    days = err["ts"].dt.normalize()
    d0, d1 = days.min(), days.max()
    spine = pd.date_range(d0, d1, freq="D")
    counts = days.value_counts().reindex(spine, fill_value=0).astype(int)
    n = len(spine)
    k_micro = int(counts.sum()) * 1_000_000 // n
    s, path = 0, []
    for c in counts:
        s = max(0, s + (int(c) * 1_000_000 - k_micro))
        path.append(s)
    assert list(got["day_idx"]) == list(range(1, n + 1))
    assert list(got["n_errors"]) == list(counts)
    assert list(got["s_micro"]) == path
    assert list(got["alarm"]) == [p > CUSUM_H_MULT * k_micro for p in path]


# --------------------------------------------------------------------
# Cosine calibration — numpy referee + mass conservation
# --------------------------------------------------------------------


def test_cosine_calibration_numpy_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r9 import (
        CALIB_BLOCK,
        CALIB_BUCKET_MICRO,
    )

    got = (
        QUERIES["embeddings_cosine_calibration"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    emb = _pd("embeddings")
    blk = emb[emb["vec_id"] < CALIB_BLOCK].sort_values("vec_id")
    m = np.stack(blk["embedding"].to_numpy()).astype(np.float64)
    nrm = np.sqrt((m * m).sum(axis=1))
    cos = (m @ m.T) / np.outer(nrm, nrm)
    iu = np.triu_indices(len(m), k=1)
    c_micro = np.round(np.round(cos[iu], 6) * 1e6).astype(np.int64)
    assert got["n_pairs"].sum() == len(m) * (len(m) - 1) // 2
    buckets = (c_micro + 1_000_000) // CALIB_BUCKET_MICRO
    for r in got.itertuples():
        sel = c_micro[buckets == r.bucket]
        assert r.n_pairs == len(sel)
        assert r.min_c_micro == sel.min() and r.max_c_micro == sel.max()
        assert r.band_lo_micro == r.bucket * CALIB_BUCKET_MICRO - 1_000_000
        # band containment
        assert sel.min() >= r.band_lo_micro
        assert sel.max() < r.band_lo_micro + CALIB_BUCKET_MICRO
