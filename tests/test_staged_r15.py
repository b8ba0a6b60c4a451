"""Tests for the queries in llm/staged_r15.py."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r15
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def test_r15_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r15,
        (
            "corpus_filter_ablation_lattice",
            "docs_ttr_window_profile",
            "events_burstiness_fano",
            "events_halflife_engagement",
            "orders_priority_mix_drift_tvd",
            "orders_theil_sen_trend",
            "orders_volume_changepoint",
            "part_type_brand_hhi",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r15, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r15, parity)


def test_fano_numpy_replay_with_zero_hours(spark):
    got = (
        QUERIES["events_burstiness_fano"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    ev = _pd("events")
    hour = (
        ev["ts"].astype("datetime64[ns]").astype("int64")
        // (3_600 * 10**9)
    )
    h0, h1 = int(hour.min()), int(hour.max())
    n = h1 - h0 + 1
    for et, grp in hour.groupby(ev["event_type"]):
        x = np.zeros(n, dtype=np.int64)
        for h, c in grp.value_counts().items():
            x[int(h) - h0] = c
        s1, s2 = int(x.sum()), int((x * x).sum())
        row = got.loc[et]
        assert row["n_hours"] == n
        assert row["n_events"] == s1
        assert row["mean_micro"] == s1 * 1_000_000 // n
        assert (
            row["fano_micro"]
            == (n * s2 - s1 * s1) * 1_000_000 // (n * max(s1, 1))
        ), et
        # the zero-hour pitfall: recomputing WITHOUT empty hours must
        # give a different (deflated-variance) answer on this fixture
        xz = x[x > 0]
        nz, s1z, s2z = len(xz), int(xz.sum()), int((xz * xz).sum())
        if nz < n:
            assert (
                (nz * s2z - s1z * s1z) * 1_000_000 // (nz * max(s1z, 1))
                != row["fano_micro"]
            )
    # every type's Fano is non-negative (population variance >= 0)
    assert (got["fano_micro"] >= 0).all()


def test_hhi_replay_and_bounds(spark):
    got = (
        QUERIES["part_type_brand_hhi"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("p_type")
        .sort_index()
    )
    import decimal

    li = _pd("lineitem")
    part = _pd("part").set_index("p_partkey")
    li["p_type"] = li["l_partkey"].map(part["p_type"])
    li["p_brand"] = li["l_partkey"].map(part["p_brand"])
    li["rev"] = [
        (
            decimal.Decimal(str(p)) * (1 - decimal.Decimal(str(d)))
        ).quantize(decimal.Decimal("0.0001"))
        for p, d in zip(li["l_extendedprice"], li["l_discount"])
    ]
    for ptype, grp in li.groupby("p_type"):
        w = grp.groupby("p_brand")["rev"].sum().map(
            lambda x: int(x * 10000)
        )
        t = int(w.sum())
        shares = [
            (int(we) // 10000) * 1_000_000 // max(t // 10000, 1)
            for we in w
        ]
        row = got.loc[ptype]
        assert row["n_brands"] == len(w)
        assert row["revenue_e4"] == t
        assert row["top_share_micro"] == max(shares)
        assert row["hhi_micro"] == sum(s * s for s in shares) // 1_000_000
        # bounds: 1e6/n <= HHI <= 1e6 (up to integer-DIV loss)
        assert row["hhi_micro"] <= 1_000_000
        assert row["hhi_micro"] >= 1_000_000 // len(w) - len(w)
        assert row["top_share_micro"] <= 1_000_000


def _words(text: str) -> list[str]:
    return [w for w in text.split(" ") if w != ""]


def test_ablation_lattice_replay_and_conservation(spark):
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r15 import (
        ABL_LANGS,
        ABL_MAX_WORDS,
        ABL_MIN_WORDS,
    )

    got = (
        QUERIES["corpus_filter_ablation_lattice"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["q_keep", "d_keep", "l_keep"])
        .reset_index(drop=True)
    )
    docs = _pd("documents")
    nw = docs["text"].map(lambda t: len(_words(t)))
    h = docs["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
    rn = (
        pd.DataFrame({"h": h, "doc_id": docs["doc_id"]})
        .sort_values(["h", "doc_id"])
        .groupby("h")
        .cumcount()
    )
    rep = pd.DataFrame(
        {
            "q_keep": nw.between(ABL_MIN_WORDS, ABL_MAX_WORDS),
            "d_keep": rn.sort_index() == 0,
            "l_keep": docs["lang"].isin(ABL_LANGS),
            "n_words": nw,
        }
    )
    total = max(int(rep["n_words"].sum()), 1)
    exp = (
        rep.groupby(["q_keep", "d_keep", "l_keep"])
        .agg(n_docs=("n_words", "size"), token_mass=("n_words", "sum"))
        .reset_index()
        .sort_values(["q_keep", "d_keep", "l_keep"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for g, e in zip(got.itertuples(), exp.itertuples()):
        assert (g.q_keep, g.d_keep, g.l_keep) == (
            e.q_keep,
            e.d_keep,
            e.l_keep,
        )
        assert g.n_docs == e.n_docs and g.token_mass == e.token_mass
        assert g.token_share_micro == e.token_mass * 1000000 // total
    # conservation: the lattice partitions the corpus exactly
    assert got["n_docs"].sum() == len(docs)
    assert got["token_mass"].sum() == rep["n_words"].sum()


def test_priority_tvd_replay_and_bounds(spark):
    got = (
        QUERIES["orders_priority_mix_drift_tvd"]
        .fn(spark, SF_DIR)
        .toPandas()
    )
    # Spark DATE -> object dtype of datetime.date; pin to Timestamps
    got["month_start"] = pd.to_datetime(got["month_start"])
    got = got.set_index("month_start").sort_index()
    orders = _pd("orders")
    m = pd.to_datetime(orders["o_orderdate"]).dt.to_period("M")
    c = orders["o_orderpriority"]
    cats = sorted(c.unique())
    n = len(orders)
    gshare = {
        k: int(v) * 1000000 // n for k, v in c.value_counts().items()
    }
    assert len(got) == m.nunique()
    # TVD is bounded [0, 1e6]; per-month replay is exact
    assert ((got["tvd_micro"] >= 0) & (got["tvd_micro"] <= 1000000)).all()
    for period, sub in pd.DataFrame({"m": m, "c": c}).groupby("m"):
        r = len(sub)
        vc = sub["c"].value_counts()
        devs = [
            abs(
                int(vc.get(k, 0)) * 1000000 // max(r, 1) - gshare[k]
            )
            for k in cats
        ]
        key = period.to_timestamp().date()
        row = got.loc[pd.Timestamp(key)]
        assert int(row["n_orders"]) == r
        assert int(row["tvd_micro"]) == sum(devs) // 2
        assert int(row["max_dev_micro"]) == max(devs)


def test_halflife_engagement_replay_and_laws(spark):
    got = (
        QUERIES["events_halflife_engagement"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("band")
        .sort_index()
    )
    ev = _pd("events")
    day = pd.to_datetime(ev["ts"]).dt.normalize()
    anchor = day.max()
    age_weeks = ((anchor - day).dt.days // 7).clip(upper=62)
    w = age_weeks.map(lambda k: 1000000 // (1 << int(k)))
    scored = pd.DataFrame({"u": ev["user_id"], "w": w}).groupby("u").agg(
        n_ev=("w", "size"), score=("w", "sum")
    )
    exp = (
        scored.assign(band=scored["score"] // 1000000)
        .groupby("band")
        .agg(
            n_users=("score", "size"),
            n_events=("n_ev", "sum"),
            sum_score_micro=("score", "sum"),
        )
        .sort_index()
    )
    assert got.index.tolist() == exp.index.tolist()
    assert (got["n_users"].values == exp["n_users"].values).all()
    assert (got["n_events"].values == exp["n_events"].values).all()
    assert (
        got["sum_score_micro"].values == exp["sum_score_micro"].values
    ).all()
    # laws: every user counted once; score never exceeds n_ev full weights
    assert got["n_users"].sum() == ev["user_id"].nunique()
    assert (scored["score"] <= scored["n_ev"] * 1000000).all()


def test_ttr_window_profile_replay_and_short_tail(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r15 import (
        TTR_BAND_MICRO,
        TTR_WINDOW_WORDS,
    )

    got = (
        QUERIES["docs_ttr_window_profile"].fn(spark, SF_DIR).toPandas()
    )
    docs = _pd("documents")
    W = TTR_WINDOW_WORDS

    def doc_mean_ttr(text: str) -> int | None:
        ws = _words(text)
        if not ws:
            return None
        wins = [ws[i : i + W] for i in range(0, len(ws), W)]
        ttrs = [len(set(win)) * 1000000 // len(win) for win in wins]
        return sum(ttrs) // len(wins)

    means = docs["text"].map(doc_mean_ttr)
    rep = pd.DataFrame(
        {"source": docs["source"], "mean": means}
    ).dropna()
    # short tail is INCLUDED: a 25-word doc has 2 windows (20 + 5)
    assert len([w for w in range(0, 25, W)]) == 2
    exp = (
        rep.assign(band=rep["mean"] // TTR_BAND_MICRO)
        .groupby(["source", "band"])
        .agg(n_docs=("mean", "size"), sum_ttr_micro=("mean", "sum"))
        .reset_index()
    )
    g = got.sort_values(["source", "band"]).reset_index(drop=True)
    e = exp.sort_values(["source", "band"]).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["source"] == e["source"]).all()
    assert (g["band"].astype(int).values == e["band"].astype(int).values).all()
    assert (g["n_docs"].values == e["n_docs"].values).all()
    assert (
        g["sum_ttr_micro"].values == e["sum_ttr_micro"].values
    ).all()
    # law: TTR is a ratio in [0, 1e6]; bands stay within [0, 10]
    assert g["band"].between(0, 10).all()


# --------------------------------------------------------------------
# Theil–Sen (round-11 growth) — numpy referee + robustness law
# --------------------------------------------------------------------


def _weekly_series():
    o = _pd("orders")
    day = (
        pd.to_datetime(o["o_orderdate"]).values.astype("datetime64[D]")
        - np.datetime64("1970-01-01")
    ).astype("int64")
    week = day // 7
    w0, w1 = int(week.min()), int(week.max())
    out = {}
    for prio, grp in pd.DataFrame(
        {"p": o["o_orderpriority"], "w": week}
    ).groupby("p"):
        y = np.zeros(w1 - w0 + 1, dtype="int64")
        vc = (grp["w"] - w0).value_counts()
        y[vc.index.to_numpy()] = vc.to_numpy()
        out[prio] = y
    return out


def test_theil_sen_matches_numpy_replay(spark):
    got = (
        QUERIES["orders_theil_sen_trend"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("priority")
    )
    for prio, y in _weekly_series().items():
        n = len(y)
        xs = np.arange(n)
        i, j = np.triu_indices(n, k=1)
        slopes = np.round((y[j] - y[i]) / (j - i), 6)
        m6 = round(float(np.median(slopes)), 6)
        resid = np.round(y - m6 * xs, 6)
        b = round(float(np.median(resid)), 6)
        assert got.loc[prio, "n_weeks"] == n
        assert got.loc[prio, "n_pairs"] == n * (n - 1) // 2
        assert got.loc[prio, "ts_slope_micro"] == round(m6 * 1e6)
        assert got.loc[prio, "ts_intercept_micro"] == round(b * 1e6)


def test_theil_sen_is_robust_where_ols_is_not():
    """The defining law: one gross outlier barely moves Theil–Sen but
    yanks OLS — on a clean synthetic ramp, not fixture data."""
    rng = np.arange(100, dtype=float)
    y = 3.0 * rng + 7.0
    y_dirty = y.copy()
    y_dirty[99] += 10_000.0  # high-leverage endpoint outlier
    i, j = np.triu_indices(100, k=1)

    def ts(v):
        return float(np.median((v[j] - v[i]) / (j - i)))

    assert abs(ts(y_dirty) - 3.0) < 0.05
    ols_dirty = np.polyfit(rng, y_dirty, 1)[0]
    assert abs(ols_dirty - 3.0) > 1.0


# --------------------------------------------------------------------
# Changepoint (round-11 growth) — numpy referee + SSE-reduction law
# --------------------------------------------------------------------


def _daily_series():
    o = _pd("orders")
    day = (
        pd.to_datetime(o["o_orderdate"]).values.astype("datetime64[D]")
        - np.datetime64("1970-01-01")
    ).astype("int64")
    d0, d1 = int(day.min()), int(day.max())
    out = {}
    for prio, grp in pd.DataFrame(
        {"p": o["o_orderpriority"], "d": day}
    ).groupby("p"):
        y = np.zeros(d1 - d0 + 1, dtype="int64")
        vc = (grp["d"] - d0).value_counts()
        y[vc.index.to_numpy()] = vc.to_numpy()
        out[prio] = (d0, y)
    return out


def _gains(y):
    n = len(y)
    sk = np.cumsum(y)
    sn = sk[-1]
    k = np.arange(1, n)
    num = (n * sk[:-1] - k * sn).astype(float)
    return k, num * num / (float(n) * k * (n - k))


def test_changepoint_matches_numpy_replay(spark):
    got = (
        QUERIES["orders_volume_changepoint"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("priority")
    )
    for prio, (d0, y) in _daily_series().items():
        n = len(y)
        k, g = _gains(y)
        best = int(k[np.argmax(g)])  # argmax returns FIRST max — ties on earlier k
        sk = int(np.cumsum(y)[best - 1])
        sn = int(y.sum())
        assert got.loc[prio, "n_days"] == n
        assert got.loc[prio, "total_orders"] == sn
        assert got.loc[prio, "split_day_epoch"] == d0 + best - 1
        assert got.loc[prio, "gain_micro"] == round(g[best - 1] * 1e6)
        assert got.loc[prio, "mean_left_micro"] == sk * 1_000_000 // best
        assert (
            got.loc[prio, "mean_right_micro"]
            == (sn - sk) * 1_000_000 // (n - best)
        )


def test_changepoint_gain_equals_sse_reduction():
    """G(k) must equal SSE(whole) − SSE(left) − SSE(right) — the
    variance-decomposition identity binseg optimizes. Verified on a
    synthetic step series at every split point."""
    rng = np.random.default_rng(7)
    y = np.concatenate(
        [rng.poisson(5, 80), rng.poisson(12, 120)]
    ).astype("int64")
    k, g = _gains(y)

    def sse(v):
        return float(((v - v.mean()) ** 2).sum()) if len(v) else 0.0

    for kk in (1, 40, 79, 80, 81, 150, len(y) - 1):
        reduction = sse(y) - sse(y[:kk]) - sse(y[kk:])
        assert abs(g[kk - 1] - reduction) < 1e-6 * max(1.0, reduction)
    # and the argmax sits at (or next to) the true step
    assert abs(int(k[np.argmax(g)]) - 80) <= 2
