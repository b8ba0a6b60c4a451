"""Tests for the queries in llm/staged_r17.py and for
``docs_length_bootstrap_ci``, which lives in plans/textstats.py."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r17
from python_nyc_taxi_data_pipeline_spark.llm.staged_r17 import (
    BDL_CUM,
    DAC_LAGS,
    ECW_WINDOW_US,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def test_r17_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r17,
        (
            "customer_churn_training_frame",
            "docs_char_entropy_quality",
            "events_error_context_window",
            "lineitem_approx_percentile_contract",
            "lineitem_business_day_latency",
            "orders_daily_autocorr",
            "orders_dow_adjusted_anomalies",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r17, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r17, parity)


# --------------------------------------------------------------------
# Interval-overlap pairs — brute-force pandas referee + laws
# --------------------------------------------------------------------


# --------------------------------------------------------------------
# Daily autocorrelation — numpy referee + Cauchy–Schwarz law
# --------------------------------------------------------------------


def test_daily_autocorr_numpy_replay(spark):
    got = (
        QUERIES["orders_daily_autocorr"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("lag_days")
        .sort_index()
    )
    orders = _pd("orders")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    lo, hi = int(day.min()), int(day.max())
    c = np.zeros(hi - lo + 1, dtype=np.int64)
    for d, n in day.value_counts().items():
        c[int(d) - lo] = n
    n_days, s = len(c), int(c.sum())
    r = n_days * c - s  # exact n-scaled residuals
    den = int((r.astype(object) * r.astype(object)).sum())
    assert sorted(got.index) == sorted(DAC_LAGS)
    for k in DAC_LAGS:
        num = int((r[:-k].astype(object) * r[k:].astype(object)).sum())
        row = got.loc[k]
        assert row["n_pairs"] == n_days - k
        assert row["num_scaled"] == num
        assert row["den_scaled"] == den
        assert row["autocorr"] == round(num / den, 6)
        # Cauchy–Schwarz: the lagged inner product never exceeds the
        # full-series energy
        assert abs(row["autocorr"]) <= 1.0
    # the weekly lag should dominate the monthly echo's NOISE floor
    # only directionally — no magnitude law asserted (fixture-driven).


# --------------------------------------------------------------------
# Image aHash — full python replay of synth→resize→hash + laws
# --------------------------------------------------------------------


# --------------------------------------------------------------------
# Error context window — brute-force pandas referee + laws
# --------------------------------------------------------------------


def test_error_context_window_bruteforce_replay(spark):
    got = (
        QUERIES["events_error_context_window"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("error_id")
        .sort_index()
    )
    ev = _pd("events")
    ts_us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(ts_us=ts_us)
    by_user = {u: sub for u, sub in ev.groupby("user_id")}
    errors = ev[ev["event_type"] == "error"]
    assert sorted(got.index) == sorted(errors["event_id"])
    for r in errors.itertuples():
        sub = by_user[r.user_id]
        win = sub[
            (sub["ts_us"] >= r.ts_us - ECW_WINDOW_US)
            & (sub["ts_us"] < r.ts_us)
        ]
        row = got.loc[r.event_id]
        assert row["user_id"] == r.user_id
        assert row["n_prior"] == len(win)
        assert row["n_prior_errors"] == int(
            (win["event_type"] == "error").sum()
        )
        if len(win):
            assert row["last_gap_us"] == r.ts_us - int(win["ts_us"].max())
            assert 0 < row["last_gap_us"] <= ECW_WINDOW_US
        else:
            assert row["last_gap_us"] == -1
    # law: error context never exceeds total prior context
    assert (got["n_prior_errors"] <= got["n_prior"]).all()


# --------------------------------------------------------------------
# Business-day latency — datetime-walk referee for the closed form
# --------------------------------------------------------------------


def test_business_day_closed_form_matches_datetime_walk(spark):
    from datetime import date, timedelta

    got = (
        QUERIES["lineitem_business_day_latency"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("priority")
        .sort_index()
    )

    def w(d: int) -> int:
        return 5 * (d // 7) + BDL_CUM[d % 7]

    def walk(d0: int, d1: int) -> int:
        # literal weekday walk over (d0, d1]; SIGNED when d1 < d0
        # (the fixture contains ship-before-order rows — the closed
        # form counts them negative, surfacing the data error)
        if d1 < d0:
            return -walk(d1, d0)
        epoch = date(1970, 1, 1)
        n = 0
        for d in range(d0 + 1, d1 + 1):
            if (epoch + timedelta(days=d)).weekday() < 5:
                n += 1
        return n

    li = _pd("lineitem")
    orders = _pd("orders").set_index("o_orderkey")
    d1 = (
        pd.to_datetime(li["l_shipdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    d0 = (
        pd.to_datetime(
            li["l_orderkey"].map(orders["o_orderdate"])
        ).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    pri = li["l_orderkey"].map(orders["o_orderpriority"])
    bus = (d1 + 1).map(w) - (d0 + 1).map(w)
    cal = d1 - d0
    # closed form == the literal walk on a spot sample (the formula's
    # correctness proof; the full frame uses the closed form)
    for i in li.index[:200]:
        assert bus[i] == walk(int(d0[i]), int(d1[i])), (d0[i], d1[i])
    df = pd.DataFrame({"pri": pri, "bus": bus, "cal": cal})
    for p, sub in df.groupby("pri"):
        row = got.loc[p]
        assert row["n_lines"] == len(sub)
        assert row["sum_bus_days"] == int(sub["bus"].sum())
        assert row["mean_bus_days_micro"] == int(
            sub["bus"].sum() * 1_000_000 // len(sub)
        )
        assert row["mean_cal_days_micro"] == int(
            sub["cal"].sum() * 1_000_000 // len(sub)
        )
        assert row["max_bus_days"] == int(sub["bus"].max())
    # law: |business days| never exceed |calendar days|, and the two
    # always share a sign (zero-crossing only together)
    assert (bus.abs() <= cal.abs()).all()
    assert ((bus == 0) | (bus * cal > 0)).all()


# --------------------------------------------------------------------
# Poisson bootstrap — python replay of the deterministic draw + laws
# --------------------------------------------------------------------


def test_bootstrap_deterministic_replay_and_spread(spark):
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.plans.textstats import (
        BOOT_CDF,
        BOOT_REPS,
    )

    got = (
        QUERIES["docs_length_bootstrap_ci"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("rep")
        .sort_index()
    )
    docs = _pd("documents")
    cdf = [float(f) for f in BOOT_CDF]

    def weight(doc_id: int, rep: int) -> int:
        h = int(
            hashlib.md5(f"{doc_id}:{rep}".encode()).hexdigest()[:15], 16
        )
        u = (h % 4294967296) / 4294967296.0
        for k, f in enumerate(cdf):
            if u < f:
                return k
        return 7

    assert got.index.tolist() == list(range(BOOT_REPS))
    for rep in range(0, BOOT_REPS, 7):  # spot-check every 7th replicate
        n_eff = sum_len = 0
        for r in docs.itertuples():
            k = weight(int(r.doc_id), rep)
            n_eff += k
            sum_len += k * int(r.n_chars)
        row = got.loc[rep]
        assert row["n_eff"] == n_eff
        assert row["sum_len"] == sum_len
        assert row["mean_len_micro"] == sum_len * 1_000_000 // max(n_eff, 1)
    # laws: Poisson(1) keeps n_eff near n (within 4 sigma = 4*sqrt(n));
    # the replicate means spread around the corpus mean
    n = len(docs)
    assert (abs(got["n_eff"] - n) <= 4 * max(n, 1) ** 0.5 + 1).all()
    corpus_mean = docs["n_chars"].sum() * 1_000_000 // n
    lo, hi = got["mean_len_micro"].min(), got["mean_len_micro"].max()
    assert lo <= corpus_mean <= hi  # CI brackets the point estimate
    assert lo < hi  # non-degenerate spread


# --------------------------------------------------------------------
# Char entropy — python replay of the per-term micro convention
# --------------------------------------------------------------------


def test_char_entropy_python_replay(spark):
    import math

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r17 import (
        CEQ_LOW_MICRO,
    )

    got = (
        QUERIES["docs_char_entropy_quality"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    docs = _pd("documents")
    per_source: dict[str, list[int]] = {}
    for r in docs.itertuples():
        if len(r.text) == 0:
            continue
        counts: dict[str, int] = {}
        for ch in r.text:
            counts[ch] = counts.get(ch, 0) + 1
        n = len(r.text)
        h = sum(
            int(round(-(c / n) * math.log(c / n) * 1_000_000.0))
            for c in counts.values()
        )
        per_source.setdefault(r.source, []).append(h)
    assert sorted(got.index) == sorted(per_source)
    for src, hs in per_source.items():
        row = got.loc[src]
        assert row["n_docs"] == len(hs)
        assert row["mean_h_micro"] == sum(hs) // len(hs)
        assert row["n_low_entropy"] == sum(1 for h in hs if h < CEQ_LOW_MICRO)
        assert row["min_h_micro"] == min(hs)
    # law: char entropy of an n-char doc is bounded by ln(alphabet)<=ln(n)
    assert (got["mean_h_micro"] >= 0).all()


# --------------------------------------------------------------------
# Churn frame — leakage law + pandas replay
# --------------------------------------------------------------------


def test_churn_frame_replay_and_leakage_law(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r17 import (
        CHN_CUTOFF,
        CHN_HORIZON_DAYS,
    )

    got = (
        QUERIES["customer_churn_training_frame"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("custkey")
        .sort_index()
    )
    orders = _pd("orders")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    cents = (orders["o_totalprice"] * 100).round().astype("int64")
    cut = (pd.Timestamp(CHN_CUTOFF) - pd.Timestamp("1970-01-01")).days
    df = pd.DataFrame(
        {"cust": orders["o_custkey"], "day": day, "cents": cents}
    )
    want = {}
    for cust, sub in df.groupby("cust"):
        pre = sub[sub["day"] < cut]
        if pre.empty:
            continue
        win = sub[(sub["day"] >= cut) & (sub["day"] < cut + CHN_HORIZON_DAYS)]
        want[cust] = (
            len(pre),
            int(pre["cents"].sum()),
            cut - int(pre["day"].max()),
            cut - int(pre["day"].min()),
            len(win) == 0,
        )
    assert sorted(got.index) == sorted(want)
    for cust, (n, cents_, rec, ten, churned) in want.items():
        row = got.loc[cust]
        assert row["n_orders_pre"] == n
        assert row["spend_cents_pre"] == cents_
        assert row["recency_days"] == rec
        assert row["tenure_days"] == ten
        assert bool(row["churned"]) == churned
    # leakage law: features are invariant to anything at/after the
    # cutoff — recompute with the label window deleted entirely
    df_nolabel = df[df["day"] < cut]
    for cust, sub in df_nolabel.groupby("cust"):
        row = got.loc[cust]
        assert row["n_orders_pre"] == len(sub)
        assert row["spend_cents_pre"] == int(sub["cents"].sum())
    assert (got["recency_days"] >= 1).all()
    assert (got["tenure_days"] >= got["recency_days"]).all()


# --------------------------------------------------------------------
# Approx-percentile contract — non-vacuous + exact-rank sanity
# --------------------------------------------------------------------


def test_approx_percentile_contract_holds_and_is_tight(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r17 import (
        APC_ACCURACY,
    )

    got = (
        QUERIES["lineitem_approx_percentile_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
    )
    assert len(got) == 1
    row = got.iloc[0]
    li = _pd("lineitem")
    n = len(li)
    assert row["n"] == n
    assert row["eps_rows"] == n // APC_ACCURACY + 1
    assert bool(row["ok_p50"]) and bool(row["ok_p90"]) and bool(row["ok_p99"])
    # non-vacuous: the permitted slack is a sliver of the corpus
    assert row["eps_rows"] * 1000 < max(n, 1000)


# --------------------------------------------------------------------
# DOW anomalies — numpy replay of baseline/MAD/threshold
# --------------------------------------------------------------------


def test_dow_anomalies_numpy_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r17 import (
        DOW_MAD_K,
    )

    got = (
        QUERIES["orders_dow_adjusted_anomalies"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    orders = _pd("orders")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    lo, hi = int(day.min()), int(day.max())
    c = np.zeros(hi - lo + 1, dtype=np.int64)
    for d, cnt in day.value_counts().items():
        c[int(d) - lo] = cnt
    days = np.arange(lo, hi + 1)
    dows = (days + 3) % 7
    mean_micro = {
        dw: int(c[dows == dw].sum()) * 1_000_000 // int((dows == dw).sum())
        for dw in range(7)
    }
    resid = c * 1_000_000 - np.array([mean_micro[dw] for dw in dows])
    mad = int(np.floor(np.percentile(np.abs(resid), 50, method="linear")))
    thr = DOW_MAD_K * mad
    flag = np.abs(resid) > thr
    assert got.index.tolist() == list(days[flag])
    for i, d in enumerate(days):
        if not flag[i]:
            continue
        row = got.loc[d]
        assert row["dow"] == dows[i]
        assert row["c"] == c[i]
        assert row["resid_micro"] == resid[i]
        assert row["threshold_micro"] == thr
