"""Tests for the queries in llm/staged_r16.py (order-gap percentiles,
ladders, quantization sweep) and for ``events_peak_concurrency``,
which lives in streaming/windows.py."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r16
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def test_r16_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r16,
        (
            "customer_cohort_repeat_rate",
            "customer_order_gap_percentiles",
            "docs_lang_temperature_ladder",
            "docs_source_lang_association",
            "docs_vocab_coverage_ladder",
            "embeddings_quantization_sweep",
            "events_value_iqr_trimmed_stats",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r16, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r16, parity)


def test_order_gap_percentiles_numpy_replay(spark):
    got = (
        QUERIES["customer_order_gap_percentiles"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("segment")
        .sort_index()
    )
    orders = _pd("orders")
    cust = _pd("customer").set_index("c_custkey")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    df = pd.DataFrame(
        {
            "cust": orders["o_custkey"],
            "seg": orders["o_custkey"].map(cust["c_mktsegment"]),
            "day": day,
        }
    ).sort_values(["cust", "day"])
    df["gap"] = df.groupby("cust")["day"].diff()
    gaps = df.dropna(subset=["gap"])
    for seg, sub in gaps.groupby("seg"):
        g = np.sort(sub["gap"].to_numpy())
        row = got.loc[seg]
        assert row["n_gaps"] == len(g)
        # numpy 'linear' is the same type-7 interpolation as Spark
        # percentile / DuckDB quantile_cont; floor before comparing
        assert row["p50_gap_days"] == int(
            np.floor(np.percentile(g, 50, method="linear"))
        )
        assert row["p75_gap_days"] == int(
            np.floor(np.percentile(g, 75, method="linear"))
        )
        assert row["max_gap_days"] == int(g.max())


def test_vocab_coverage_ladder_replay_and_monotonicity(spark):
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r16 import VCL_KS

    got = (
        QUERIES["docs_vocab_coverage_ladder"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    docs = _pd("documents")
    c = Counter()
    for t in docs["text"]:
        c.update(w for w in t.split(" ") if w != "")
    total = sum(c.values())
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in VCL_KS:
        mass = sum(n for _, n in ordered[:k])
        assert got.loc[k, "top_mass"] == mass
        assert got.loc[k, "coverage_micro"] == mass * 1_000_000 // total
    # laws: coverage is monotone in k and bounded by 1e6
    cov = got["coverage_micro"].tolist()
    assert cov == sorted(cov)
    assert cov[-1] <= 1_000_000


def test_peak_concurrency_replay_and_conservation(spark):
    from python_nyc_taxi_data_pipeline_spark.streaming.windows import PCC_GAP_S

    got = (
        QUERIES["events_peak_concurrency"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    ev = _pd("events")
    ts_us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(ts_us=ts_us)
    spans = []
    for _, sub in ev.groupby("user_id"):
        t0 = prev = None
        for r in sub.sort_values(["ts_us", "event_id"]).itertuples():
            if prev is None or r.ts_us - prev > PCC_GAP_S * 1_000_000:
                if t0 is not None:
                    spans.append((t0, prev + 1))
                t0 = r.ts_us
            prev = r.ts_us
        spans.append((t0, prev + 1))
    bounds = sorted(
        [(t0, 1) for t0, _ in spans] + [(t1, -1) for _, t1 in spans],
        key=lambda p: (p[0], p[1]),
    )
    conc, per_day_peak, per_day_starts = 0, {}, {}
    for ts, d in bounds:
        conc += d
        day = ts // 86_400_000_000
        per_day_peak[day] = max(per_day_peak.get(day, -(10**9)), conc)
        if d > 0:
            per_day_starts[day] = per_day_starts.get(day, 0) + 1
    assert conc == 0  # every session closes
    days = sorted(per_day_peak)
    assert got.index.tolist() == days
    for day in days:
        assert got.loc[day, "peak_concurrent"] == per_day_peak[day]
        assert got.loc[day, "sessions_started"] == per_day_starts.get(
            day, 0
        )
    assert got["sessions_started"].sum() == len(spans)


def test_temperature_ladder_replay_and_limits(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r16 import (
        TML_ALPHAS,
    )

    got = QUERIES["docs_lang_temperature_ladder"].fn(spark, SF_DIR).toPandas()
    docs = _pd("documents")
    # slate convention: single-space split, empty tokens excluded
    toks = docs["text"].map(
        lambda t: sum(1 for w in t.split(" ") if w != "")
    )
    per_lang = toks.groupby(docs["lang"]).sum()
    total = per_lang.sum()
    langs = sorted(per_lang.index)
    for alpha in TML_ALPHAS:
        w = {l: (per_lang[l] / total) ** alpha for l in langs}
        z = sum(w.values())
        q = {l: w[l] / z for l in langs}
        eff = 1.0 / sum(v * v for v in q.values())
        sub = got[got["alpha"] == alpha].set_index("lang")
        assert sorted(sub.index) == langs
        for l in langs:
            assert sub.loc[l, "temp_frac"] == round(q[l], 6)
            assert sub.loc[l, "sample_weight"] == round(
                q[l] / (per_lang[l] / total), 6
            )
            assert sub.loc[l, "effective_langs"] == round(eff, 6)
    # limits: alpha=1 reproduces the natural mix (weight 1 for all);
    # effective count grows as alpha shrinks toward uniform
    nat = got[got["alpha"] == 1.0]
    assert (nat["sample_weight"] == 1.0).all()
    eff_by_alpha = (
        got.groupby("alpha")["effective_langs"].first().sort_index()
    )
    assert eff_by_alpha.is_monotonic_decreasing
    assert eff_by_alpha.iloc[0] <= len(langs) + 1e-6


def test_cohort_repeat_rate_replay_and_conservation(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r16 import (
        CRR_WINDOW_DAYS,
    )

    got = QUERIES["customer_cohort_repeat_rate"].fn(spark, SF_DIR).toPandas()
    got["cohort_month"] = pd.to_datetime(got["cohort_month"])
    got = got.set_index("cohort_month").sort_index()
    orders = _pd("orders")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    df = pd.DataFrame({"c": orders["o_custkey"], "d": day})
    rows = {}
    for c, sub in df.groupby("c"):
        ds = sorted(sub["d"])
        first = ds[0]
        month = pd.Timestamp("1970-01-01") + pd.Timedelta(days=first)
        month = month.to_period("M").to_timestamp()
        rep = len(ds) >= 2
        second = ds[1] if rep else None
        r = rows.setdefault(month, [0, 0, 0])
        r[0] += 1
        if rep:
            r[1] += 1
            if second - first <= CRR_WINDOW_DAYS:
                r[2] += 1
    assert got.index.tolist() == sorted(rows)
    for month in sorted(rows):
        n, rep, rep_w = rows[month]
        row = got.loc[month]
        assert row["n_customers"] == n
        assert row["n_repeat"] == rep
        assert row[f"n_repeat_{CRR_WINDOW_DAYS}d"] == rep_w
        assert row["repeat_rate_micro"] == rep * 1_000_000 // n
    # conservation: cohorts partition the customer base
    assert got["n_customers"].sum() == df["c"].nunique()


def test_trimmed_stats_replay_and_robustness(spark):
    got = (
        QUERIES["events_value_iqr_trimmed_stats"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    ev = _pd("events")
    cents = (ev["value"] * 100).round().astype("int64")
    for et, sub in cents.groupby(ev["event_type"]):
        g = np.sort(sub.to_numpy())
        p25 = int(np.floor(np.percentile(g, 25, method="linear")))
        p75 = int(np.floor(np.percentile(g, 75, method="linear")))
        trim = g[(g >= p25) & (g <= p75)]
        row = got.loc[et]
        assert row["n_all"] == len(g)
        assert row["p25_cents"] == p25 and row["p75_cents"] == p75
        assert row["n_trim"] == len(trim)
        assert row["trimmed_mean_cents_micro"] == int(
            trim.sum()
        ) * 1_000_000 // max(len(trim), 1)
        # robustness: the trimmed mean sits inside the trim bounds
        assert (
            p25 * 1_000_000
            <= row["trimmed_mean_cents_micro"]
            <= p75 * 1_000_000
        )


def test_source_lang_association_replay_and_bounds(spark):
    got = (
        QUERIES["docs_source_lang_association"].fn(spark, SF_DIR).toPandas()
    )
    assert len(got) == 1
    docs = _pd("documents")
    tab = pd.crosstab(docs["source"], docs["lang"])
    n = tab.values.sum()
    exp = np.outer(tab.sum(axis=1), tab.sum(axis=0)) / n
    chi2 = (((tab.values - exp) ** 2) / exp).sum()
    r, k = tab.shape
    v = np.sqrt(chi2 / (n * min(r - 1, k - 1)))
    row = got.iloc[0]
    assert row["n_docs"] == n
    assert row["dof"] == (r - 1) * (k - 1)
    assert row["chi2"] == round(float(chi2), 6)
    assert row["cramers_v"] == round(float(v), 6)
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_quantization_sweep_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r16 import (
        QUANT_LEVELS,
    )

    got = (
        QUERIES["embeddings_quantization_sweep"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("quant_scale", ignore_index=True)
    )
    emb = np.stack(_pd("embeddings")["embedding"].to_numpy()).astype(np.float64)
    frac = emb.ravel() * 10000.0
    q4 = np.round(frac)
    half = np.isclose(np.abs(frac - np.trunc(frac)), 0.5)
    q4 = np.where(half, np.trunc(frac) + np.sign(frac), q4).astype(np.int64)
    assert (got["n_values"] == q4.size).all()
    for r in got.itertuples():
        ratio = q4.astype(np.float64) * r.quant_scale / 10000.0
        rq = np.round(ratio)
        h = np.isclose(np.abs(ratio - np.trunc(ratio)), 0.5)
        rq = np.where(h, np.trunc(ratio) + np.sign(ratio), rq).astype(np.int64)
        err = np.abs(q4 * r.quant_scale - rq * 10000)
        assert r.n_exact == int((err == 0).sum()), r.quant_scale
        assert r.max_abs_err_e4s == int(err.max()), r.quant_scale
        assert r.sum_abs_err_e4s == int(err.sum()), r.quant_scale
    # Monotone laws: finer scales are never less exact; e4 is lossless.
    assert got["n_exact"].is_monotonic_increasing
    assert got.iloc[-1]["n_exact"] == q4.size
    assert got.iloc[-1]["sum_abs_err_e4s"] == 0
