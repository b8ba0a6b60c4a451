"""Tests for the queries in llm/staged_r18.py (CUPED readout,
naive-forecast eval, session path trigrams and the experimentation
shelf)."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r18
from python_nyc_taxi_data_pipeline_spark.llm.staged_r18 import (
    CUPED_BOUNDARY_DAY,
    NFE_LAG_DAYS,
    SPT_GAP_S,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def test_r18_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r18,
        (
            "docs_stratified_split_manifest",
            "events_ab_cuped_readout",
            "events_ab_srm_check",
            "events_power_mde_planner",
            "events_session_path_trigrams",
            "events_type_entropy_rate",
            "events_weekly_retention_triangle",
            "orders_did_readout",
            "orders_naive_forecast_eval",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r18, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r18, parity)


# --------------------------------------------------------------------
# CUPED — numpy replay + the variance-reduction identity
# --------------------------------------------------------------------


def test_cuped_numpy_replay_and_identity(spark):
    got = (
        QUERIES["events_ab_cuped_readout"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("arm")
        .sort_index()
    )
    ev = _pd("events")
    day = (
        pd.to_datetime(ev["ts"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    cents = (ev["value"] * 100).round().astype("int64")
    df = pd.DataFrame({"u": ev["user_id"], "day": day, "cents": cents})
    per_user = {}
    for u, sub in df.groupby("u"):
        pre = int(sub.loc[sub["day"] < CUPED_BOUNDARY_DAY, "cents"].sum())
        post = int(sub.loc[sub["day"] >= CUPED_BOUNDARY_DAY, "cents"].sum())
        per_user[int(u)] = (int(u) % 2, pre, post)
    n = len(per_user)
    sp = sum(p for _, p, _ in per_user.values())
    sq = sum(q for _, _, q in per_user.values())
    spq = sum(p * q for _, p, q in per_user.values())
    spp = sum(p * p for _, p, _ in per_user.values())
    th = round((n * spq - sp * sq) / max(n * spp - sp * sp, 1), 6)
    grand_pre = sp * 1_000_000 // n
    for arm in (0, 1):
        members = [(p, q) for a, p, q in per_user.values() if a == arm]
        n_a = len(members)
        mean_pre = sum(p for p, _ in members) * 1_000_000 // n_a
        mean_post = sum(q for _, q in members) * 1_000_000 // n_a
        row = got.loc[arm]
        assert row["n_users"] == n_a
        assert row["mean_pre_micro"] == mean_pre
        assert row["mean_post_micro"] == mean_post
        assert row["theta_micro"] == int(round(th * 1_000_000))
        assert row["adjusted_mean_micro"] == int(
            round(mean_post - th * (mean_pre - float(grand_pre)))
        )
    # CUPED identity: the adjustment is mean-preserving in aggregate —
    # the user-weighted adjusted means recombine to (close to) the
    # grand post mean (exact up to the integer-mean rounding grain).
    tot = sum(
        got.loc[a, "adjusted_mean_micro"] * got.loc[a, "n_users"]
        for a in (0, 1)
    )
    grand_post = sq * 1_000_000 // n
    assert abs(tot / n - grand_post) < 2_000_000  # within 2 cents


# --------------------------------------------------------------------
# Forecast eval — numpy replay + scale-free laws
# --------------------------------------------------------------------


def test_forecast_eval_numpy_replay(spark):
    got = (
        QUERIES["orders_naive_forecast_eval"]
        .fn(spark, SF_DIR)
        .toPandas()
    )
    got["month"] = pd.to_datetime(got["month"])
    got = got.set_index("month").sort_index()
    orders = _pd("orders")
    day = (
        pd.to_datetime(orders["o_orderdate"]).dt.normalize()
        - pd.Timestamp("1970-01-01")
    ).dt.days
    lo, hi = int(day.min()), int(day.max())
    c = np.zeros(hi - lo + 1, dtype=np.int64)
    for d, n in day.value_counts().items():
        c[int(d) - lo] = n
    rows = {}
    for idx in range(NFE_LAG_DAYS, len(c)):
        d = lo + idx
        actual, fc = int(c[idx]), int(c[idx - NFE_LAG_DAYS])
        month = (
            pd.Timestamp("1970-01-01") + pd.Timedelta(days=d)
        ).to_period("M").to_timestamp()
        r = rows.setdefault(month, [0, 0, 0, 0])
        r[0] += 1
        r[1] += abs(actual - fc)
        r[2] += 2_000_000 * abs(actual - fc) // max(actual + fc, 1)
        r[3] += actual - fc
    assert got.index.tolist() == sorted(rows)
    for month, (n_days, ae, smape, bias) in rows.items():
        row = got.loc[month]
        assert row["n_days"] == n_days
        assert row["mae_micro"] == ae * 1_000_000 // n_days
        assert row["smape_micro"] == smape // n_days
        assert row["bias_days"] == bias
    # laws: sMAPE is bounded by 2e6; MAE >= |bias|/n scaled
    assert (got["smape_micro"] <= 2_000_000).all()
    assert (
        got["mae_micro"] * got["n_days"]
        >= (got["bias_days"].abs() * 1_000_000)
    ).all()


# --------------------------------------------------------------------
# Path trigrams — python replay + conservation
# --------------------------------------------------------------------


def test_path_trigrams_python_replay(spark):
    got = (
        QUERIES["events_session_path_trigrams"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("trigram")
        .sort_index()
    )
    ev = _pd("events")
    ts_us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.assign(ts_us=ts_us)
    occ: dict[str, int] = {}
    users: dict[str, set] = {}
    n_expected_total = 0
    for uid, sub in ev.groupby("user_id"):
        path: list[str] = []
        prev = None
        paths = []
        for r in sub.sort_values(["ts_us", "event_id"]).itertuples():
            if prev is not None and r.ts_us - prev > SPT_GAP_S * 1_000_000:
                paths.append(path)
                path = []
            path.append(r.event_type)
            prev = r.ts_us
        paths.append(path)
        for p in paths:
            n_expected_total += max(len(p) - 2, 0)
            for i in range(len(p) - 2):
                key = f"{p[i]}>{p[i + 1]}>{p[i + 2]}"
                occ[key] = occ.get(key, 0) + 1
                users.setdefault(key, set()).add(int(uid))
    assert got.index.tolist() == sorted(occ)
    for key, n in occ.items():
        assert got.loc[key, "n_occurrences"] == n
        assert got.loc[key, "n_users"] == len(users[key])
    # conservation: total trigram occurrences == sum over sessions
    assert int(got["n_occurrences"].sum()) == n_expected_total


# --------------------------------------------------------------------
# Retention triangle (round-11 growth) — pandas replay + laws
# --------------------------------------------------------------------


def test_retention_triangle_pandas_replay(spark):
    got = (
        QUERIES["events_weekly_retention_triangle"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["cohort_week", "age_weeks"], ignore_index=True)
    )
    ev = _pd("events")
    week = (
        ev["ts"].astype("datetime64[ns]").values.astype("datetime64[D]")
        - np.datetime64("1970-01-01")
    ).astype("int64") // 7
    act = pd.DataFrame(
        {"u": ev["user_id"], "w": week}
    ).drop_duplicates()
    first = act.groupby("u")["w"].min()
    act["cohort"] = act["u"].map(first)
    act["age"] = act["w"] - act["cohort"]
    tri = (
        act.groupby(["cohort", "age"])["u"].nunique().reset_index(name="n")
    )
    base = tri[tri["age"] == 0].set_index("cohort")["n"]
    tri["size"] = tri["cohort"].map(base)
    tri["ppm"] = tri["n"] * 1_000_000 // tri["size"]
    tri = tri.sort_values(["cohort", "age"], ignore_index=True)
    assert len(got) == len(tri)
    assert (got["cohort_week"].values == tri["cohort"].values).all()
    assert (got["age_weeks"].values == tri["age"].values).all()
    assert (got["cohort_size"].values == tri["size"].values).all()
    assert (got["n_active"].values == tri["n"].values).all()
    assert (got["retention_ppm"].values == tri["ppm"].values).all()
    # laws: age 0 is the cohort itself; retention never exceeds 1e6;
    # a cohort's active count never exceeds its size
    a0 = got[got["age_weeks"] == 0]
    assert (a0["retention_ppm"] == 1_000_000).all()
    assert (a0["n_active"] == a0["cohort_size"]).all()
    assert (got["retention_ppm"] <= 1_000_000).all()


# --------------------------------------------------------------------
# Entropy rate (round-11 growth) — pandas replay + info-theory laws
# --------------------------------------------------------------------


def test_entropy_rate_pandas_replay(spark):
    got = (
        QUERIES["events_type_entropy_rate"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("src")
        .sort_index()
    )
    ev = (
        _pd("events")
        .sort_values(["user_id", "ts", "event_id"])
        .reset_index(drop=True)
    )
    pairs = []
    for _, grp in ev.groupby("user_id", sort=False):
        et = grp["event_type"].tolist()
        pairs.extend(zip(et, et[1:]))
    trans = pd.Series(pairs).value_counts()
    c = trans.rename_axis("pair").reset_index(name="c")
    c["src"] = c["pair"].str[0]
    crow = c.groupby("src")["c"].sum()
    ctot = int(c["c"].sum())
    for src, grp in c.groupby("src"):
        row_n = int(crow[src])
        h_row = sum(
            int(round(-(cc / row_n) * math.log(cc / row_n) * 1e6))
            for cc in grp["c"]
        )
        h_contrib = sum(
            int(round(-(cc / ctot) * math.log(cc / row_n) * 1e6))
            for cc in grp["c"]
        )
        assert got.loc[src, "n_out"] == row_n
        assert got.loc[src, "out_degree"] == len(grp)
        assert got.loc[src, "h_row_micro"] == h_row, src
        assert got.loc[src, "h_rate_contrib_micro"] == h_contrib, src
    # laws: row entropy in [0, ln(out_degree)] micro (+ rounding slop);
    # contributions are non-negative and sum to <= max row entropy
    for src in got.index:
        k = int(got.loc[src, "out_degree"])
        assert 0 <= got.loc[src, "h_row_micro"] <= round(
            math.log(max(k, 2)) * 1e6
        ) + k
    assert (got["h_rate_contrib_micro"] >= 0).all()
    assert (
        got["h_rate_contrib_micro"].sum()
        <= got["h_row_micro"].max() + len(got)
    )


# --------------------------------------------------------------------
# Split manifest (round-11 growth) — hashlib replay + conservation
# --------------------------------------------------------------------


def test_split_manifest_hashlib_replay(spark):
    import hashlib

    got = (
        QUERIES["docs_stratified_split_manifest"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["source", "split"], ignore_index=True)
    )
    docs = _pd("documents")

    def split_of(doc_id) -> str:
        b = int(
            hashlib.md5(str(int(doc_id)).encode()).hexdigest()[:15], 16
        ) % 10
        return "train" if b <= 7 else ("val" if b == 8 else "test")

    docs["split"] = docs["doc_id"].map(split_of)
    docs["toks"] = docs["text"].map(lambda t: len(str(t).split(" ")))
    per = (
        docs.groupby(["source", "split"])
        .agg(n_docs=("doc_id", "size"), n_tokens=("toks", "sum"))
        .reset_index()
    )
    srct = per.groupby("source")[["n_docs", "n_tokens"]].sum()
    per["doc_share_ppm"] = per.apply(
        lambda r: int(r["n_docs"])
        * 1_000_000
        // int(srct.loc[r["source"], "n_docs"]),
        axis=1,
    )
    per["token_share_ppm"] = per.apply(
        lambda r: int(r["n_tokens"])
        * 1_000_000
        // max(int(srct.loc[r["source"], "n_tokens"]), 1),
        axis=1,
    )
    per = per.sort_values(["source", "split"], ignore_index=True)
    assert len(got) == len(per)
    for col in (
        "n_docs",
        "n_tokens",
        "doc_share_ppm",
        "token_share_ppm",
    ):
        assert (got[col].values == per[col].values).all(), col
    # conservation: every doc lands in exactly one split
    assert int(got["n_docs"].sum()) == len(docs)
    # determinism: the split is a pure function of doc_id — rerunning
    # the hash gives the same buckets (no RNG anywhere)
    assert (docs["doc_id"].map(split_of) == docs["split"]).all()


# --------------------------------------------------------------------
# SRM check (round-11 close) — replay + the two-cell identity
# --------------------------------------------------------------------


def test_srm_check_replay_and_identity(spark):
    got = (
        QUERIES["events_ab_srm_check"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("arm")
        .sort_index()
    )
    ev = _pd("events")
    users = ev["user_id"].drop_duplicates()
    n0 = int((users % 2 == 0).sum())
    n1 = int((users % 2 == 1).sum())
    n = n0 + n1
    chi2 = (max(n0, n1) - min(n0, n1)) ** 2 * 1_000_000 // n
    for arm, na in ((0, n0), (1, n1)):
        row = got.loc[arm]
        assert row["n_users"] == na
        assert row["share_ppm"] == na * 1_000_000 // n
        assert row["chi2_micro"] == chi2
        assert bool(row["srm_flag"]) == (chi2 > 3_841_459)
    # identity: the collapsed form equals the textbook two-cell sum
    e = n / 2
    chi2_text = ((n0 - e) ** 2 + (n1 - e) ** 2) / e
    assert abs(chi2 / 1e6 - chi2_text) < 1e-3


# --------------------------------------------------------------------
# DiD (round-11 close) — replay + the four-cell identity
# --------------------------------------------------------------------


def test_did_replay_and_identity(spark):
    got = (
        QUERIES["orders_did_readout"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["grp", "period"], ignore_index=True)
    )
    o = _pd("orders")
    grp = (o["o_custkey"] % 2).astype("int64")
    period = (
        pd.to_datetime(o["o_orderdate"]) >= pd.Timestamp("1995-06-01")
    ).astype("int64")
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    cells = {}
    for (g, p), sub in cents.groupby([grp, period]):
        cells[(int(g), int(p))] = (
            len(sub),
            int(sub.sum()) * 1_000_000 // len(sub),
        )
    did = (cells[(1, 1)][1] - cells[(1, 0)][1]) - (
        cells[(0, 1)][1] - cells[(0, 0)][1]
    )
    assert len(got) == 4
    for _, row in got.iterrows():
        n, m = cells[(int(row["grp"]), int(row["period"]))]
        assert row["n_orders"] == n
        assert row["mean_micro"] == m
        assert row["did_micro"] == did
    # conservation: the four cells partition the orders table
    assert int(got["n_orders"].sum()) == len(o)


# --------------------------------------------------------------------
# MDE planner (round-11 close) — replay + the 1/sqrt(n) law
# --------------------------------------------------------------------


def test_mde_planner_replay_and_sqrt_law(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r18 import (
        MDE_LADDER,
        Z_ALPHA,
        Z_BETA,
    )

    got = (
        QUERIES["events_power_mde_planner"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("mult")
        .sort_index()
    )
    ev = _pd("events")
    cents = (ev["value"] * 100).round().astype("int64")
    spend = cents.groupby(ev["user_id"]).sum()
    n = len(spend)
    s1, s2 = int(spend.sum()), int((spend * spend).sum())
    var = s2 / n - (s1 / n) ** 2
    for m in MDE_LADDER:
        per_arm = n // 2 * m
        mde = (Z_ALPHA + Z_BETA) * math.sqrt(2 * var / per_arm)
        row = got.loc[m]
        assert row["n_per_arm"] == per_arm
        assert row["mde_abs_micro"] == int(round(mde * 1e6))
        assert row["mde_rel_ppm"] == int(round(mde / (s1 / n) * 1e6))
    # law: quadrupling n halves the MDE (up to the micro rounding grain)
    assert abs(got.loc[4, "mde_abs_micro"] * 2 - got.loc[1, "mde_abs_micro"]) <= 2
    assert abs(got.loc[8, "mde_abs_micro"] * 2 - got.loc[2, "mde_abs_micro"]) <= 2
