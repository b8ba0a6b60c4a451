"""Tests for the queries in llm/staged_r19.py (Hilbert-vs-zorder
layout quality, per-priority OLS trend, Benford first-digit screen).

Referees: the generated Hilbert SQL is proven against the DEFINING
curve properties (bijection + unit-Manhattan steps over the full grid)
and against an independent Python ``xy2d``; the layout contract must
show Hilbert strictly tighter than Morton at the non-aligned span and
EXACTLY equal at a 4^k-aligned span (the degeneracy that motivated the
span choice); OLS is replayed with ``numpy.polyfit``; Benford with a
pure-pandas replay plus the Σppm ≈ 1e6 law.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r19
from python_nyc_taxi_data_pipeline_spark.llm.staged_r19 import (
    BENFORD_PPM,
    HIL_FILE_SPAN,
    Z_DIM,
    _hilbert_steps,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def test_r19_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r19,
        (
            "orders_benford_first_digit",
            "orders_hilbert_vs_zorder_quality",
            "orders_priority_trend_ols",
            "orders_runs_test",
            "part_price_type_anova",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r19, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r19, parity)


# --------------------------------------------------------------------
# Hilbert — curve laws, independent referee, and the layout verdict
# --------------------------------------------------------------------


def _xy2d(n: int, x: int, y: int) -> int:
    """Independent Python referee — the classical algorithm, written
    separately from the SQL generator."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _grid_through_sql_chain() -> pd.DataFrame:
    """Push the FULL Z_DIM x Z_DIM grid through the exact generated
    SQL level chain in DuckDB; returns (cb, db, hd)."""
    chain = ["h0 AS (SELECT cb, db, cb AS hx, db AS hy, 0 AS hd FROM g)"]
    for i, (d, x, y) in enumerate(_hilbert_steps()):
        chain.append(
            f"h{i + 1} AS (SELECT cb, db, {x} AS hx, {y} AS hy,"
            f" {d} AS hd FROM h{i})"
        )
    n = len(_hilbert_steps())
    sql = f"""
    WITH g AS (
      SELECT a.i AS cb, b.i AS db
      FROM (SELECT unnest(generate_series(0, {Z_DIM - 1})) AS i) a
      CROSS JOIN (SELECT unnest(generate_series(0, {Z_DIM - 1})) AS i) b
    ), {", ".join(chain)}
    SELECT cb, db, hd FROM h{n}
    """
    return duckdb.sql(sql).fetchdf()


def test_hilbert_sql_is_a_true_hilbert_curve():
    got = _grid_through_sql_chain()
    n2 = Z_DIM * Z_DIM
    # bijection onto [0, Z_DIM^2)
    assert len(got) == n2
    assert got["hd"].min() == 0 and got["hd"].max() == n2 - 1
    assert got["hd"].nunique() == n2
    # the DEFINING property: consecutive indices are Manhattan-adjacent
    s = got.sort_values("hd", ignore_index=True)
    step = (s["cb"].diff().abs() + s["db"].diff().abs()).iloc[1:]
    assert (step == 1).all()
    # independent Python referee on a deterministic sample
    sample = got.iloc[:: 997].itertuples(index=False)
    for cb, db, hd in sample:
        assert _xy2d(Z_DIM, int(cb), int(db)) == int(hd)


def test_hilbert_beats_zorder_at_nonaligned_span(spark):
    got = (
        QUERIES["orders_hilbert_vs_zorder_quality"]
        .fn(spark, SF_DIR)
        .toPandas()
    )
    hil = got[got["layout"] == "hilbert"]
    zor = got[got["layout"] == "zorder"]
    # the headline: Hilbert's zone maps are strictly tighter
    assert hil["bbox_area"].iloc[0] < zor["bbox_area"].iloc[0]
    # and never scan MORE files on any predicate of the bank
    merged = hil.merge(zor, on="predicate", suffixes=("_h", "_z"))
    assert (merged["files_scanned_h"] <= merged["files_scanned_z"]).all()
    # span sanity: the carve is genuinely non-aligned
    assert HIL_FILE_SPAN & (HIL_FILE_SPAN - 1) != 0 or int(
        math.log2(HIL_FILE_SPAN)
    ) % 2 == 1


def test_curves_degenerate_identically_at_aligned_span():
    """At a 4^k-aligned file span over the DENSE grid both curves tile
    into identical squares — the vacuous regime the contract's span
    deliberately avoids. Pin the fact that motivated HIL_FILE_SPAN."""
    got = _grid_through_sql_chain()
    aligned = 1024  # 4^5
    for key in ("hd",):
        f = got.assign(file=got[key] // aligned)
        box = f.groupby("file").agg(
            a=("cb", "min"), b=("cb", "max"), c=("db", "min"), d=("db", "max")
        )
        area = ((box["b"] - box["a"] + 1) * (box["d"] - box["c"] + 1)).sum()
        assert area == Z_DIM * Z_DIM  # perfect 32x32 tiling, zero overlap


# --------------------------------------------------------------------
# OLS — numpy referee
# --------------------------------------------------------------------


def test_ols_matches_numpy_polyfit(spark):
    got = (
        QUERIES["orders_priority_trend_ols"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("priority")
    )
    o = _pd("orders")
    day = (
        pd.to_datetime(o["o_orderdate"]).values.astype("datetime64[D]")
        - np.datetime64("1970-01-01")
    ).astype("int64")
    week = day // 7
    w0, w1 = int(week.min()), int(week.max())
    xs = np.arange(w1 - w0 + 1, dtype=float)
    for prio, grp in pd.DataFrame(
        {"p": o["o_orderpriority"], "w": week}
    ).groupby("p"):
        y = np.zeros(len(xs))
        vc = (grp["w"] - w0).value_counts()
        y[vc.index.to_numpy()] = vc.to_numpy()
        slope, intercept = np.polyfit(xs, y, 1)
        assert got.loc[prio, "n_weeks"] == len(xs)
        assert got.loc[prio, "total_orders"] == len(grp)
        assert abs(got.loc[prio, "slope_micro"] / 1e6 - slope) < 2e-6
        # the engine rounds theta at 6 dp BEFORE the intercept formula
        # (cross-engine exactness), so its intercept can differ from the
        # unrounded fit by up to 0.5e-6 * mean(x) + the final micro round
        tol = 1e-6 + 0.51e-6 * xs.mean()
        assert abs(got.loc[prio, "intercept_micro"] / 1e6 - intercept) < tol


# --------------------------------------------------------------------
# Benford — pandas replay + the ppm laws
# --------------------------------------------------------------------


def test_benford_expected_ppm_table():
    # Python-side law: the embedded literals are log10(1+1/d) ppm and
    # sum to ~exactly one million (Benford is a probability measure).
    for d in range(1, 10):
        assert BENFORD_PPM[d] == int(
            round(math.log10(1 + 1 / d) * 1_000_000)
        )
    assert abs(sum(BENFORD_PPM.values()) - 1_000_000) <= 2


def test_benford_pandas_replay(spark):
    got = (
        QUERIES["orders_benford_first_digit"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["priority", "digit"], ignore_index=True)
    )
    o = _pd("orders")
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    df = pd.DataFrame(
        {
            "priority": o["o_orderpriority"],
            "digit": cents.astype(str).str[0].astype("int64"),
        }
    )[cents > 0]
    rows = []
    for (prio, dig), grp in df.groupby(["priority", "digit"]):
        n = int((df["priority"] == prio).sum())
        obs = len(grp)
        ppm = obs * 1_000_000 // n
        rows.append(
            (prio, dig, obs, ppm, BENFORD_PPM[dig], ppm - BENFORD_PPM[dig])
        )
    want = pd.DataFrame(
        rows,
        columns=[
            "priority",
            "digit",
            "n_obs",
            "obs_ppm",
            "expected_ppm",
            "dev_ppm",
        ],
    ).sort_values(["priority", "digit"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got.astype({c: "int64" for c in want.columns[1:]}), want
    )


# --------------------------------------------------------------------
# ANOVA (round-11 growth) — numpy referee against the raw formula
# --------------------------------------------------------------------


def test_anova_matches_numpy_replay(spark):
    got = (
        QUERIES["part_price_type_anova"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("p_type")
        .sort_index()
    )
    part = _pd("part")
    cents = (part["p_retailprice"] * 100).round().astype("int64")
    groups = {
        t: grp.to_numpy() for t, grp in cents.groupby(part["p_type"])
    }
    k, n = len(groups), len(part)
    # replicate the engine's per-group centi-rounding exactly
    ssw_e2 = sum(
        int(round((float((g * g).sum()) - float(g.sum()) / len(g) * g.sum()) * 100))
        for g in groups.values()
    )
    msq_e2 = sum(
        int(round(float(g.sum()) / len(g) * g.sum() * 100))
        for g in groups.values()
    )
    s1t = int(cents.sum())
    ssb = msq_e2 / 100.0 - float(s1t) / n * s1t
    f_micro = int(round(ssb / (k - 1) / ((ssw_e2 / 100.0) / (n - k)) * 1e6))
    assert (got["n_groups"] == k).all()
    assert (got["n_parts"] == n).all()
    assert (got["f_stat_micro"] == f_micro).all()
    for t, g in groups.items():
        assert got.loc[t, "n_i"] == len(g)
        assert got.loc[t, "mean_micro"] == int(g.sum()) * 1_000_000 // len(g)
    # sanity vs the unrounded textbook F: the term-rounding grain is
    # centi-cents^2, invisible at micro precision on this fixture
    means = {t: g.mean() for t, g in groups.items()}
    grand = cents.mean()
    ssb_raw = sum(len(g) * (means[t] - grand) ** 2 for t, g in groups.items())
    ssw_raw = sum(((g - means[t]) ** 2).sum() for t, g in groups.items())
    f_raw = (ssb_raw / (k - 1)) / (ssw_raw / (n - k))
    assert abs(f_micro / 1e6 - f_raw) < 1e-3


# --------------------------------------------------------------------
# Runs test (round-11 growth) — numpy referee + direction laws
# --------------------------------------------------------------------


def _runs_z(signs: np.ndarray) -> tuple[int, int, int, float]:
    a = int((signs == 1).sum())
    b = int((signs == 0).sum())
    r = 1 + int((signs[1:] != signs[:-1]).sum())
    n = a + b
    mu = 1 + 2 * a * b / n
    var = 2 * a * b * (2 * a * b - n) / (n * n * (n - 1))
    return a, b, r, (r - mu) / math.sqrt(var)


def test_runs_test_matches_numpy_replay(spark):
    got = (
        QUERIES["orders_runs_test"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("priority")
    )
    o = _pd("orders")
    day = (
        pd.to_datetime(o["o_orderdate"]).values.astype("datetime64[D]")
        - np.datetime64("1970-01-01")
    ).astype("int64")
    d0, d1 = int(day.min()), int(day.max())
    for prio, grp in pd.DataFrame(
        {"p": o["o_orderpriority"], "d": day}
    ).groupby("p"):
        y = np.zeros(d1 - d0 + 1, dtype="int64")
        vc = (grp["d"] - d0).value_counts()
        y[vc.index.to_numpy()] = vc.to_numpy()
        med = round(float(np.median(y)), 6)
        kept = y[y != med]
        signs = (kept > med).astype("int64")
        a = int((signs == 1).sum())
        b = int((signs == 0).sum())
        row = got.loc[prio]
        if a == 0 or b == 0 or a + b < 2:  # the engine's guard
            assert row["z_micro"] == 0
            assert row["n_plus"] == a and row["n_minus"] == b
            continue
        a, b, r, z = _runs_z(signs)
        assert row["n_plus"] == a
        assert row["n_minus"] == b
        assert row["n_runs"] == r
        assert row["z_micro"] == round(z * 1e6)


def test_runs_test_direction_laws():
    """Alternating series → far MORE runs than chance (z >> 0);
    two solid blocks → far FEWER (z << 0); the two failure modes the
    screen separates."""
    alt = np.tile([1, 0], 50)
    _, _, _, z_alt = _runs_z(alt)
    assert z_alt > 5
    blocks = np.array([1] * 50 + [0] * 50)
    _, _, _, z_blk = _runs_z(blocks)
    assert z_blk < -5
