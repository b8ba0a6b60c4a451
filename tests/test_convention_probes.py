"""Adversarial cross-engine convention probes (r9 VERDICT directive
#7): the two divergence classes that have each bitten once —
double→int CAST/percentile rounding (DuckDB half-even vs Spark
truncate; caught live at a real 307.5 percentile in the r16 build)
and empty-token / tie-break conventions (the two r8 ADVICE items) —
probed on PURPOSE-BUILT fixtures that force the boundary cases the
sf fixtures may never hit: exact x.5 percentile boundaries, negative
values through floor/percentile, and dirty whitespace (leading /
trailing / doubled spaces, an all-spaces document) through token
counting. Each probe runs the registered ENGINE query and its DuckDB
ORACLE on the same adversarial parquet and requires exact agreement
via the driver-gate comparator (tools/oracle_check.compare).

Sweep ledger (which sites were checked and why they're safe) lives in
COVERAGE.md §"r10 convention sweep".
"""

from __future__ import annotations

import duckdb
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from tools.oracle_check import compare

QUERIES = registry.all_queries()


def _run_pair(spark, fixture, query, tables):
    sdf = query.fn(spark, str(fixture)).toPandas()
    con = duckdb.connect()
    for t in tables:
        # Spark writes <table>.parquet as a directory of part files
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{fixture}/{t}.parquet/*.parquet')"
        )
    ddf = con.execute(query.oracle).fetchdf()
    con.close()
    problems = compare(query.name, sdf, ddf)
    assert not problems, f"{query.name}: {problems}"
    assert len(sdf) > 0
    return sdf


def test_percentile_floor_on_exact_half_boundaries(spark, tmp_path):
    """Inter-order gaps engineered so p50 and p75 land on x.5 / x.75
    fractions — the exact boundary where DuckDB CAST's half-even and
    Spark CAST's truncation diverge unless both floor() first (the
    r16 gap-percentile rule)."""
    fixture = tmp_path / "halfbound"
    fixture.mkdir()
    # segment S1: one customer, order days 0,1,3 -> gaps [1,2]:
    #   p50 = 1.5, p75 = 1.75 (both fractional).
    # segment S2: two customers with gaps [3] and [4,10]:
    #   pooled gaps [3,4,10] -> p50 = 4.0, p75 = 7.0 exact.
    orders = [
        (1, 101, 0), (2, 101, 1), (3, 101, 3),
        (4, 102, 5), (5, 102, 8),
        (6, 103, 0), (7, 103, 4), (8, 103, 14),
    ]
    spark.createDataFrame(
        [
            (ok, ck, "O", 10.0, f"1970-01-{1 + d:02d} 00:00:00", "1-URGENT")
            for ok, ck, d in orders
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    ).write.parquet(str(fixture / "orders.parquet"))
    spark.createDataFrame(
        [
            (101, "a", 0, 0.0, "S1"),
            (102, "b", 0, 0.0, "S2"),
            (103, "c", 0, 0.0, "S2"),
        ],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).write.parquet(str(fixture / "customer.parquet"))
    got = _run_pair(
        spark,
        fixture,
        QUERIES["customer_order_gap_percentiles"],
        ["orders", "customer"],
    ).set_index("segment")
    assert got.loc["S1", "p50_gap_days"] == 1  # floor(1.5)
    assert got.loc["S1", "p75_gap_days"] == 1  # floor(1.75)
    assert got.loc["S2", "p50_gap_days"] == 4
    assert got.loc["S2", "p75_gap_days"] == 7


def test_iqr_trim_on_negative_values_and_half_quantiles(spark, tmp_path):
    """Negative cents through floor(quantile) and the trimmed-mean
    integer division — floor(-2.5) must be -3 on BOTH engines, and
    Spark DIV / DuckDB // must agree on a negative numerator (both
    truncate toward zero for integer operands — verified, not
    assumed)."""
    fixture = tmp_path / "negs"
    fixture.mkdir()
    # type N cents [-350, -250, -100, -11, 0]: p25 = -250, p75 = -11
    #   exact; trimmed set [-250, -100, -11] -> sum -361 over 3 — a
    #   NEGATIVE non-divisible integer division (truncates to
    #   -120333333 on both engines, floor would give ...334).
    # type G cents [-5, -2]: p25 = -4.25, p75 = -2.75 — negative
    #   FRACTIONAL percentiles through floor().
    # type Q cents [10, 15, 26]: p25 = 12.5, p75 = 20.5 fractional
    #   (floored to [12, 20], keeping {15} in the trim).
    rows = []
    for i, v in enumerate([-3.50, -2.50, -1.00, -0.11, 0.00]):
        rows.append((i, "1970-01-01 00:00:00", 1, "N", v, "{}"))
    for i, v in enumerate([-0.05, -0.02]):
        rows.append((10 + i, "1970-01-01 00:00:00", 1, "G", v, "{}"))
    for i, v in enumerate([0.10, 0.15, 0.26]):
        rows.append((20 + i, "1970-01-01 00:00:00", 1, "Q", v, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(str(fixture / "events.parquet"))
    got = _run_pair(
        spark, fixture, QUERIES["events_value_iqr_trimmed_stats"], ["events"]
    ).set_index("event_type")
    assert got.loc["N", "p25_cents"] == -250
    assert got.loc["N", "n_trim"] == 3
    # -361_000_000 div 3: both engines truncate toward zero
    assert got.loc["N", "trimmed_mean_cents_micro"] == -120_333_333
    assert got.loc["G", "p25_cents"] == -5  # floor(-4.25)
    assert got.loc["G", "p75_cents"] == -3  # floor(-2.75)
    assert got.loc["Q", "p25_cents"] == 12  # floor(12.5)
    assert got.loc["Q", "p75_cents"] == 20  # floor(20.5)
    assert got.loc["Q", "n_trim"] == 1


def test_token_conventions_on_dirty_whitespace(spark, tmp_path):
    """Dirty whitespace through the slate's token convention
    (single-space split, empty tokens excluded): leading/trailing
    spaces, doubled separators, and an all-spaces document must
    produce identical counts on both engines AND match a hand count.
    Every lang keeps a nonzero token total — a lang whose ENTIRE
    corpus is empty-after-filtering would make the temperature
    ladder's sample_weight a 0/0 (documented precondition in
    COVERAGE.md, enforced upstream by quality filtering)."""
    fixture = tmp_path / "dirty"
    fixture.mkdir()
    docs = [
        (0, "alpha beta  gamma", "en", "web"),   # doubled separator
        (1, " alpha beta", "en", "web"),          # leading space
        (2, "beta gamma ", "en", "web"),          # trailing space
        (3, "   ", "fr", "web"),                  # all-spaces doc
        (4, "delta epsilon zeta", "fr", "web"),
        (5, "", "fr", "web"),                     # empty string
    ]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.parquet(str(fixture / "documents.parquet"))
    got = _run_pair(
        spark, fixture, QUERIES["docs_lang_temperature_ladder"], ["documents"]
    )
    by_lang = (
        got[got["alpha"] == 1.0].set_index("lang")["n_tokens"].to_dict()
    )
    # hand count with the convention: en = 3 + 2 + 2 = 7 (the doubled
    # separator, leading and trailing spaces each yield one excluded
    # empty token); fr = 0 + 3 + 0 = 3 (the all-spaces doc splits to
    # four empty tokens, the empty string to one — all excluded).
    assert by_lang == {"en": 7, "fr": 3}
    got2 = _run_pair(
        spark, fixture, QUERIES["docs_vocab_coverage_ladder"], ["documents"]
    )
    # total mass at the deepest rung covers every non-empty token (10)
    assert int(got2["top_mass"].max()) <= 10


# --------------------------------------------------------------------
# r11 extension: the r17/r18 slates (r10 VERDICT directive #4)
# --------------------------------------------------------------------


def test_trigram_oracle_unbounded_on_long_sessions(spark, tmp_path):
    """r10 ADVICE regression: the path-trigram oracle's position
    fan-out was a fixed generate_series(1, 1000), silently losing
    trigrams for sessions longer than 1002 events on the ORACLE side
    only. Fixture: one 1100-event single session (1 s spacing, far
    under the 30-min gap) — 1098 trigrams alternating a>b>a / b>a>b —
    plus a 2-event user that must contribute none. The old bound
    would have produced 499/499 on the oracle vs 549/549 on the
    engine; the lateral path-length bound must agree exactly."""
    fixture = tmp_path / "longsess"
    fixture.mkdir()
    rows = [
        (i, f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", 1,
         "a" if i % 2 == 0 else "b", 0.0, "{}")
        for i in range(1100)
    ] + [
        (2000, "2024-01-01 00:00:00", 2, "a", 0.0, "{}"),
        (2001, "2024-01-01 00:00:01", 2, "b", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(str(fixture / "events.parquet"))
    got = _run_pair(
        spark, fixture, QUERIES["events_session_path_trigrams"], ["events"]
    ).set_index("trigram")
    assert got.loc["a>b>a", "n_occurrences"] == 549
    assert got.loc["b>a>b", "n_occurrences"] == 549
    assert set(got.index) == {"a>b>a", "b>a>b"}
    assert (got["n_users"] == 1).all()


def test_bootstrap_hash_exact_with_ansi_off(spark, tmp_path):
    """r10 ADVICE regression: the bootstrap uniform's conv() hex→int
    hop must carry an explicit CAST AS BIGINT so the value stays
    exact with ANSI mode OFF (string % int coerces the 60-bit conv
    output to DOUBLE and loses precision). Probe: run the full
    engine/oracle pair twice — ANSI on AND off — and require the
    identical hash-exact result both times."""
    fixture = tmp_path / "bootansi"
    fixture.mkdir()
    spark.createDataFrame(
        [(i, f"doc {i}", "web", 37 + 13 * i) for i in range(40)],
        "doc_id long, text string, source string, n_chars int",
    ).write.parquet(str(fixture / "documents.parquet"))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    q = QUERIES["docs_length_bootstrap_ci"]
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = _run_pair(spark, fixture, q, ["documents"]).sort_values(
            "rep", ignore_index=True
        )
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = _run_pair(spark, fixture, q, ["documents"]).sort_values(
            "rep", ignore_index=True
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    pd.testing.assert_frame_equal(on, off)


def test_business_day_closed_form_against_numpy_busday(spark, tmp_path):
    """The r17 closed-form weekday count W(d) = 5·(d DIV 7) + cum[d%7]
    (epoch day 0 = Thursday) probed on EVERY start day-of-week ×
    several span lengths, refereed against numpy.busday_count — the
    independent calendar authority — on top of engine/oracle parity.
    bus_days = weekdays in (d0, d1] = np.busday_count(d0+1, d1+1)."""
    import numpy as np

    fixture = tmp_path / "busday"
    fixture.mkdir()
    # 1995-01-02 is a Monday; starts cover Mon..Sun, spans cover
    # same-day, next-day, weekend hops, one and two whole weeks.
    starts = [f"1995-01-{2 + k:02d}" for k in range(7)]
    spans = [0, 1, 2, 6, 7, 13]
    orders, lines, expected = [], [], 0
    ok = 0
    for s in starts:
        for sp in spans:
            d0 = np.datetime64(s)
            d1 = d0 + sp
            orders.append((ok, 1, "O", 1.0, f"{s} 00:00:00", "1-URGENT"))
            lines.append((ok, f"{d1} 00:00:00"))
            expected += int(np.busday_count(d0 + 1, d1 + 1))
            ok += 1
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP_NTZ) AS o_orderdate",
        "o_orderpriority",
    ).write.parquet(str(fixture / "orders.parquet"))
    spark.createDataFrame(
        lines, "l_orderkey long, l_shipdate string"
    ).selectExpr(
        "l_orderkey", "CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate"
    ).write.parquet(str(fixture / "lineitem.parquet"))
    got = _run_pair(
        spark, fixture, QUERIES["lineitem_business_day_latency"], ["orders", "lineitem"]
    )
    assert len(got) == 1
    assert int(got["n_lines"].iloc[0]) == ok
    assert int(got["sum_bus_days"].iloc[0]) == expected


def test_error_context_cold_start_and_strict_boundaries(spark, tmp_path):
    """The r17 pre-error context window's three boundary conventions:
    a cold-start error (nothing before it) pins last_gap_us to −1 on
    both engines (not NULL); an event exactly AT err_ts − 5 min is
    INSIDE (>= lower bound); a same-microsecond tie at err_ts is
    OUTSIDE (strict <)."""
    fixture = tmp_path / "coldstart"
    fixture.mkdir()
    rows = [
        # user 1: error is the very FIRST event -> empty window, -1.
        (10, "2024-01-01 00:00:00", 1, "error", 0.0, "{}"),
        (11, "2024-01-01 00:01:00", 1, "view", 0.0, "{}"),
        # user 2: context at exactly err_ts - 300s (inside), one
        # mid-window error (burst), one tie at err_ts (outside).
        (20, "2024-01-01 01:00:00.000000", 2, "view", 0.0, "{}"),
        (21, "2024-01-01 01:02:00", 2, "error", 0.0, "{}"),
        (22, "2024-01-01 01:05:00.000000", 2, "click", 0.0, "{}"),
        (23, "2024-01-01 01:05:00.000000", 2, "error", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(str(fixture / "events.parquet"))
    got = _run_pair(
        spark, fixture, QUERIES["events_error_context_window"], ["events"]
    ).set_index("error_id")
    # user 1 cold start
    assert int(got.loc[10, "n_prior"]) == 0
    assert int(got.loc[10, "last_gap_us"]) == -1
    # error 21: only event 20 precedes it (exactly 120 s before)
    assert int(got.loc[21, "n_prior"]) == 1
    assert int(got.loc[21, "last_gap_us"]) == 120_000_000
    # error 23: event 20 is exactly 300 s before (INSIDE, >=), error 21
    # is 180 s before (burst), click 22 is the same microsecond
    # (OUTSIDE, strict <) -> 2 prior, 1 prior error, gap 180 s.
    assert int(got.loc[23, "n_prior"]) == 2
    assert int(got.loc[23, "n_prior_errors"]) == 1
    assert int(got.loc[23, "last_gap_us"]) == 180_000_000
