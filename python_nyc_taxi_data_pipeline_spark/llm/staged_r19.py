"""Layout-quality and classical-statistics queries, each registered
with its DuckDB oracle.

The operators:

- ``orders_hilbert_vs_zorder_quality``: the LAYOUT-QUALITY contract
  the r10 VERDICT named — Hilbert curve vs Morton (z-order) on the
  SAME two predicate dimensions, same file carve, same zone maps.
  The Hilbert transform is the classical per-level rotate-and-fold
  (Wikipedia ``xy2d``), unrolled into 8 exact integer levels and
  spelled IDENTICALLY in both engines' SQL; quality is measured two
  ways: the zone-map bounding-box area a file's (cb, db) min/max
  spans (the data-skipping proxy — smaller boxes prune more), and
  the r7 contract's predicate bank (point / range / conjunction)
  scanned-file counts. Hilbert's unit-step locality (consecutive
  indices are always Manhattan-adjacent cells; Morton takes long
  diagonal jumps at power-of-two boundaries) is what the bbox sum
  surfaces — the number a table-layout decision reads.
- ``orders_priority_trend_ols``: per-priority ORDINARY LEAST SQUARES
  trend of weekly order volume over the zero-filled week spine —
  slope/intercept from EXACT int64 moments (n, Σx, Σy, Σxy, Σx²),
  the closed-form regression every metrics warehouse ships before
  anything fancier. Same moment discipline as the registered CUPED
  readout: the only doubles are two division sites rounded at 6 dp
  from exact integers, re-rounded to integer micro.
- ``orders_benford_first_digit``: BENFORD'S-LAW forensic screen on
  order totals (first significant digit of the exact cents value via
  string head — no log10 on the data path) per priority: observed
  ppm vs the Benford expectation ppm (Python-computed integer
  literals embedded in BOTH engines' SQL — zero cross-engine float
  risk). The fraud/data-quality screen auditors run on any monetary
  column; a synthetic fixture's deviation profile is itself a
  fingerprint the test pins.
- ``part_price_type_anova``: one-way ANOVA F across part types —
  the categorical×numeric "does this dimension matter" gate, with
  per-group SS terms rounded once before the order-free global sum.
- ``orders_runs_test``: Wald–Wolfowitz runs test on daily volume —
  the nonparametric randomness screen (too few runs = regimes, too
  many = oscillation) that tells the trend/changepoint pair whether
  there is anything to find.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


# --------------------------------------------------------------------
# Hilbert vs z-order layout quality (the r10 VERDICT #5 contract)
# --------------------------------------------------------------------

# Reuse the r7 z-order contract's bucket geometry and predicate bank so
# the two layout contracts are directly comparable.
from .staged_r7 import (  # noqa: E402
    L_FILE_SPAN as _L_SPAN,  # noqa: F401  (documented sibling)
    Z_BITS,
    Z_DIM,
    ZPRED_VALUES_SQL,
    _z_expr,
    zorder_predicates,
)


def _hilbert_steps() -> list[tuple[str, str, str]]:
    """The classical xy2d Hilbert transform, unrolled: per level
    (s = 2^(bits-1) … 1), emit (hd', hx', hy') expressions over the
    incoming (hx, hy, hd) columns — quadrant digit added to the index,
    then the rotate-and-fold that keeps locality. Pure integer CASE /
    ``&`` / arithmetic, valid verbatim in BOTH Spark SQL and DuckDB
    (shared text = zero spelling drift). Verified bijective with
    unit-Manhattan steps over the full 2^bits × 2^bits grid by the
    referee test."""
    steps = []
    for lvl in range(Z_BITS):
        s = 1 << (Z_BITS - 1 - lvl)
        d = (
            f"hd + {s * s} * (CASE WHEN (hx & {s}) > 0 THEN"
            f" (CASE WHEN (hy & {s}) > 0 THEN 2 ELSE 3 END)"
            f" ELSE (CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END) END)"
        )
        x = (
            f"CASE WHEN (hy & {s}) > 0 THEN hx"
            f" WHEN (hx & {s}) > 0 THEN {s} - 1 - hy ELSE hy END"
        )
        y = (
            f"CASE WHEN (hy & {s}) > 0 THEN hy"
            f" WHEN (hx & {s}) > 0 THEN {s} - 1 - hx ELSE hx END"
        )
        steps.append((d, x, y))
    return steps


# File span for THIS contract: deliberately NOT a power of 4. At a
# 4^k-aligned span (like the r7 contract's 1024) both curves tile the
# dense grid into identical aligned squares and the comparison is
# vacuous — every space-filling curve's files are perfect 32x32 boxes.
# At 768 keys/file the file boundaries cut across quadrant boundaries:
# Hilbert's unit-step locality keeps each file a compact blob while
# Morton's power-of-two jumps scatter it — the bbox gap IS the metric.
HIL_FILE_SPAN = 768


def _hilbert_oracle() -> str:
    chain = ["h0 AS (SELECT cb, db, cb AS hx, db AS hy, 0 AS hd FROM r)"]
    for i, (d, x, y) in enumerate(_hilbert_steps()):
        chain.append(
            f"h{i + 1} AS (SELECT cb, db, {x} AS hx, {y} AS hy,"
            f" {d} AS hd FROM h{i})"
        )
    n_levels = len(_hilbert_steps())
    return f"""
    WITH anchor AS (
      SELECT min(o_orderdate) AS mn,
             CAST((epoch_us(max(o_orderdate)) - epoch_us(min(o_orderdate)))
                  // 86400000000 AS BIGINT) AS max_day
      FROM orders
    ), r AS (
      SELECT CAST(o_custkey % {Z_DIM} AS BIGINT) AS cb,
             CAST(((epoch_us(o_orderdate) - epoch_us(a.mn)) // 86400000000)
                  * {Z_DIM} // (a.max_day + 1) AS BIGINT) AS db
      FROM orders CROSS JOIN anchor a
    ), {", ".join(chain)},
    keyed AS (
      SELECT 'zorder' AS layout,
             CAST({_z_expr("duck")} AS BIGINT) // {HIL_FILE_SPAN} AS file,
             cb, db
      FROM r
      UNION ALL
      SELECT 'hilbert', CAST(hd AS BIGINT) // {HIL_FILE_SPAN}, cb, db
      FROM h{n_levels}
    ), stats AS (
      SELECT layout, file,
             min(cb) AS mncb, max(cb) AS mxcb,
             min(db) AS mndb, max(db) AS mxdb,
             CAST(count(*) AS BIGINT) AS nr
      FROM keyed GROUP BY 1, 2
    ), quality AS (
      SELECT layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum((mxcb - mncb + 1) * (mxdb - mndb + 1)) AS BIGINT)
               AS bbox_area,
             CAST(sum(nr) AS BIGINT) AS total_rows
      FROM stats GROUP BY 1
    ), preds AS (
      {ZPRED_VALUES_SQL}
    ), scanned AS (
      SELECT s.layout, p.predicate,
             CAST(sum(CASE WHEN
               (p.cb_point IS NULL
                OR (s.mncb <= p.cb_point AND p.cb_point <= s.mxcb))
               AND (p.db_lo IS NULL
                    OR (s.mxdb >= p.db_lo AND s.mndb <= p.db_hi))
               THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(sum(CASE WHEN
               (p.cb_point IS NULL
                OR (s.mncb <= p.cb_point AND p.cb_point <= s.mxcb))
               AND (p.db_lo IS NULL
                    OR (s.mxdb >= p.db_lo AND s.mndb <= p.db_hi))
               THEN s.nr ELSE 0 END) AS BIGINT) AS rows_scanned
      FROM stats s CROSS JOIN preds p
      GROUP BY 1, 2
    )
    SELECT q.layout, sc.predicate, q.n_files, sc.files_scanned,
           sc.rows_scanned, q.total_rows, q.bbox_area
    FROM quality q JOIN scanned sc ON sc.layout = q.layout
    """


@register(
    "orders_hilbert_vs_zorder_quality",
    oracle=_hilbert_oracle(),
    tags=("layout", "pruning", "contract", "hilbert"),
)
def orders_hilbert_vs_zorder_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HILBERT vs MORTON layout-quality contract (r10 VERDICT #5):
    cluster the same (customer-bucket, day-bucket) keys two ways —
    the r7 contract's 16-bit Morton interleave and a TRUE Hilbert
    curve (8 unrolled rotate-and-fold levels, the classical ``xy2d``)
    — carve each key space into the same {files}-file layout, and
    compare what the zone maps say: per layout, the summed min/max
    bounding-box AREA of its files (Hilbert's unit-step locality
    gives tighter boxes than Morton's power-of-two diagonal jumps —
    the measurable reason Databricks moved liquid clustering off
    plain z-order), plus the r7 predicate bank's files/rows scanned.
    One row per (layout, predicate); the layout columns repeat.

    Exactness: the Hilbert transform is pure integer CASE/``&``
    arithmetic generated ONCE and embedded verbatim in both engines;
    buckets, file ids, zone maps and every count/area are exact
    integers. Referee: the full 2^{bits}×2^{bits} grid through the
    same SQL is bijective onto [0, 4^{bits}) with unit Manhattan
    steps — the defining Hilbert property.

    Scale (100 TB): one scan computes both keys map-side (the anchor
    is a broadcast 1-row aggregate); the only shuffle is the
    (layout, file) zone-map aggregate — ≤ 2·{files} groups with
    map-side combine — and everything downstream is metadata-sized
    (stats × 3 predicate literals). Cites the r7 z-order contract
    (`staged_r7.py:4278`) whose geometry this reuses."""
    from .staged_r7 import zorder_bucketed

    base = zorder_bucketed(spark, sf_dir)  # (cb, db, z) checkpointed
    h = base.selectExpr(
        "cb", "db", "z", "cb AS hx", "db AS hy", "CAST(0 AS BIGINT) AS hd"
    )
    for d, x, y in _hilbert_steps():
        h = h.selectExpr(
            "cb", "db", "z", f"{x} AS nhx", f"{y} AS nhy", f"{d} AS nhd"
        ).selectExpr(
            "cb", "db", "z", "nhx AS hx", "nhy AS hy", "nhd AS hd"
        )
    keyed = h.selectExpr(
        "'zorder' AS layout", f"z DIV {HIL_FILE_SPAN} AS file", "cb", "db"
    ).unionByName(
        h.selectExpr(
            "'hilbert' AS layout",
            f"hd DIV {HIL_FILE_SPAN} AS file",
            "cb",
            "db",
        )
    )
    stats = keyed.groupBy("layout", "file").agg(
        F.min("cb").alias("mncb"),
        F.max("cb").alias("mxcb"),
        F.min("db").alias("mndb"),
        F.max("db").alias("mxdb"),
        F.count(F.lit(1)).cast("bigint").alias("nr"),
    ).localCheckpoint(eager=True)  # metadata-scale: <= 2 * Z_FILES rows
    quality = stats.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(
            (F.col("mxcb") - F.col("mncb") + 1)
            * (F.col("mxdb") - F.col("mndb") + 1)
        )
        .cast("bigint")
        .alias("bbox_area"),
        F.sum("nr").cast("bigint").alias("total_rows"),
    )
    preds = zorder_predicates(spark)
    hit = (
        (
            F.col("cb_point").isNull()
            | (
                (F.col("mncb") <= F.col("cb_point"))
                & (F.col("cb_point") <= F.col("mxcb"))
            )
        )
        & (
            F.col("db_lo").isNull()
            | (
                (F.col("mxdb") >= F.col("db_lo"))
                & (F.col("mndb") <= F.col("db_hi"))
            )
        )
    ).cast("int")
    scanned = (
        stats.crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.sum(hit).cast("bigint").alias("files_scanned"),
            F.sum(hit * F.col("nr")).cast("bigint").alias("rows_scanned"),
        )
    )
    return scanned.join(F.broadcast(quality), "layout").select(
        "layout",
        "predicate",
        "n_files",
        "files_scanned",
        "rows_scanned",
        "total_rows",
        "bbox_area",
    )


orders_hilbert_vs_zorder_quality.__doc__ = (
    orders_hilbert_vs_zorder_quality.__doc__.replace(
        "{files}", str(-(-(Z_DIM * Z_DIM) // HIL_FILE_SPAN))
    ).replace("{bits}", str(Z_BITS))
)


# --------------------------------------------------------------------
# Per-priority weekly-volume OLS trend (closed-form regression)
# --------------------------------------------------------------------


def _ols_oracle() -> str:
    return """
    WITH o AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) // 7 AS week
      FROM orders
    ), bounds AS (
      SELECT min(week) AS w0, max(week) AS w1 FROM o
    ), spine AS (
      SELECT p.priority, g.week
      FROM (SELECT DISTINCT priority FROM o) p
      CROSS JOIN (
        SELECT unnest(generate_series((SELECT w0 FROM bounds),
                                      (SELECT w1 FROM bounds))) AS week
      ) g
    ), counts AS (
      SELECT priority, week, CAST(count(*) AS BIGINT) AS c
      FROM o GROUP BY 1, 2
    ), series AS (
      SELECT s.priority,
             CAST(s.week - b.w0 AS BIGINT) AS x,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS y
      FROM spine s
      CROSS JOIN bounds b
      LEFT JOIN counts c ON c.priority = s.priority AND c.week = s.week
    ), mom AS (
      SELECT priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM series GROUP BY 1
    ), fit AS (
      SELECT priority, n, sy,
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / greatest(n * sxx - sx * sx, 1), 6) AS th,
             sx
      FROM mom
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_weeks,
           CAST(sy AS BIGINT) AS total_orders,
           CAST(round(th * 1000000, 0) AS BIGINT) AS slope_micro,
           CAST(round((CAST(sy AS DOUBLE) - th * CAST(sx AS DOUBLE))
                      / n * 1000000, 0) AS BIGINT) AS intercept_micro
    FROM fit
    """


@register(
    "orders_priority_trend_ols",
    oracle=_ols_oracle(),
    tags=("warehouse", "statistics", "regression", "trend"),
)
def orders_priority_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS TREND of weekly order volume per priority over
    the zero-filled week spine — slope (orders/week, integer micro)
    and intercept from the normal equations on EXACT int64 moments:
    θ = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), b = (Σy − θ·Σx)/n. The
    first regression every metrics warehouse ships; the zero-filled
    spine is what makes it honest (missing weeks are zero demand,
    not missing data — same convention as the registered DOW
    anomaly/forecast-eval family).

    Exactness: week index and counts are exact integers; the two
    division sites follow the registered CUPED pattern — 6-dp-rounded
    doubles of exact int64 moments, re-rounded at integer micro,
    bit-identical on both engines. Envelope: n·Σx² ≈ weeks³ ≈ 5·10⁷
    at 7 fixture years — int64-safe by 11 orders of magnitude.

    Scale (100 TB): one scan → (priority, week) hash aggregate with
    map-side combine; the spine is |priorities| × |weeks| metadata
    built from a broadcast 1-row bounds aggregate; moments are a
    5-long aggregate per priority. No windows, no data-sized joins."""
    # integer week: DIV, not double division (cast truncation differs)
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) DIV 7 AS week",
    )
    bounds = o.agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    )
    spine = (
        o.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "priority", "explode(sequence(w0, w1)) AS week", "w0"
        )
    )
    counts = o.groupBy("priority", "week").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = (
        spine.join(counts, ["priority", "week"], "left")
        .selectExpr(
            "priority",
            "CAST(week - w0 AS BIGINT) AS x",
            "CAST(COALESCE(c, 0) AS BIGINT) AS y",
        )
    )
    mom = series.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return mom.selectExpr(
        "priority",
        "n AS n_weeks",
        "sy AS total_orders",
        "CAST(round(round(CAST(n * sxy - sx * sy AS DOUBLE)"
        " / greatest(n * sxx - sx * sx, 1), 6) * 1000000, 0) AS BIGINT)"
        " AS slope_micro",
        "CAST(round((CAST(sy AS DOUBLE)"
        " - round(CAST(n * sxy - sx * sy AS DOUBLE)"
        "         / greatest(n * sxx - sx * sx, 1), 6)"
        " * CAST(sx AS DOUBLE)) / n * 1000000, 0) AS BIGINT)"
        " AS intercept_micro",
    )


# --------------------------------------------------------------------
# Benford first-digit screen (monetary forensics / data quality)
# --------------------------------------------------------------------

# log10(1 + 1/d) in ppm, rounded once in PYTHON and embedded as integer
# literals in BOTH engines' SQL — the expectation never touches either
# engine's float stack.
BENFORD_PPM = {
    d: int(round(math.log10(1.0 + 1.0 / d) * 1_000_000)) for d in range(1, 10)
}


def _benford_expected_sql(digit_col: str) -> str:
    branches = " ".join(
        f"WHEN {digit_col} = {d} THEN {p}" for d, p in BENFORD_PPM.items()
    )
    return f"(CASE {branches} END)"


def _benford_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
      WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
    ), obs AS (
      SELECT priority, digit, CAST(count(*) AS BIGINT) AS n_obs
      FROM o GROUP BY 1, 2
    ), tot AS (
      SELECT priority, CAST(sum(n_obs) AS BIGINT) AS n FROM obs GROUP BY 1
    )
    SELECT ob.priority, ob.digit, ob.n_obs,
           CAST(ob.n_obs * 1000000 // t.n AS BIGINT) AS obs_ppm,
           CAST({_benford_expected_sql("ob.digit")} AS BIGINT)
             AS expected_ppm,
           CAST(ob.n_obs * 1000000 // t.n
                - {_benford_expected_sql("ob.digit")} AS BIGINT) AS dev_ppm
    FROM obs ob JOIN tot t ON t.priority = ob.priority
    """


@register(
    "orders_benford_first_digit",
    oracle=_benford_oracle(),
    tags=("warehouse", "quality", "forensics", "benford"),
)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit screen on order totals per priority —
    the forensic test auditors run on any monetary column (fabricated
    or capped amounts flunk it; scale-invariant organic amounts pass).
    Per (priority, leading digit of the exact cents value): observed
    count, observed ppm, the Benford expectation ppm, and the
    deviation. A uniform synthetic fixture has its own deviation
    fingerprint — the point is the exact cross-engine readout, not a
    verdict.

    Exactness: the first digit comes from the STRING head of the
    exact integer cents (the registered ``round(price*100)`` cents
    convention) — no log10 touches the data path; the Benford
    expectations are Python-rounded integer ppm literals embedded in
    both engines' SQL; observed ppm is integer ``DIV``/``//``.

    Scale (100 TB): one scan → a ≤ |priorities|·9-group hash
    aggregate with map-side combine; the per-priority total join is
    metadata-on-metadata (≤ 5 rows broadcast). Nothing else."""
    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    ).filter(F.col("cents") > 0)
    obs = (
        o.selectExpr(
            "priority",
            "CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT) AS digit",
        )
        .groupBy("priority", "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
        .localCheckpoint(eager=True)  # metadata: <= 5 * 9 rows
    )
    tot = obs.groupBy("priority").agg(
        F.sum("n_obs").cast("bigint").alias("n")
    )
    exp = _benford_expected_sql("digit")
    return obs.join(F.broadcast(tot), "priority").selectExpr(
        "priority",
        "digit",
        "n_obs",
        "CAST(n_obs * 1000000 DIV n AS BIGINT) AS obs_ppm",
        f"CAST({exp} AS BIGINT) AS expected_ppm",
        f"CAST(n_obs * 1000000 DIV n - {exp} AS BIGINT) AS dev_ppm",
    )


# --------------------------------------------------------------------
# One-way ANOVA across part types
# --------------------------------------------------------------------


def _anova_oracle() -> str:
    return """
    WITH g AS (
      SELECT p_type,
             CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS s1,
             CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(round(p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS s2
      FROM part GROUP BY 1
    ), terms AS (
      SELECT p_type, n_i, s1, s2,
             CAST(round((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) / n_i * s1) * 100.0, 0)
                  AS BIGINT) AS ssw_e2,
             CAST(round(CAST(s1 AS DOUBLE) / n_i * s1 * 100.0, 0)
                  AS BIGINT) AS msq_e2
      FROM g
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_i) AS BIGINT) AS n,
             CAST(sum(s1) AS BIGINT) AS s1t,
             CAST(sum(ssw_e2) AS BIGINT) AS ssw_e2,
             CAST(sum(msq_e2) AS BIGINT) AS msq_sum_e2
      FROM terms
    ), f AS (
      SELECT k, n,
             (CAST(msq_sum_e2 AS DOUBLE) / 100.0
              - CAST(s1t AS DOUBLE) / n * s1t) AS ssb,
             CAST(ssw_e2 AS DOUBLE) / 100.0 AS ssw
      FROM tot
    )
    SELECT t.p_type, t.n_i,
           CAST(t.s1 * 1000000 // t.n_i AS BIGINT) AS mean_micro,
           f.k AS n_groups, f.n AS n_parts,
           CAST(round(f.ssb / (f.k - 1)
                 / (f.ssw / (f.n - f.k)) * 1000000.0, 0) AS BIGINT)
             AS f_stat_micro
    FROM terms t CROSS JOIN f
    """


@register(
    "part_price_type_anova",
    oracle=_anova_oracle(),
    tags=("warehouse", "statistics", "anova", "contract"),
)
def part_price_type_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of part retail price across part types — per
    type the group size and mean, plus the global F statistic
    F = (SSB/(k−1)) / (SSW/(n−k)) repeated on every row (the
    grouping-sets convention). The "does this dimension explain the
    metric at all" gate that precedes any per-group deep dive; the
    variance-decomposition complement to the registered
    source×language association (categorical×categorical) — this is
    categorical×numeric.

    Exactness: cents moments are exact int64; each group's
    within-sum-of-squares TERM and squared-mean term round once to
    centi-cents² BEFORE the global sum (the registered entropy
    term-rounding convention — order-free integer aggregation); the
    F combines those exact integers in one identical IEEE double
    expression, rounded once at micro.

    Scale (100 TB): one scan → a |types|-group hash aggregate with
    map-side combine; the F is a 1-row aggregate of the group frame
    broadcast back onto it. No windows, no data-sized joins."""
    cents = "CAST(round(p_retailprice * 100) AS BIGINT)"
    g = load(spark, sf_dir, "part").groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.expr(f"CAST(sum({cents}) AS BIGINT)").alias("s1"),
        F.expr(f"CAST(sum({cents} * {cents}) AS BIGINT)").alias("s2"),
    )
    terms = g.selectExpr(
        "p_type",
        "n_i",
        "s1",
        "CAST(round((CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) / n_i * s1) * 100.0, 0) AS BIGINT)"
        " AS ssw_e2",
        "CAST(round(CAST(s1 AS DOUBLE) / n_i * s1 * 100.0, 0) AS BIGINT)"
        " AS msq_e2",
    ).localCheckpoint(eager=True)  # |types|-bounded metadata
    tot = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1t"),
        F.sum("ssw_e2").cast("bigint").alias("ssw_tot_e2"),
        F.sum("msq_e2").cast("bigint").alias("msq_sum_e2"),
    )
    return terms.crossJoin(F.broadcast(tot)).selectExpr(
        "p_type",
        "n_i",
        "CAST(s1 * 1000000 DIV n_i AS BIGINT) AS mean_micro",
        "k AS n_groups",
        "n AS n_parts",
        "CAST(round((CAST(msq_sum_e2 AS DOUBLE) / 100.0"
        " - CAST(s1t AS DOUBLE) / n * s1t) / (k - 1)"
        " / ((CAST(ssw_tot_e2 AS DOUBLE) / 100.0) / (n - k))"
        " * 1000000.0, 0) AS BIGINT) AS f_stat_micro",
    )


# --------------------------------------------------------------------
# Wald–Wolfowitz runs test
# --------------------------------------------------------------------


def _runs_test_oracle() -> str:
    return """
    WITH o AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), bounds AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM o
    ), spine AS (
      SELECT p.priority, g.day
      FROM (SELECT DISTINCT priority FROM o) p
      CROSS JOIN (
        SELECT unnest(generate_series((SELECT d0 FROM bounds),
                                      (SELECT d1 FROM bounds))) AS day
      ) g
    ), counts AS (
      SELECT priority, day, CAST(count(*) AS BIGINT) AS c
      FROM o GROUP BY 1, 2
    ), series AS (
      SELECT s.priority, s.day,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS y
      FROM spine s
      LEFT JOIN counts c ON c.priority = s.priority AND c.day = s.day
    ), med AS (
      SELECT priority, round(quantile_cont(y, 0.5), 6) AS m
      FROM series GROUP BY 1
    ), signs AS (
      SELECT s.priority, s.day,
             CASE WHEN s.y > d.m THEN 1 ELSE 0 END AS sgn
      FROM series s JOIN med d ON d.priority = s.priority
      WHERE s.y <> d.m
    ), runs AS (
      SELECT priority, sgn,
             lag(sgn) OVER (PARTITION BY priority ORDER BY day)
               AS prev_sgn
      FROM signs
    ), agg AS (
      SELECT priority,
             CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_plus,
             CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_minus,
             CAST(sum(CASE WHEN prev_sgn IS NULL
                           OR sgn <> prev_sgn THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_runs
      FROM runs GROUP BY 1
    )
    SELECT priority, n_plus, n_minus, n_runs,
           CASE WHEN n_plus = 0 OR n_minus = 0
                     OR n_plus + n_minus < 2
                THEN CAST(0 AS BIGINT)
                ELSE CAST(round((n_runs
                 - (1.0 + 2.0 * n_plus * n_minus
                    / (n_plus + n_minus)))
                 / sqrt(2.0 * n_plus * n_minus
                        * (2.0 * n_plus * n_minus - n_plus - n_minus)
                        / ((n_plus + n_minus)
                           * (n_plus + n_minus)
                           * (n_plus + n_minus - 1.0)))
                 * 1000000.0, 0) AS BIGINT) END AS z_micro
    FROM agg
    """


@register(
    "orders_runs_test",
    oracle=_runs_test_oracle(),
    tags=("warehouse", "statistics", "nonparametric", "randomness"),
)
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ runs test on daily order volume per priority —
    are the above/below-median days randomly interleaved, or does the
    series cluster (trend/regimes: too FEW runs, z < 0) or oscillate
    (negative autocorrelation: too MANY runs, z > 0)? The
    nonparametric randomness screen that says whether the changepoint
    / trend machinery (r15) has anything to find; ties at the median
    are dropped, the classical convention.

    Exactness: the median follows the exact-binary-fraction
    percentile convention (integer daily counts, 6-dp re-round); the
    sign sequence, run count, and n± are exact integers; z combines
    them in one identical IEEE double expression (μ_R = 1 + 2ab/n,
    σ²_R = 2ab(2ab−n)/(n²(n−1))), rounded once at micro.

    Scale (100 TB): one scan → (priority, day) hash aggregate; the
    lag window and everything after run per priority over the
    CALENDAR-bounded spine — keyed windows on metadata, never a
    global sort. Inflation grows counts, not the spine."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS priority",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) AS day",
    )
    bounds = o.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = (
        o.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr("priority", "explode(sequence(d0, d1)) AS day")
    )
    counts = o.groupBy("priority", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = spine.join(counts, ["priority", "day"], "left").selectExpr(
        "priority", "day", "CAST(COALESCE(c, 0) AS BIGINT) AS y"
    ).localCheckpoint(eager=True)  # calendar-bounded metadata
    med = series.groupBy("priority").agg(
        F.expr("round(percentile(y, 0.5D), 6)").alias("m")
    )
    signs = (
        series.join(F.broadcast(med), "priority")
        .filter(F.col("y") != F.col("m"))
        .selectExpr(
            "priority",
            "day",
            "CASE WHEN y > m THEN 1 ELSE 0 END AS sgn",
        )
    )
    runs = signs.select(
        "priority",
        "sgn",
        F.lag("sgn")
        .over(Window.partitionBy("priority").orderBy("day"))
        .alias("prev_sgn"),
    )
    agg = runs.groupBy("priority").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_plus"),
        F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_minus"),
        F.sum(
            F.when(
                F.col("prev_sgn").isNull()
                | (F.col("sgn") != F.col("prev_sgn")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    return agg.selectExpr(
        "priority",
        "n_plus",
        "n_minus",
        "n_runs",
        # degenerate guard (classical convention): a one-sided sign
        # sequence has sigma_R = 0 — report z = 0, never divide
        "CASE WHEN n_plus = 0 OR n_minus = 0"
        " OR n_plus + n_minus < 2 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(round((n_runs"
        " - (1.0 + 2.0 * n_plus * n_minus / (n_plus + n_minus)))"
        " / sqrt(2.0 * n_plus * n_minus"
        " * (2.0 * n_plus * n_minus - n_plus - n_minus)"
        " / ((n_plus + n_minus) * (n_plus + n_minus)"
        " * (n_plus + n_minus - 1.0)))"
        " * 1000000.0, 0) AS BIGINT) END AS z_micro",
    )
