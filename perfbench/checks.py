"""Output checks, run outside the timed window.

Queries are compared with their registered DuckDB oracle using the strict
semantics of the engine's oracle gate (``tools/oracle_check.compare``): same
row count and column names, rows sorted by every column, integers and strings
exactly equal, floats bit-equal, and no integer/float kind divergence. That
tool is not imported because it puts a fixed checkout first on ``sys.path``.

The medallion is replayed in DuckDB over the same batch files the pipeline
ingested: watermark filter, month window, dead-letter key anti-join, bronze
dedup, silver typing and the three gold views, with Spark's rounding rules.
"""

from __future__ import annotations

import decimal
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

# --- query oracles ---------------------------------------------------------

_INT_KINDS = frozenset("iub")


def _kind(s: pd.Series) -> str:
    k = s.dtype.kind
    return {"f": "float", "M": "datetime"}.get(k, "int" if k in _INT_KINDS else "object")


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Problems found comparing a query result with its oracle (empty = equal)."""
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return problems + [f"columns: spark={sc} duck={dc}"]
    if problems:
        return problems
    try:
        s = spark_df[sc].sort_values(by=sc, ignore_index=True)
        d = duck_df[sc].sort_values(by=sc, ignore_index=True)
    except TypeError as exc:
        return [f"unsortable result column: {exc}"]
    for c in sc:
        a, b = s[c], d[c]
        ka, kb = _kind(a), _kind(b)
        if ka != kb and {ka, kb} <= {"int", "float"}:
            problems.append(f"dtype divergence in {c}: spark={a.dtype} duck={b.dtype}")
        elif ka == kb == "float":
            an, bn = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            if not ((an == bn) | (np.isnan(an) & np.isnan(bn))).all():
                problems.append(f"float values not bit-equal in {c}")
        elif not a.astype(str).equals(b.astype(str)):
            problems.append(f"values differ in {c}")
    return problems


def fixture_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# --- medallion -------------------------------------------------------------

KEY = (
    "vendorid, tpep_pickup_datetime, tpep_dropoff_datetime, trip_distance, "
    "pulocationid, dolocationid, total_amount"
)
VENDORS = {
    1: "Creative Mobile Technologies, LLC",
    2: "Curb Mobility, LLC",
    6: "Myle Technologies Inc",
    7: "Helix",
}
PAYMENT_TYPES = {
    0: "Flex Fare trip",
    1: "Credit card",
    2: "Cash",
    3: "No charge",
    4: "Dispute",
    5: "Unknown",
    6: "Voided trip",
}
SILVER = """
SELECT vendorid, tpep_pickup_datetime,
       CAST(floor(date_diff('second', tpep_pickup_datetime, tpep_dropoff_datetime) / 60) AS INT)
           AS minute_duration,
       trip_distance, total_amount, payment_type,
       CAST(floor(CAST(ratecodeid AS DOUBLE)) AS INT) AS ratecodeid,
       strftime(tpep_pickup_datetime, '%Y-%m') AS pickup_month
FROM (SELECT DISTINCT * EXCLUDE (load_month) FROM bronze)
"""
SILVER_FINGERPRINT = """
SELECT count(*) AS n, sum(minute_duration) AS duration, sum(total_amount) AS amount,
       sum(ratecodeid) AS ratecode, count(DISTINCT pickup_month) AS months
FROM silver
"""

_CTX = decimal.Context(prec=60, rounding=decimal.ROUND_HALF_UP)


def _round_double(x: float, places: int = 2) -> float:
    """Spark's ``round`` on a double: HALF_UP on its shortest decimal form."""
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(float(x))).quantize(q, rounding=decimal.ROUND_HALF_UP))


def _avg_decimal(total, count: int) -> decimal.Decimal:
    """Spark's ``round(avg(decimal(18,2)), 2)``: the average is cast to
    scale 6, then rounded to scale 2, both HALF_UP."""
    six = _CTX.divide(decimal.Decimal(total), decimal.Decimal(count)).quantize(
        decimal.Decimal("0.000001"), context=_CTX
    )
    return six.quantize(decimal.Decimal("0.01"), context=_CTX)


def expected_gold(con: duckdb.DuckDBPyConnection) -> dict[str, list[tuple]]:
    """The three gold views over the ``silver`` relation, as sorted tuples."""
    vendor = con.execute(
        "SELECT vendorid, count(*), sum(total_amount), sum(minute_duration) "
        "FROM silver GROUP BY 1"
    ).fetchall()
    by_name: dict = {}
    for vid, n, amount, dur in vendor:
        acc = by_name.setdefault(VENDORS.get(vid), [0, decimal.Decimal(0), 0])
        acc[0] += n
        acc[1] += amount
        acc[2] += dur
    out = {
        "gold_vendor_metrics": [
            (name, n, float(amount), _round_double(dur / n))
            for name, (n, amount, dur) in by_name.items()
        ]
    }
    monthly = con.execute(
        "SELECT CAST(date_trunc('month', tpep_pickup_datetime) AS TIMESTAMP), monthname(tpep_pickup_datetime), "
        "count(*), sum(trip_distance), sum(minute_duration) FROM silver GROUP BY 1, 2"
    ).fetchall()
    out["gold_monthly_metrics"] = [
        (start, month, n, _avg_decimal(dist, n), _round_double(dur / n))
        for start, month, n, dist, dur in monthly
    ]
    payment = con.execute(
        "SELECT payment_type, count(*), sum(total_amount) FROM silver GROUP BY 1"
    ).fetchall()
    by_pt: dict = {}
    for pt, n, amount in payment:
        acc = by_pt.setdefault(PAYMENT_TYPES.get(pt), [0, decimal.Decimal(0)])
        acc[0] += n
        acc[1] += amount
    out["gold_payment_metrics"] = [
        (name, n, _avg_decimal(amount, n)) for name, (n, amount) in by_pt.items()
    ]
    return {k: sorted(v, key=repr) for k, v in out.items()}


def normalize_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


class MedallionReplay:
    """The medallion's expected state, advanced one batch at a time."""

    def __init__(self, default_watermark: datetime):
        self.con = duckdb.connect()
        self.watermark = default_watermark
        self._tables_made = False

    def ingest(self, batch_dir: str, start: datetime, end: datetime) -> tuple[int, int]:
        """Expected (rows loaded, rows dead-lettered) for one batch."""
        con = self.con
        con.execute(
            f"CREATE OR REPLACE VIEW batch AS SELECT * FROM read_parquet('{batch_dir}/*.parquet')"
        )
        if not self._tables_made:
            con.execute(
                "CREATE TABLE bronze AS SELECT *, '' AS load_month FROM batch WHERE false"
            )
            con.execute(f"CREATE TABLE invalid AS SELECT {KEY} FROM batch WHERE false")
            self._tables_made = True
        fresh = "tpep_pickup_datetime > $wm"
        in_win = "tpep_pickup_datetime >= $start AND tpep_pickup_datetime < $end"
        params = {"wm": self.watermark, "start": start, "end": end}
        loaded = con.execute(
            f"SELECT count(*) FROM batch WHERE {fresh} AND {in_win}", params
        ).fetchone()[0]
        con.execute(
            f"INSERT INTO bronze SELECT *, strftime(tpep_pickup_datetime, '%Y-%m') "
            f"FROM batch WHERE {fresh} AND {in_win}",
            params,
        )
        novel = con.execute(
            f"SELECT DISTINCT {KEY} FROM batch WHERE {fresh} AND NOT ({in_win}) "
            f"EXCEPT SELECT {KEY} FROM invalid",
            params,
        ).fetchall()
        if novel:
            con.executemany(f"INSERT INTO invalid VALUES ({', '.join('?' * 7)})", novel)
        new_wm = con.execute(
            f"SELECT max(tpep_pickup_datetime) FROM bronze WHERE {in_win}",
            {"start": start, "end": end},
        ).fetchone()[0]
        self.watermark = new_wm or self.watermark
        return loaded, len(novel)

    def refresh_silver(self) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE silver AS {SILVER}")

    def silver_fingerprint(self) -> tuple:
        return self.con.execute(SILVER_FINGERPRINT).fetchone()

    def dead_lettered(self) -> int:
        return self.con.execute("SELECT count(*) FROM invalid").fetchone()[0]

    def close(self) -> None:
        self.con.close()


SPARK_SILVER_FINGERPRINT = (
    "count(*) AS n",
    "sum(minute_duration) AS duration",
    "sum(total_amount) AS amount",
    "sum(ratecodeid) AS ratecode",
    "count(DISTINCT pickup_month) AS months",
)
