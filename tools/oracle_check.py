"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, schema
(column names), and an order-insensitive value comparison (sorted by all
columns, NaN-safe). Usage:

    python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

# Check the tree this script lives in, wherever it is checked out.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_nyc_taxi_data_pipeline_spark.catalog import FIXTURE_TABLES  # noqa: E402
from python_nyc_taxi_data_pipeline_spark.session import get_session  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalization: sort columns by name, then sort
    rows by the RAW values of every column. No ``astype(str)`` smoothing
    before the sort — if a column holds unhashable values (lists/arrays)
    this raises exactly like the driver's canonicalizer does (r02:
    ``TypeError: unhashable type: 'list'`` from pandas ``sort_values``)."""
    df = df.reindex(sorted(df.columns), axis=1)
    try:
        return df.sort_values(by=list(df.columns), ignore_index=True)
    except TypeError as exc:
        raise TypeError(
            f"unsortable result column (driver canonicalizer dies the same "
            f"way): {exc}"
        ) from exc


_INT_KINDS = frozenset("iub")  # signed / unsigned / bool


def _kind(s: pd.Series) -> str:
    k = s.dtype.kind
    if k in _INT_KINDS:
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    return "object"


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Strict, dtype-sensitive compare mirroring the driver's value-hash.

    The driver hashes canonicalized raw values, so an int64 column on one
    side and a float64 on the other hash-mismatch even when the values are
    numerically equal (r02: DuckDB HUGEINT → pandas float64 vs Spark
    BIGINT → int64 failed ``tpch_q12_priority_class`` /
    ``docs_pack_sequences``). Hence: int-vs-float dtype divergence is a
    FAIL here, integers compare exactly, and floats compare bit-exactly
    (NaN==NaN) with the max abs diff reported on mismatch."""
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    try:
        s, d = normalize(spark_df), normalize(duck_df)
    except TypeError as exc:
        return [str(exc)]
    for c in s.columns:
        a, b = s[c], d[c]
        ka, kb = _kind(a), _kind(b)
        if ka != kb and {ka, kb} <= {"int", "float"}:
            problems.append(
                f"dtype divergence in col {c}: spark={a.dtype} duck={b.dtype} "
                f"— driver value-hash WILL mismatch (cast the oracle or the "
                f"Spark column so integer/float kinds agree)"
            )
            continue
        if ka == kb == "float":
            an, bn = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            both_nan = pd.isna(an) & pd.isna(bn)
            eq = (an == bn) | both_nan
            if not eq.all():
                import numpy as np

                diff = np.abs(np.nan_to_num(an) - np.nan_to_num(bn))
                idx = [int(i) for i in (~eq).nonzero()[0][:3]]
                examples = [(i, a.iloc[i], b.iloc[i]) for i in idx]
                problems.append(
                    f"float values not bit-equal in col {c} "
                    f"(max abs diff {diff.max():.3e}): {examples}"
                )
            continue
        # int / datetime / object: exact equality on raw values
        # (None/NaN-safe via astype(str) AFTER the raw sort).
        ok = a.astype(str).equals(b.astype(str))
        if not ok:
            mism = a.astype(str) != b.astype(str)
            idx = mism[mism].index[:3].tolist()
            examples = [(i, a.iloc[i], b.iloc[i]) for i in idx[:3]]
            problems.append(f"values differ in col {c}: {examples}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session("oracle-check")
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised\n{traceback.format_exc()}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows) "
                  f"[{time.perf_counter()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb raised\n{traceback.format_exc()}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"PASS  {name} ({len(sdf)} rows) [{time.perf_counter()-t0:.1f}s]")
    spark.stop()
    print(("FAILURES: %d" % failures) if failures else "ALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
