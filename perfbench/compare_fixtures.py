"""Check that ``datagen`` regenerates a fixture directory value for value.

    python3 perfbench/compare_fixtures.py SF FIXTURE_DIR

Generates every table at scale ``SF`` and compares it with
``FIXTURE_DIR/<table>.parquet``: column names and types, row count and every
cell (floats bit for bit, list columns element by element). Prints one line
per table and exits non-zero if any table differs.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

import datagen


def main(argv: list[str]) -> int:
    sf, fixture_dir = float(argv[0]), argv[1]
    bad = 0
    for name, got in datagen.tables(sf):
        want = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        want = want.replace_schema_metadata(None)
        if got.schema != want.schema:
            problem = f"schema {got.schema} != {want.schema}"
        elif not got.equals(want):
            differing = [c for c in want.column_names if not got[c].equals(want[c])]
            problem = f"values differ in {differing}"
        else:
            problem = None
        bad += problem is not None
        print(f"{name}: {want.num_rows} rows, {'equal' if problem is None else problem}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
