"""Capture .explain('formatted') for named registered queries.

Usage:
    python tools/capture_plans.py OUT_DIR TAG q1 q2 ...

Writes OUT_DIR/<query>_<TAG>.txt (e.g. ``plans/r12 before ...`` then
``plans/r12 after ...``). Driver-only (no job execution). The fixture
directory is ``catalog.DEFAULT_SF_DIR`` ($SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from python_nyc_taxi_data_pipeline_spark.catalog import DEFAULT_SF_DIR as SF_DIR
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    spark = get_session("plan-capture")
    qs = all_queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = qs[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {SF_DIR} ({tag})\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
