"""Capture .explain('formatted') for named registered queries.

Usage:
    python tools/capture_plans.py OUT_DIR TAG q1 q2 ...

Writes OUT_DIR/<query>_<TAG>.txt (e.g. ``/tmp/plans before q1`` then
``/tmp/plans after q1`` around a change; earlier rounds' dumps are in
``bench_archive/plans/``). Driver-only (no job execution). The fixture
directory is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from python_nyc_taxi_data_pipeline_spark.registry import all_queries
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    spark = get_session("plan-capture")
    qs = all_queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = qs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} ({tag})\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
