"""Smoke test of the benchmark itself, on the sf0.001 inputs.

    python3 perfbench/smoke.py [WORKLOAD ...]

For each workload (default: all in BENCHMARK.json) it runs ``run.py`` once
untraced and once traced and checks that the last line is the result object
with every declared metric and its unit, and that the run was correct. Then
it runs one medallion and one query workload with ``--corrupt`` (one silver
row dropped; one row of the first non-empty query result dropped), the first
of each kind among the workloads it ran, and checks that the damage is
counted as a failed op. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--small", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for name in workloads:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result = run(name, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, (name, trace, result)
            for m in declared:
                got = result["metrics"].get(m["name"])
                assert got is not None, f"{name}: {m['name']} not printed"
                assert got["unit"] == m["unit"], (name, m, got)
                assert isinstance(got["value"], (int, float)), (name, m, got)
            print(f"ok {name} trace={trace}: {len(declared)} metrics, "
                  f"{result['attempted']} ops")
    # one medallion and one query workload, from those just run
    for kind in ("medallion_", "queries_"):
        name = next((w for w in workloads if w.startswith(kind)), None)
        if name is None:
            continue
        result = run(name, 0, "--corrupt")
        assert not result["correct"] and result["failed"] >= 1, (name, result)
        print(f"ok {name} --corrupt: {result['failed']} of {result['attempted']} ops failed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
