"""Per-job/stage profiler for one query (optimization-round tooling).

Runs NAME isolated (fresh session, bench-identical warmup) with the
Spark event log enabled, then parses the log into a per-job timeline:
job wall time, stage breakdown, task counts, shuffle bytes. This is the
guide-§1 "empirical" loop without the UI (spark.ui is disabled in the
engine session).

Usage:
    python tools/r11_profile.py NAME [--repeats 2]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def parse_eventlog(path: str) -> None:
    jobs = {}  # id -> dict
    stages = {}  # id -> dict
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:90],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "tasks": si.get("Number of Tasks"),
                    "ms": (si.get("Completion Time", 0) or 0)
                    - (si.get("Submission Time", 0) or 0),
                }
    t_all = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        ms = j["end"] - j["start"]
        t_all += ms
        parts = []
        for sid in j["stages"]:
            if sid in stages:
                s = stages[sid]
                parts.append(f"s{sid}:{s['ms']}ms/{s['tasks']}t {s['name'][:45]}")
        print(f"job {jid:3d} {ms:6d}ms  {j['desc']}")
        for p in parts:
            print(f"         | {p}")
    print(f"TOTAL job wall (sum, overlaps double-counted): {t_all} ms")


def main() -> int:
    name = sys.argv[1]
    repeats = 2
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])

    import tempfile

    evdir = tempfile.mkdtemp(prefix="r11_evlog_")

    from python_nyc_taxi_data_pipeline_spark.registry import all_queries
    from python_nyc_taxi_data_pipeline_spark.session import get_session

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    spark = get_session(
        f"profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    import bench as benchmod

    benchmod._warm(spark, SF_DIR)

    fn = all_queries()[name].fn

    times = []
    for i in range(repeats):
        spark.sparkContext.setJobDescription(f"RUN{i} {name}")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
        benchmod._drop_leftover_blocks(spark)
    spark.sparkContext.setJobDescription(None)
    print(f"# {name} runs: {times}")
    spark.stop()
    time.sleep(1)
    logs = sorted(
        (os.path.join(evdir, p) for p in os.listdir(evdir)),
        key=os.path.getmtime,
    )
    if logs:
        target = logs[-1]
        if os.path.isdir(target):  # Spark 4 rolling eventlog dir
            for p in sorted(os.listdir(target)):
                full = os.path.join(target, p)
                if os.path.isfile(full) and "events" in p:
                    parse_eventlog(full)
        else:
            parse_eventlog(target)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
