"""Spans around the calls into each engine layer, and Spark counters per span.

Every call the benchmark makes into the engine runs inside ``Tracer.span``,
which records ``{run_id, id, name, op, start, end, parent}`` in memory. Spans are
always recorded (they also give the untraced timings). With tracing on, each
span also becomes a Spark job group (``sc.setJobGroup``), and after the
session stops the event log is read back and its job, stage and task counters
are attributed to the span whose group submitted them. The event log is used
instead of ``statusTracker()`` because the status store forgets jobs past
``spark.ui.retainedJobs``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# Span families whose Spark work is reported per layer (span name -> prefix).
FAMILIES = {
    "medallion.ingest_batch": "ingest",
    "medallion.silver_refresh": "silver",
    "gold.read": "gold",
    "query.build": "query.build",
    "query.execute": "query.execute",
}
EVENT_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
)
# span wall x cores - executor run time: core time spent waiting on the driver
COUNTERS = EVENT_COUNTERS + ("idle_core_s",)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None  # a SparkContext while tracing: spans become job groups
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobGroup(parent["id"] if parent else "untraced", "")

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span never overlap: the client is single-threaded)."""
        child_total: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_total[s["id"]] for s in self.spans}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Counters per job group from the Spark event log(s) in ``log_dir``."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, group)
                    out[group]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[group_of_stage.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    c = out[group_of_stage.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    return out


def family_counters(
    tracer: Tracer, by_group: dict[str, dict[str, float]], cores: int
) -> dict[str, float]:
    """``<family>.<counter>`` for every family in ``FAMILIES``. Work submitted
    by a span's children is counted with the child, not the parent."""
    out = {f"{fam}.{c}": 0.0 for fam in FAMILIES.values() for c in COUNTERS}
    for s in tracer.spans:
        fam = FAMILIES.get(s["name"])
        if fam is None:
            continue
        c = by_group.get(s["id"], {})
        for k in EVENT_COUNTERS:
            out[f"{fam}.{k}"] += c.get(k, 0.0)
        out[f"{fam}.idle_core_s"] += (s["end"] - s["start"]) * cores - c.get(
            "executor_run_s", 0.0
        )
    return out


def write_spans(tracers: list[Tracer], by_group: dict, path: str) -> None:
    rows = []
    for tracer in tracers:
        selfs = tracer.self_times()
        rows += [
            {**s, "self_s": selfs[s["id"]], "spark": dict(by_group.get(s["id"], {}))}
            for s in tracer.spans
        ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f, indent=1)
