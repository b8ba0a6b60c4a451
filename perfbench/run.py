"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``workloads.WORKLOADS`` and BENCHMARK.json):
``medallion_backfill``, ``medallion_nightly``, ``queries_relational``,
``queries_llm``. One client in this process drives a ``local[<nproc>]``
session. The fixture tables are made (or taken from the cache) first and
left out of the timing; set-up (JVM and session start, registry load, source
build, warm-up) is timed as ``setup_s``, and then whole passes of the workload
run until ``--seconds`` would be exceeded (at least one pass). Every op's output
is checked after the timed window. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones, from a
run with Spark's event log on. Lines before it are human-readable context:
host load, tool versions, failed ops, the span file and, when traced, each
op's rows and Spark jobs and the tracing overhead.

``--small`` shrinks every input to the sf0.001 fixtures (smoke test only);
``--corrupt`` damages one output before the check (smoke test only).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "python_nyc_taxi_data_pipeline_spark"
CACHE = os.path.join(ROOT, ".perfbench_work")  # fixture tables, kept between runs
OUT = os.path.join(ROOT, ".perfbench_out")  # span files and recorded untraced wall_s

# Engine switches that select an A/B arm; a measurement must not run with one.
AB_TOGGLES = ("SPARK_GRAFT_NO_FANOUT", "SPARK_GRAFT_CC_JUMP_AFTER", "SPARK_GRAFT_WRITE_ADVISORY")


def process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> dict[str, float]:
    """Host-wide iowait and steal seconds so far (from /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    tick = os.sysconf("SC_CLK_TCK")
    return {"iowait": int(fields[4]) / tick, "steal": int(fields[7]) / tick}


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its live descendants,
    including descendants they have already reaped (this process, the JVM
    it launched and the JVM's Python workers). Hypervisor steal is not
    counted, though contention for caches and memory still shows."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def pin_environment(work: str) -> int:
    """Fix the settings a measurement depends on; return the core count."""
    toggles = [t for t in AB_TOGGLES if t in os.environ]
    if toggles:
        raise SystemExit(f"refusing to measure with A/B toggles set: {toggles}")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return cores


def import_engine():
    """Import the engine from this checkout and nowhere else."""
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PKG)
    if os.path.commonpath([os.path.abspath(pkg.__file__), ROOT]) != ROOT:
        raise SystemExit(f"{PKG} imported from {pkg.__file__}, not from {ROOT}")
    return pkg


def run(args) -> dict:
    from spans import Tracer, family_counters, read_event_log, write_spans
    from workloads import WORKLOADS, Env, floor_seconds

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    spark = None
    try:
        cores = pin_environment(work)
        import_engine()
        from python_nyc_taxi_data_pipeline_spark import registry
        from python_nyc_taxi_data_pipeline_spark.session import get_session

        run_id = f"{args.workload}-{args.seed}-t{args.trace}"
        tracer = Tracer(run_id)
        env = Env(tracer, work, CACHE, args.seed, args.small)
        wl = WORKLOADS[args.workload](env)
        # The fixture tables are the harness's inputs, not the engine's work:
        # made (or found in the cache) before set-up and left out of setup_s.
        t = time.perf_counter()
        wl.inputs()
        inputs_s = time.perf_counter() - t

        conf = {
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        }
        if args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
            os.makedirs(conf["spark.eventLog.dir"])

        layer: dict[str, float] = {}
        with tracer.span("session.get_session") as s:
            spark = get_session(f"perfbench-{run_id}", extra_conf=conf)
        layer["session.start_s"] = s["end"] - s["start"]
        spark.sparkContext.setLogLevel("ERROR")
        env.spark = spark
        with tracer.span("registry.all_queries") as s:
            queries = registry.all_queries()
        layer["registry.load_s"] = s["end"] - s["start"]
        with tracer.span("setup") as s:
            wl.setup(queries)
        layer["source.build_s"] = sum(tracer.durations("sources.orders_as_taxi"))
        with tracer.span("warm") as s:
            wl.warm()
        layer["session.warm_s"] = s["end"] - s["start"]
        setup_s = process_age() - inputs_s
        sc = spark.sparkContext
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        cpu0, load0 = cpu_times(), os.getloadavg()[0]
        tree0 = tree_cpu_seconds(os.getpid())
        outcomes, t0 = [], time.perf_counter()
        while True:
            env.tracer = Tracer(f"{run_id}-p{len(outcomes)}")
            env.tracer.sc = sc if args.trace else None
            out = wl.run_pass()
            out.tracer, env.tracer.sc = env.tracer, None
            outcomes.append(out)
            elapsed = time.perf_counter() - t0
            if elapsed + out.wall_s > args.seconds:
                break
        cpu_s = (tree_cpu_seconds(os.getpid()) - tree0) / len(outcomes)
        cpu1, load1 = cpu_times(), os.getloadavg()[0]
        layer["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid])

        t_checks = time.perf_counter()
        ops = []
        for out in outcomes:
            wl.check(out, args.corrupt)
            ops += out.ops
        layer["query.floor_s"] = floor_seconds(spark)
        checks_s = time.perf_counter() - t_checks
        failed = [o for o in ops if o.error is not None]
        wall = statistics.median(o.wall_s for o in outcomes)
        layer["error_rate"] = len(failed) / len(ops)
        e2e = {"setup_s": setup_s, "wall_s": wall, "cpu_s": cpu_s}
        versions = {
            "python": platform.python_version(),
            "pyspark": __import__("pyspark").__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
        }
        spark.stop()
        stop_gateway()
        spark = None

        # Per-layer figures are computed per pass and reported as the median
        # pass, so the number of passes that fit in --seconds does not scale them.
        by_group = read_event_log(os.path.join(work, "eventlog")) if args.trace else {}
        per_pass = [{**o.layer, **family_counters(o.tracer, by_group, cores)} for o in outcomes]
        layer.update({k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]})
        if args.trace:
            print_ops(outcomes[-1], by_group)
        out_path = os.path.join(OUT, f"spans-{run_id}.json")
        write_spans([tracer] + [o.tracer for o in outcomes], by_group, out_path)
        print(f"spans: {os.path.relpath(out_path, ROOT)}")
        for o in failed:
            print(f"FAILED {o.name}: {o.error.strip().splitlines()[-1][:300]}")
        print(f"versions: {json.dumps(versions)}; cores {cores}; passes {len(outcomes)}")
        print(
            f"host: loadavg {max(load0, load1):.2f}, steal {cpu1['steal'] - cpu0['steal']:.2f} s, "
            f"iowait {cpu1['iowait'] - cpu0['iowait']:.2f} s"
        )
        print(f"inputs: {inputs_s:.2f} s (fixture tables, not in setup_s)")
        print(f"checks: {checks_s:.2f} s (outputs and query.floor_s, after the timed phase)")
        for k in ("rows_per_s", "warehouse_bytes_per_row"):
            if k in layer:
                print(f"{k}: {layer[k]:.1f}")
        print(f"error_rate: {layer['error_rate']:.4f} ({len(failed)} of {len(ops)} ops)")
        report_overhead(args, wall)
        for k, unit in declared("end_to_end").items():
            print(f"{k}: {e2e[k]:.4f} {unit}")
        if args.trace:
            units = declared("per_layer")
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in units.items()}
        else:
            units = declared("end_to_end")
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        return {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            spark.stop()
            stop_gateway()
        shutil.rmtree(work, ignore_errors=True)


def print_ops(out, by_group) -> None:
    """One line per op of the last pass: time, result rows and Spark jobs."""
    jobs: dict[str, float] = {}
    for span in out.tracer.spans:
        if span["op"] is not None:
            jobs[span["op"]] = jobs.get(span["op"], 0) + by_group.get(span["id"], {}).get("jobs", 0)
    for op in out.ops:
        r = op.result  # a query's result, or a batch's counts
        rows = "-" if op.error else f"{r['loaded']} loaded" if isinstance(r, dict) else len(r)
        print(f"op {op.name}: {op.seconds:.2f} s, {rows} rows, {int(jobs.get(op.name, 0))} jobs")


def report_overhead(args, wall: float) -> None:
    """Untraced runs record their wall_s; a traced run prints its own wall_s
    minus the median of those recorded for the workload (same sizes only)."""
    if args.small or args.corrupt:
        return
    path = os.path.join(OUT, f"untraced-wall-{args.workload}.jsonl")
    if not args.trace:
        os.makedirs(OUT, exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps({"seed": args.seed, "wall_s": wall}) + "\n")
        return
    try:
        with open(path) as f:
            untraced = [json.loads(line)["wall_s"] for line in f]
    except OSError:
        untraced = []
    if untraced:
        base = statistics.median(untraced)
        print(
            f"tracing overhead: {wall - base:+.2f} s ({(wall - base) / base:+.1%}): traced "
            f"wall_s {wall:.2f} s, untraced median {base:.2f} s over {len(untraced)} runs"
        )
    else:
        print("tracing overhead: no untraced run of this workload recorded yet")


def stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def declared(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
