"""Benchmark harness — runs the registered queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON lines:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write (full column
materialization — .count() alone would let Catalyst prune the work).
Every record carries the host's usable ``cpus`` and its ``loadavg`` at
the start of the run, so a slow number can be told from a busy host.

Usage:
    python bench.py                       # suite + medallion
    python bench.py --one NAME            # one query, fresh JVM
    python bench.py --isolated [curated]  # ISOLATED_QUERIES, one JVM each
    python bench.py --isolated a,b,...    # named queries, one JVM each

Output protocol: the full per-query line (~10 KB at 270+ queries) is
printed first and persisted to BENCH_local.json; the LAST stdout line
is a compact summary (headline metric + the slowest queries) under
2000 chars, so a caller that keeps only a stdout tail can still parse
it. ``--isolated`` merges its per-query results into
BENCH_isolated.json (same SF only).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_nyc_taxi_data_pipeline_spark.registry import all_queries  # noqa: E402
from python_nyc_taxi_data_pipeline_spark.session import get_session  # noqa: E402


# Curated isolated-bench set: the expensive/regression-prone queries
# whose in-suite numbers need a contention-free attribution baseline
# (fresh JVM each, cold + warm runs). `--isolated` with no names (or
# "curated") runs exactly this list. The two medallion pseudo-queries
# bench the BASELINE.md-comparable e2e pipeline on a plain local
# warehouse (driver-side fastpaths) and on a file:// one (the
# distributed paths a cluster warehouse takes).
ISOLATED_QUERIES = (
    "corpus_curation_e2e",
    "corpus_curation_funnel",
    "dedup_exact",
    "docs_bigram_backoff_surprisal",
    "docs_bloom_decontamination",
    "docs_bpe_encode",
    "docs_bpe_merges",
    "docs_collocations_pmi",
    "docs_dedup_apply",
    "docs_dedup_apply_best",
    "docs_dup_clusters",
    "docs_dup_ngram_fraction",
    "docs_fingerprint",
    "docs_incremental_exact_dedup",
    "docs_jaccard_df_ceiling_contract",
    "docs_length_histogram",
    "docs_minhash_estimate_calibration",
    "docs_nb_lang_classifier",
    "docs_ngram_jaccard_pairs",
    "docs_pack_payloads",
    "docs_segment_dedup_apply",
    "docs_shingle_containment_pairs",
    "docs_simhash",
    "docs_simhash_band_pairs",
    "docs_source_quality_report",
    "docs_unigram_surprisal_filter",
    "docs_winnowing_fingerprints",
    "docs_bpe_fertility_report",
    "embeddings_dedup_apply",
    "embeddings_kmeans",
    "embeddings_knn_label_probe",
    "embeddings_normalize_quantize",
    "embeddings_semdedup",
    "embeddings_semdedup_hier_contract",
    "embeddings_semdedup_ivf_contract",
    "knn_pq_adc",  # r11 VERDICT #7: keep its warm history in the curated set
    "merge_into_orders",
    "nation_trade_pagerank",  # r12 rewrite: track the driver-replay path
    "retrieval_hybrid_ann_recall_eval",
    "retrieval_hybrid_rrf",
    "retrieval_hybrid_rrf_ann",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders",
    "tpch_q1_pricing_summary",
    "medallion_e2e",
    "medallion_e2e_nofastpath",
)


def host_load() -> dict:
    """Usable CPUs (what ``nproc`` reports) and the 1/5/15-min load
    average, recorded next to every timing."""
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_medallion(spark, sf_dir: str, scheme: str = "") -> tuple[float, int]:
    """End-to-end medallion run (the BASELINE.md comparable: the
    reference ingests 16.8M rows at ≈18-22k rows/s end-to-end).
    Returns (seconds, rows processed through bronze+silver+gold).
    ``scheme="file://"`` puts the warehouse behind a URI, which benches
    the distributed (s3-equivalent) watermark/metadata paths a real
    cluster would take."""
    import tempfile

    from pyspark.sql import functions as F

    from python_nyc_taxi_data_pipeline_spark.operators.watermark import MonthWindow
    from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import run_pipeline
    from python_nyc_taxi_data_pipeline_spark.sources.fixture_taxi import (
        orders_as_taxi,
    )
    from datetime import datetime

    # copies=100 scales the months-1..5 slice to ~930k rows at sf0.1 so
    # fixed per-job overhead amortizes the way the reference's 16.8M-row
    # dataset does (BASELINE.md measures steady-state throughput; at
    # copies=50 the 5-batch pipeline is overhead-dominated — doubling
    # the rows left wall-time flat and doubled rows/s). The source frame
    # is cached — the reference's timed loop also starts from an
    # in-memory (pandas) batch, not from re-deriving per action.
    # The cached source must not be a SINGLE partition: orders.parquet
    # is one 2.7 MB row group, and the explode(copies) inherits that 1
    # split, which serialized every downstream batch scan into one task
    # (measured ~0.9 s per batch scan at sf0.1, twice per batch — the
    # r11 profile's dominant ingest cost). Repartition the source to
    # the session's parallelism BEFORE caching — untimed setup, same
    # rows; a real ingest source is many files/splits, never one.
    taxi = (
        orders_as_taxi(spark, sf_dir, copies=100)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    taxi.count()
    batches = []
    for m in range(1, 6):
        batches.append(
            (
                taxi.filter(F.month("tpep_pickup_datetime") == m),
                MonthWindow(datetime(2024, m, 1), datetime(2024, m + 1, 1)),
            )
        )
    warehouse = scheme + tempfile.mkdtemp(prefix="bench_wh_")
    t0 = time.perf_counter()
    pipe = run_pipeline(spark, warehouse, batches)
    n_rows = pipe.read_silver().count()
    # gold views are lazy; force all three (the reference's observable output)
    for v in ("gold_vendor_metrics", "gold_monthly_metrics", "gold_payment_metrics"):
        spark.sql(f"SELECT * FROM {v}").collect()
    elapsed = time.perf_counter() - t0
    taxi.unpersist()
    pipe.destroy()
    return elapsed, n_rows


def _drop_leftover_blocks(spark) -> None:
    """Unpersist RDD blocks a query left pinned (localCheckpoint
    materializations outlive the DataFrame that made them until driver
    GC). Without this, checkpoint-heavy queries early in the suite
    inflate every later query's time via block-manager memory pressure
    — measured up to +40% on unrelated queries. Runs OUTSIDE each
    query's timing window, so per-query numbers still include the
    query's own materialization cost."""
    try:
        jrdds = spark.sparkContext._jsc.getPersistentRDDs()
        it = jrdds.values().iterator()
        while it.hasNext():
            it.next().unpersist()
    except Exception:
        pass


def _warm(spark, sf_dir: str) -> None:
    """One-time JVM/session warmup shared by suite and isolated modes."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.groupBy("r_name").count().write.format("noop").mode("overwrite").save()
    warm.mapInPandas(lambda it: it, warm.schema).write.format("noop").mode(
        "overwrite"
    ).save()
    w2 = warm.select(
        "r_regionkey",
        F.row_number()
        .over(Window.partitionBy(F.lit(1)).orderBy("r_regionkey"))
        .alias("rn"),
    ).localCheckpoint(eager=True)
    w2.join(F.broadcast(warm), "r_regionkey").write.format("noop").mode(
        "overwrite"
    ).save()


def _stress_variants() -> dict:
    """tools/scale_stress.py ``EXTRA_FNS``: the stress harness's
    production variants (e.g. the scaled-k SemDeDup or fixed-query
    margin-mining shapes), so scale rungs can probe them with the same
    fresh-JVM harness as registered queries."""
    tools_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    if tools_dir not in sys.path:
        sys.path.insert(0, tools_dir)
    from scale_stress import EXTRA_FNS

    return EXTRA_FNS


def run_one(name: str, sf_dir: str, repeats: int = 3) -> int:
    """Isolated mode: run ONE query in this (fresh) JVM after warmup.
    Prints a single JSON line with the cold time and min warm time —
    the suite bench shares a JVM across 270+ queries, so an in-suite
    regression can be either the query or suite contention (GC, cache
    pressure, executor-thread competition); this mode attributes it."""
    host = host_load()
    spark = get_session(f"bench-iso-{name}")
    _warm(spark, sf_dir)
    record: dict = {"name": name}
    if name in ("medallion_e2e", "medallion_e2e_nofastpath"):
        scheme = "" if name == "medallion_e2e" else "file://"

        def step() -> float:
            sec, record["rows"] = bench_medallion(spark, sf_dir, scheme=scheme)
            return sec

    else:
        qs = all_queries()
        fn = qs[name].fn if name in qs else _stress_variants()[name]

        def step() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    runs = []
    for _ in range(repeats):
        runs.append(round(step(), 3))
        spark.catalog.clearCache()
        _drop_leftover_blocks(spark)
    record.update(
        cold=runs[0],
        warm_min=min(runs[1:]) if len(runs) > 1 else None,
        runs=runs,
        sf=sf_of(sf_dir),
        **host,
    )
    if "rows" in record:
        record["warm_rows_per_sec"] = round(record["rows"] / min(runs[1:] or runs), 1)
    print(json.dumps(record))
    spark.stop()
    return 0


def _probe_universe() -> set:
    """Every name `--one` can probe: registered queries, the medallion
    pseudo-queries, AND the stress-harness production variants. The
    BENCH_isolated.json merge filters to this set; filtering to
    all_queries() alone would silently prune the stress variants'
    rows on every merge."""
    names = set(all_queries().keys())
    names |= {"medallion_e2e", "medallion_e2e_nofastpath"}
    try:
        names |= set(_stress_variants())
    except Exception:
        pass  # stress harness optional — never break a bench run
    return names


def run_isolated(names: list[str], sf_dir: str) -> None:
    """Fresh-JVM-per-query loop: subprocess `bench.py --one NAME` for
    each name and merge the results into BENCH_isolated.json. Use to
    attribute in-suite regressions (suite contention vs real plan
    cost)."""
    import subprocess

    results = {}
    for name in names:
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                capture_output=True,
                text=True,
                timeout=900,
            )
        except subprocess.TimeoutExpired:
            # one hung query must not discard the whole sweep's results
            results[name] = {"error": "timeout after 900s"}
            print(f"# isolated {name}: TIMEOUT", file=sys.stderr)
            continue
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        try:
            results[name] = json.loads(last)
        except ValueError:
            results[name] = {"error": proc.stderr[-500:]}
        print(f"# isolated {name}: {results[name]}", file=sys.stderr)
    repo = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(repo, "BENCH_isolated.json")
    # Merge with prior runs (same SF only) so an incremental
    # `--isolated new_query` doesn't discard the attribution history.
    # Prior keys no longer in the registry are dropped — renamed or
    # deregistered queries must not leave stale attribution rows.
    merged: dict = {}
    try:
        with open(path) as f:
            prior = json.load(f)
        if prior.get("sf") == sf_of(sf_dir):
            live = _probe_universe()
            merged = {
                k: v for k, v in prior.get("queries", {}).items() if k in live
            }
    except (OSError, ValueError):
        pass
    merged.update(results)
    out = {
        "metric": "isolated_queries",
        "unit": "sec",
        "sf": sf_of(sf_dir),
        "queries": merged,
    }
    with open(path, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


def _plan_tripwire() -> dict:
    """Run tools/plan_report.py --check in a subprocess; summarize for
    the bench payloads. Never raises — a broken tripwire must not cost
    the bench run."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "plan_report.py"), "--check"],
            capture_output=True,
            text=True,
            timeout=900,
        )
    except Exception as exc:  # noqa: BLE001
        return {"ok": None, "error": f"{type(exc).__name__}: {exc}"[:200]}
    regressions = [
        ln.strip()[len("REGRESSION ") :]
        for ln in proc.stdout.splitlines()
        if ln.strip().startswith("REGRESSION ")
    ]
    if proc.returncode == 0:
        return {"ok": True}
    return {
        "ok": False,
        "regressions": regressions or [f"rc={proc.returncode}", proc.stderr[-200:]],
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        return run_one(sys.argv[2], sf_dir)
    if len(sys.argv) >= 2 and sys.argv[1] == "--isolated":
        arg = sys.argv[2] if len(sys.argv) >= 3 else "curated"
        if arg == "curated":
            names = list(ISOLATED_QUERIES)
        else:
            names = [n for n in arg.split(",") if n]
        run_isolated(names, sf_dir)
        return 0
    host = host_load()
    # Plan-regression tripwire: compare every headliner's physical-plan
    # operator multiset against the PLANS.md snapshot BEFORE the timed
    # suite (own JVM, sequential — no contention with the timings). A
    # fired tripwire doesn't abort the bench; it lands in both output
    # payloads next to the numbers it explains.
    tripwire = _plan_tripwire()
    print(f"# plan_tripwire: {tripwire}", file=sys.stderr)
    spark = get_session("bench")
    timings: dict[str, float] = {}
    # Warm the JVM/session so the first registered query isn't charged
    # for one-time startup: codegen + a noop write, a trivial
    # mapInPandas pass (Python worker pool), and the window +
    # broadcast-join + checkpoint machinery (measured ~5s extra on a
    # composed pipeline in first position otherwise).
    _warm(spark, sf_dir)
    for name, q in all_queries().items():
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
        _drop_leftover_blocks(spark)
    # The BASELINE.md comparable is the reference's STEADY-STATE
    # throughput over a 16.8M-row sustained ingest, so measure the
    # medallion run warm: one untimed pass JITs the write/agg paths
    # (its fresh temp warehouse is destroyed), then the timed pass.
    # Cold-vs-warm on this VM swings the e2e number by up to 2×, which
    # would drown any real regression signal. Drop the query suite's
    # cached/checkpointed blocks first so the timed pass isn't paying
    # 100+ queries' worth of memory pressure.
    spark.catalog.clearCache()
    bench_medallion(spark, sf_dir)
    # Steady-state throughput = best of two timed passes: this VM's
    # background load swings a single e2e run by up to 2×, which would
    # drown any real regression; the min is the reproducible number
    # (the reference's baseline is likewise its sustained steady-state
    # log rate, not a worst-case sample).
    med_sec, med_rows = min(
        (bench_medallion(spark, sf_dir) for _ in range(2)),
        key=lambda t: t[0],
    )
    timings["medallion_e2e"] = round(med_sec, 3)
    print(f"# medallion_e2e: {timings['medallion_e2e']}s", file=sys.stderr)
    # Cluster-representative number: the same pipeline on a file://
    # warehouse, which skips the driver-side pyarrow/parquet-footer
    # fastpaths (the code path an s3:// warehouse takes). Reported
    # alongside so the baseline comparison doesn't ride local-only
    # shortcuts.
    dist_sec, dist_rows = min(
        (bench_medallion(spark, sf_dir, scheme="file://") for _ in range(2)),
        key=lambda t: t[0],
    )
    print(f"# medallion_e2e_nofastpath: {round(dist_sec, 3)}s", file=sys.stderr)
    spark.stop()
    total = round(sum(timings.values()), 3)
    headline = {
        "metric": "query_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf_of(sf_dir),
        "medallion_rows": med_rows,
        "medallion_rows_per_sec": round(med_rows / med_sec, 1),
        "medallion_nofastpath_rows_per_sec": round(dist_rows / dist_sec, 1),
        "plan_tripwire": tripwire,
        **host,
    }
    line = json.dumps({**headline, "queries": timings})
    # A caller may keep only a 2000-char stdout tail — persist the full
    # result to a file, print it for humans, then end stdout with a
    # compact line guaranteed to survive (and parse from) the tail.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
        "w",
    ) as f:
        f.write(line + "\n")
    print(line)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    compact = json.dumps(
        {
            **headline,
            "queries": slowest,
            "n_queries": len(timings),
            "queries_detail": "BENCH_local.json",
        }
    )
    print(compact)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
