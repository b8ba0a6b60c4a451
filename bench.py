"""Benchmark harness — runs the registered queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON lines:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write (full column
materialization — .count() alone would let Catalyst prune the work).

Output protocol: the full per-query line (~3.5 KB at 100+ queries) is
printed first and persisted to BENCH_local.json; the LAST stdout line
is a compact summary (headline metric + the slowest queries) that fits
inside the round driver's 2000-char stdout tail — BENCH_r01/r02 show
the driver keeps only that tail and recorded ``parsed: null`` when the
full line was its last line and got beheaded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_nyc_taxi_data_pipeline_spark.registry import all_queries  # noqa: E402
from python_nyc_taxi_data_pipeline_spark.session import get_session  # noqa: E402


# Curated per-round isolated-bench set: the expensive/regression-prone
# queries whose in-suite numbers need a contention-free attribution
# baseline (fresh JVM each, cold + warm runs). `--isolated` with no
# names (or "curated") runs exactly this list. The two medallion
# pseudo-queries bench the BASELINE.md-comparable e2e pipeline in both
# fastpath modes.
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


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_medallion(spark, sf_dir: str, local_fastpaths: bool = True) -> tuple[float, int]:
    """End-to-end medallion run (the BASELINE.md comparable: the
    reference ingests 16.8M rows at ≈18-22k rows/s end-to-end).
    Returns (seconds, rows processed through bronze+silver+gold).
    ``local_fastpaths=False`` benches the distributed (s3-equivalent)
    watermark/metadata paths a real cluster would take."""
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
    warehouse = tempfile.mkdtemp(prefix="bench_wh_")
    t0 = time.perf_counter()
    pipe = run_pipeline(spark, warehouse, batches, local_fastpaths=local_fastpaths)
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


def run_one(name: str, sf_dir: str, repeats: int = 3) -> int:
    """Isolated mode: run ONE query in this (fresh) JVM after warmup.
    Prints a single JSON line with the cold time and min warm time —
    the suite bench shares a JVM across 110 queries, so an in-suite
    regression can be either the query or suite contention (GC, cache
    pressure, executor-thread competition); this mode attributes it."""
    spark = get_session(f"bench-iso-{name}")
    _warm(spark, sf_dir)
    runs = []
    if name in ("medallion_e2e", "medallion_e2e_nofastpath"):
        # Directive: per-round isolated medallion numbers (both modes)
        # rule suite position in/out when the e2e throughput moves.
        fast = name == "medallion_e2e"
        rows = 0
        for _ in range(repeats):
            sec, rows = bench_medallion(spark, sf_dir, local_fastpaths=fast)
            runs.append(round(sec, 3))
            spark.catalog.clearCache()
            _drop_leftover_blocks(spark)
        print(
            json.dumps(
                {
                    "name": name,
                    "cold": runs[0],
                    "warm_min": min(runs[1:]) if len(runs) > 1 else None,
                    "runs": runs,
                    "rows": rows,
                    "warm_rows_per_sec": round(rows / min(runs[1:] or runs), 1),
                    "sf": sf_of(sf_dir),
                }
            )
        )
        spark.stop()
        return 0
    qs = all_queries()
    if name in qs:
        q = qs[name]
    else:
        # Fallback: stress-harness production variants
        # (tools/scale_stress.py EXTRA_FNS — e.g. the scaled-k SemDeDup
        # or fixed-query margin-mining shapes), so scale rungs can probe
        # the adjudicated production shapes with the same fresh-JVM
        # harness as registered queries.
        import types

        tools_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "tools"
        )
        if tools_dir not in sys.path:
            sys.path.insert(0, tools_dir)
        from scale_stress import EXTRA_FNS

        if name not in EXTRA_FNS:
            raise KeyError(name)
        q = types.SimpleNamespace(fn=EXTRA_FNS[name])
    for _ in range(repeats):
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
        _drop_leftover_blocks(spark)
    print(
        json.dumps(
            {
                "name": name,
                "cold": runs[0],
                "warm_min": min(runs[1:]) if len(runs) > 1 else None,
                "runs": runs,
                "sf": sf_of(sf_dir),
            }
        )
    )
    spark.stop()
    return 0


def _probe_universe() -> set:
    """Every name `--one` can probe: registered queries, the medallion
    pseudo-queries, AND the stress-harness production variants
    (scale_stress.EXTRA_FNS — e.g. `embeddings_semdedup_hier_scaledk`).
    The isolated-history merge and the curated flag gate both filter to
    this set; filtering to all_queries() alone silently pruned stress
    variants from BENCH_isolated.json on every merge, so they could
    never accumulate the per-round history the adjudication loop reads."""
    names = set(all_queries().keys())
    names |= {"medallion_e2e", "medallion_e2e_nofastpath"}
    try:
        tools_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "tools"
        )
        if tools_dir not in sys.path:
            sys.path.insert(0, tools_dir)
        from scale_stress import EXTRA_FNS

        names |= set(EXTRA_FNS)
    except Exception:
        pass  # stress harness optional — never break a bench run
    return names


def run_isolated(names: list[str], sf_dir: str) -> dict:
    """Fresh-JVM-per-query loop: subprocess `bench.py --one NAME` for
    each name and write BENCH_isolated.json (returns this run's
    per-name results). Use to attribute in-suite regressions (suite
    contention vs real plan cost)."""
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
    # Per-round snapshot of THIS run only (not the merged history), so
    # round-over-round per-query deltas stay attributable forever. The
    # round number is inferred as newest recorded driver round + 1.
    rnd = current_round(repo)
    snap = {
        "metric": "isolated_queries",
        "unit": "sec",
        "sf": sf_of(sf_dir),
        "round": rnd,
        "queries": results,
    }
    snap_path = os.path.join(repo, f"BENCH_isolated_r{rnd:02d}.json")
    prior_snap: dict = {}
    try:
        with open(snap_path) as f:
            prior_file = json.load(f)
        # same-SF guard, like the history merge: never mix timings from
        # different scale factors inside one round snapshot
        if prior_file.get("sf") == sf_of(sf_dir):
            prior_snap = prior_file.get("queries", {})
    except (OSError, ValueError):
        pass
    snap["queries"] = {**prior_snap, **results}
    with open(snap_path, "w") as f:
        f.write(json.dumps(snap) + "\n")
    print(json.dumps(out))
    return results


# r12 (VERDICT #8): EVERY ≥1.2× mover gets the three-probe treatment —
# the r11 top-5 cap left the CC-family movers (dedup_apply_best 1.98×,
# dup_clusters 1.55×, ngram_jaccard_pairs 2.02×) unadjudicated because
# they sorted below rank 5. The cap is now a runaway guard only.
DRIFT_TOP_N = 1000  # movers re-probed per round by the drift rule
DRIFT_MIN_RATIO = 1.2  # below this a "mover" is inside normal jitter
DRIFT_PROBES = 3  # fresh-JVM probes per mover (host-noise adjudication)
DRIFT_BAND = 1.25  # reprobe min within this × prior warm → host variance


def drift_rule(sf_dir: str) -> dict:
    """Isolated-comparator drift rule (r9 VERDICT directive #3). The
    primary round-over-round number is the isolated-warm total, but its
    movers were only adjudicated when they ALSO tripped the in-suite
    1.5× flag — r9's two biggest common-set movers (docs_collocations_
    pmi 1.71×, docs_dedup_apply 1.55×) never got the three-probe
    treatment. After every curated sweep this compares the round's
    snapshot against the previous round's snapshot on their COMMON
    names, re-probes the top-{N} warm_min movers (ratio ≥ {r}) with
    {p} fresh JVMs each, files the per-probe evidence in the round
    snapshot under `drift_reprobe`, and appends the adjudication to
    BENCH_flag_history.json."""
    import glob as _glob
    import re as _re
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    rnd = current_round(repo)
    cur_path = os.path.join(repo, f"BENCH_isolated_r{rnd:02d}.json")
    prev_rnd, prev_path = 0, None
    for p in _glob.glob(os.path.join(repo, "BENCH_isolated_r[0-9]*.json")):
        m = _re.search(r"_r(\d+)\.json$", os.path.basename(p))
        if not m:
            continue
        n = int(m.group(1))
        if prev_rnd < n < rnd:
            prev_rnd, prev_path = n, p
    try:
        with open(cur_path) as f:
            cur = json.load(f)
        with open(prev_path) as f:  # type: ignore[arg-type]
            prev = json.load(f)
    except (OSError, ValueError, TypeError):
        print("# drift_rule: no comparable snapshots, skipped", file=sys.stderr)
        return {}
    if cur.get("sf") != prev.get("sf"):
        print("# drift_rule: snapshot SF mismatch, skipped", file=sys.stderr)
        return {}

    def warm(d: dict, n: str):
        r = d.get("queries", {}).get(n)
        v = r.get("warm_min") if isinstance(r, dict) else None
        return v if isinstance(v, (int, float)) and v > 0 else None

    movers = []
    for n in cur.get("queries", {}):
        c, pv = warm(cur, n), warm(prev, n)
        if c is None or pv is None or pv < 0.3:
            continue
        if c / pv >= DRIFT_MIN_RATIO:
            movers.append((c / pv, n, pv, c))
    movers.sort(reverse=True)
    movers = movers[:DRIFT_TOP_N]
    report: dict = {}
    for ratio, name, pv, c in movers:
        probes = []
        for _ in range(DRIFT_PROBES):
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one", name],
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
                    capture_output=True,
                    text=True,
                    timeout=900,
                )
                last = (
                    proc.stdout.strip().splitlines()[-1]
                    if proc.stdout.strip()
                    else "{}"
                )
                w = json.loads(last).get("warm_min")
                probes.append(round(w, 3) if isinstance(w, (int, float)) else None)
            except (subprocess.TimeoutExpired, ValueError):
                probes.append(None)
        good = [p for p in probes if isinstance(p, (int, float))]
        best = min(good) if good else None
        verdict = (
            "host_variance"
            if best is not None and best <= DRIFT_BAND * pv
            else ("regression" if best is not None else "probe_failed")
        )
        report[name] = {
            "prev_warm": round(pv, 3),
            "sweep_warm": round(c, 3),
            "ratio": round(ratio, 3),
            "probes": probes,
            "reprobe_min": best,
            "verdict": verdict,
        }
        print(f"# drift_rule {name}: {report[name]}", file=sys.stderr)
    # File the evidence in the round snapshot + the durable history.
    try:
        with open(cur_path) as f:
            snap = json.load(f)
        snap["drift_reprobe"] = {**snap.get("drift_reprobe", {}), **report}
        snap["drift_vs_round"] = prev_rnd
        with open(cur_path, "w") as f:
            f.write(json.dumps(snap) + "\n")
    except (OSError, ValueError):
        pass
    hist_path = os.path.join(repo, "BENCH_flag_history.json")
    try:
        with open(hist_path) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        hist = {"flag_sets": []}
    hist["flag_sets"].append(
        {
            "round": rnd,
            "kind": "isolated_drift",
            "vs_round": prev_rnd,
            "names": sorted(report),
            "adjudication": {n: r["verdict"] for n, r in report.items()},
        }
    )
    with open(hist_path, "w") as f:
        f.write(json.dumps(hist) + "\n")
    return report


drift_rule.__doc__ = drift_rule.__doc__.format(
    N=DRIFT_TOP_N, r=DRIFT_MIN_RATIO, p=DRIFT_PROBES
)


def current_round(repo: str) -> int:
    """The in-flight round number. $SPARK_GRAFT_ROUND, when set, wins —
    an --isolated run executed AFTER the driver has already written this
    round's BENCH_r/CORRECTNESS_r files (a post-round re-measure) would
    otherwise stamp the snapshot with the NEXT round's number and
    mislabel the attribution history. Fallback: newest BENCH_r/
    CORRECTNESS_r file +1 (those are written by the driver at round END,
    so while a round is running the newest recorded file belongs to the
    previous round)."""
    import glob
    import re

    explicit = os.environ.get("SPARK_GRAFT_ROUND")
    if explicit:
        try:
            return int(explicit)
        except ValueError:
            pass
    newest = {"BENCH": 0, "CORRECTNESS": 0}
    for p in glob.glob(os.path.join(repo, "*_r*.json")):
        # Only the driver's round artifacts count. BENCH_isolated_rN
        # carries a snapshot-round N — inferring from it mislabels
        # every later unlabeled run.
        m = re.match(r"^(BENCH|CORRECTNESS)_r(\d+)\.json$", os.path.basename(p))
        if m:
            kind, rnd = m.group(1), int(m.group(2))
            newest[kind] = max(newest[kind], rnd)
    # A round is COMPLETE only once BOTH driver artifacts exist. The
    # driver writes them at different points of round-end (r9 wrote
    # CORRECTNESS_r09 before running the final bench), so while exactly
    # one of the pair exists at N that round is still in flight — its
    # in-run re-probes must land in the r N snapshot, not r N+1 (the
    # r9 mislabeling: 18 flag re-probes filed under BENCH_isolated_r10).
    if newest["BENCH"] != newest["CORRECTNESS"]:
        return max(newest.values())
    return newest["BENCH"] + 1


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
            # Auto-snapshot every >1.5× in-suite regressor EVER flagged
            # (r8 VERDICT directive #7 widened this from last-run-only):
            # union the flag sets from the latest suite run AND every
            # recorded round payload, so any query that ever tripped the
            # radar accumulates a per-round isolated history row and
            # adjudication never depends on an out-of-band probe.
            repo = os.path.dirname(os.path.abspath(__file__))
            flagged: set = set()
            import glob as _glob

            for p in [os.path.join(repo, "BENCH_local.json")] + sorted(
                _glob.glob(os.path.join(repo, "BENCH_r[0-9][0-9].json"))
            ):
                try:
                    with open(p) as f:
                        flagged |= set(
                            json.load(f).get("regressors_vs_prev", {}) or {}
                        )
                except (OSError, ValueError):
                    pass
            # plus the durable append-only history (BENCH_local is
            # overwritten per run and driver payloads drop the field)
            try:
                with open(
                    os.path.join(repo, "BENCH_flag_history.json")
                ) as f:
                    for fs in json.load(f).get("flag_sets", []):
                        flagged |= set(fs.get("names", []))
            except (OSError, ValueError):
                pass
            live = _probe_universe()
            names.extend(
                sorted(n for n in flagged if n not in names and n in live)
            )
        else:
            names = [n for n in arg.split(",") if n]
        run_isolated(names, sf_dir)
        if arg == "curated":
            # Drift rule runs only on the full curated sweep — a
            # targeted `--isolated a,b` probe has no comparator claim.
            drift_rule(sf_dir)
        return 0
    # Plan-regression tripwire (r6 VERDICT directive #8): compare every
    # headliner's physical-plan operator multiset against the previous
    # PLANS.md snapshot BEFORE the timed suite (own JVM, sequential —
    # no contention with the timings). A fired tripwire doesn't abort
    # the bench; it lands in both output payloads so the round ledger
    # shows the drift next to the numbers it explains.
    tripwire = _plan_tripwire()
    print(f"# plan_tripwire: {tripwire}", file=sys.stderr)
    spark = get_session("bench")
    timings: dict[str, float] = {}
    # Warm the JVM/session so the FIRST registered query (the registry
    # orders weakest-evidence first, so it changes round to round) isn't
    # charged for one-time startup: codegen + a noop write, a trivial
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
    # Cluster-representative number: same pipeline with the driver-side
    # pyarrow/parquet-footer fastpaths DISABLED (the code path an s3://
    # warehouse takes). Reported alongside so the baseline comparison
    # doesn't ride local-only shortcuts.
    dist_sec, dist_rows = min(
        (bench_medallion(spark, sf_dir, local_fastpaths=False) for _ in range(2)),
        key=lambda t: t[0],
    )
    print(f"# medallion_e2e_nofastpath: {round(dist_sec, 3)}s", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    # In-suite regression radar (r7 VERDICT directive #2): any query
    # whose in-suite time grew >1.5× vs the PREVIOUS suite run (the
    # BENCH_local.json this run is about to overwrite) is recorded so
    # `--isolated curated` auto-snapshots it — the curated top-N set
    # alone lets a mid-pack regressor escape contention-free
    # adjudication. Floor of 0.3 s on the prior time: below that the
    # ratio is pure noise on this VM.
    regressors: dict[str, list[float]] = {}
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    try:
        with open(prev_path) as f:
            prev_q = json.load(f).get("queries", {})
    except (OSError, ValueError):
        prev_q = {}
    for qname, cur in timings.items():
        prev = prev_q.get(qname)
        if isinstance(prev, (int, float)) and prev >= 0.3 and cur > 1.5 * prev:
            regressors[qname] = [round(prev, 3), round(cur, 3)]
    if regressors:
        print(f"# regressors_vs_prev: {regressors}", file=sys.stderr)
        # Durable flag history: BENCH_local.json is overwritten every
        # run and the driver's BENCH_rNN payload capture does not keep
        # regressors_vs_prev, so without this append the "ever
        # flagged" union (--isolated curated) forgets old flags (r8's
        # 40-name set was lost exactly this way).
        hist_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_flag_history.json",
        )
        try:
            with open(hist_path) as f:
                hist = json.load(f)
        except (OSError, ValueError):
            hist = {"flag_sets": []}
        hist["flag_sets"].append(
            {
                "round": current_round(
                    os.path.dirname(os.path.abspath(__file__))
                ),
                "names": sorted(regressors),
            }
        )
        with open(hist_path, "w") as f:
            f.write(json.dumps(hist) + "\n")
    line = json.dumps(
        {
            "metric": "query_suite_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_of(sf_dir),
            "medallion_rows": med_rows,
            "medallion_rows_per_sec": round(med_rows / med_sec, 1),
            "medallion_nofastpath_rows_per_sec": round(dist_rows / dist_sec, 1),
            "plan_tripwire": tripwire,
            "regressors_vs_prev": regressors,
        }
    )
    # The driver's stdout capture keeps only a 2000-char tail — persist
    # the full result to a file, print it for humans, then end stdout
    # with a compact line guaranteed to survive (and parse from) the tail.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
        "w",
    ) as f:
        f.write(line + "\n")
    print(line)
    # Close the regressor-adjudication loop IN-ROUND (r8 VERDICT
    # directive #3): every name this suite run just flagged gets a
    # fresh-JVM probe now — appended to the round's isolated snapshot
    # by run_isolated — so no round ever ends with an unadjudicated
    # flag set (r8 closed with two that only a judge-session probe
    # cleared). The suite JVM is stopped first so the probes aren't
    # measured under its memory pressure.
    spark.stop()
    reprobe: dict[str, float | None] = {}
    if regressors:
        print(
            f"# re-probing {len(regressors)} flagged names fresh-JVM",
            file=sys.stderr,
        )
        iso = run_isolated(sorted(regressors), sf_dir)
        reprobe = {
            n: (r.get("warm_min") if isinstance(r, dict) else None)
            for n, r in iso.items()
        }
        # fold the adjudication into the persisted full record too
        try:
            lp = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_local.json",
            )
            with open(lp) as f:
                full = json.load(f)
            full["regressor_reprobe_warm"] = reprobe
            with open(lp, "w") as f:
                f.write(json.dumps(full) + "\n")
        except (OSError, ValueError):
            pass
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    )
    compact_payload = {
        "metric": "query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "queries_detail": "BENCH_local.json",
        "sf": sf_of(sf_dir),
        "medallion_rows": med_rows,
        "medallion_rows_per_sec": round(med_rows / med_sec, 1),
        "medallion_nofastpath_rows_per_sec": round(dist_rows / dist_sec, 1),
        "plan_tripwire": tripwire,
        "regressors_vs_prev": regressors,
        "regressor_reprobe_warm": reprobe,
    }
    # PRIMARY round-over-round comparator (r8 VERDICT directive #6):
    # the isolated-warm suite — sum of fresh-JVM warm minima for the
    # curated set from the attribution history. The shared-JVM in-suite
    # total above stays for ordering/contention realism, but host
    # variance has drowned its signal (40 spuriously flagged names in
    # r8); compare isolated-first.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_isolated.json",
            )
        ) as f:
            iso_hist = json.load(f)
        if iso_hist.get("sf") == sf_of(sf_dir):
            warms = {
                n: r.get("warm_min")
                for n, r in iso_hist.get("queries", {}).items()
                if n in ISOLATED_QUERIES
                and isinstance(r, dict)
                and isinstance(r.get("warm_min"), (int, float))
            }
            compact_payload["isolated_warm_total"] = {
                "value": round(sum(warms.values()), 3),
                "n_queries": len(warms),
                "of_curated": len(ISOLATED_QUERIES),
                "detail": "BENCH_isolated.json",
            }
    except (OSError, ValueError):
        pass
    # Fold in the latest near-dup scale-stress verdict (tools/
    # scale_stress.py) when present: per-query worst shuffle-growth
    # exponent across 1×/2×/4× corpus inflation.
    stress_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "STRESS_local.json"
    )
    if os.path.exists(stress_path):
        try:
            with open(stress_path) as f:
                stress = json.load(f)
            # Summarize: the full per-query exponent map lives in
            # STRESS_local.json; at 24 entries the verbatim map pushed
            # the compact line against the driver's 2000-char stdout
            # tail, so only failures print by name.
            exps = {
                n: r.get("worst_exponent")
                for n, r in stress.get("queries", {}).items()
                if r.get("worst_exponent") is not None
            }
            failing = {
                n: r.get("worst_exponent")
                for n, r in stress.get("queries", {}).items()
                if not r.get("ok")
            }
            worst = max(exps.items(), key=lambda kv: kv[1]) if exps else None
            compact_payload["neardup_stress"] = {
                "ok": stress.get("ok"),
                "entries": len(stress.get("queries", {})),
                "worst": {"query": worst[0], "exponent": worst[1]} if worst else None,
                "failing": failing,
                "detail": "STRESS_local.json",
            }
            if stress.get("bpe_200_merges"):
                compact_payload["bpe_200_merges"] = stress["bpe_200_merges"]
        except (OSError, ValueError):
            pass
    compact = json.dumps(compact_payload)
    print(compact)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
