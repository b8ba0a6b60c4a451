"""The workloads: set-up, warm-up, one timed pass, and the output checks.

Each workload is one closed-loop client in the driver process: an op (a
monthly batch or a query) starts only when the previous one has finished.
All engine calls go through the public functions named in the span names and
are timed from outside, in ``Tracer`` spans.
"""

from __future__ import annotations

import os
import random
import statistics
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime

import checks
import datagen
from spans import Tracer

RELATIONAL = [
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_priority_class",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_discounted_revenue",
    "tpch_q20_excess_shippers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "flagship_supplier_metrics",
    "monthly_metrics",
    "monthly_metrics_padded_month",
    "segment_metrics",
    "sql_scripts_gold_vendor",
]
LLM = [
    "embeddings_kmeans",
    "embeddings_semdedup",
    "embeddings_semdedup_ivf_contract",
    "embeddings_semdedup_hier_contract",
    "knn_pq_adc",
    "docs_bpe_merges",
    "docs_bpe_encode",
    "docs_dup_clusters",
    "docs_dedup_apply_best",
    "docs_simhash",
    "retrieval_hybrid_rrf",
    "nation_trade_pagerank",
]
GOLD_VIEWS = ("gold_vendor_metrics", "gold_monthly_metrics", "gold_payment_metrics")


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    error: str | None = None
    result: object = None


@dataclass
class Outcome:
    ops: list[Op]
    wall_s: float
    layer: dict[str, float]  # per-layer figures that need no event log
    state: object = None  # what the check reads besides the ops' results
    tracer: Tracer | None = None  # this pass's spans


class Env:
    """What every workload needs: the session, the spans and the scratch dirs."""

    def __init__(self, tracer: Tracer, work: str, cache: str, seed: int, small: bool):
        self.spark = None  # set once the session is up
        self.tracer = tracer
        self.work = work
        self.cache = cache  # fixture tables, kept between runs
        self.seed = seed
        self.small = small  # the smoke test's sf0.001 sizes

    def sf_dir(self, sf: float, names=datagen.TABLES) -> str:
        return datagen.cached(sf, self.cache, names)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# --- medallion ---------------------------------------------------------------


class Medallion:
    """Monthly batches through bronze, silver and gold.

    ``nightly`` refreshes silver and reads gold after every batch, mixes a
    seeded ~1% of the previous month (below the watermark: dropped) and of the
    next month (out of window: dead-lettered) into each batch, and replays the
    last batch at the end. Otherwise (backfill) the batches are clean and
    silver and gold run once after the last one.
    """

    def __init__(self, env: Env, sf: float, copies: int, months: int, nightly: bool):
        self.env = env
        self.sf = sf
        self.copies = copies
        self.months = months
        self.nightly = nightly
        self.batches: list[tuple[str, datetime, datetime]] = []

    def inputs(self) -> None:
        """The fixture tables this workload reads (harness work, not timed)."""
        self.sf_dir = self.env.sf_dir(self.sf, ["orders"])

    def setup(self, queries) -> None:
        """Write the monthly batch files through ``orders_as_taxi``."""
        from pyspark.sql import functions as F

        from python_nyc_taxi_data_pipeline_spark.sources.fixture_taxi import orders_as_taxi

        env, spark = self.env, self.env.spark
        month = F.month("tpep_pickup_datetime")

        def picked(salt: int):
            h = F.xxhash64("tpep_pickup_datetime", "pulocationid", F.lit(env.seed * 2 + salt))
            return F.pmod(h, F.lit(100)) == 0

        # Every row goes to its own month's batch; in nightly mode a seeded
        # ~1% also goes late into the next month's batch and another ~1%
        # early into the previous month's batch.
        batch_ids = [month]
        if self.nightly:
            batch_ids += [
                F.when(picked(0), month + 1),
                F.when(picked(1), month - 1),
            ]
        out = os.path.join(env.work, "batches")
        with env.tracer.span("sources.orders_as_taxi"):
            taxi = orders_as_taxi(spark, self.sf_dir, copies=self.copies).repartition(
                spark.sparkContext.defaultParallelism
            )
            (
                taxi.withColumn("batch", F.explode(F.array(*batch_ids)))
                .filter(F.col("batch").between(1, self.months))
                .write.partitionBy("batch")
                .parquet(out)
            )
        for m in range(1, self.months + 1):
            path = os.path.join(out, f"batch={m}")
            self.batches.append((path, datetime(2024, m, 1), datetime(2024, m + 1, 1)))
        if self.nightly:
            self.batches.append(self.batches[-1])  # the replayed batch

    def warm(self) -> None:
        """The first two batches through the same calls, into a throwaway
        warehouse, so the timed pass starts with code paths warmed on
        inputs of its own size, including those a batch takes only when
        the warehouse already holds data."""
        env = self.env
        timed_tracer, env.tracer = env.tracer, Tracer("warm")
        try:
            self.run_pass(self.batches[:2])
        finally:
            env.tracer = timed_tracer

    def run_pass(self, batches=None) -> Outcome:
        from python_nyc_taxi_data_pipeline_spark.operators.watermark import MonthWindow
        from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import taxi_pipeline

        env, spark, tr = self.env, self.env.spark, self.env.tracer
        batches = batches or self.batches
        warehouse = tempfile.mkdtemp(prefix="warehouse-", dir=env.work)
        pipe = taxi_pipeline(spark, warehouse)
        ops: list[Op] = []
        waiting: list[tuple[Op, float]] = []
        t0 = time.perf_counter()
        for i, (path, start, end) in enumerate(batches):
            op = Op(f"batch{i + 1}:{start:%Y-%m}")
            handed = time.perf_counter()
            try:
                batch = spark.read.parquet(path)
                with tr.span("medallion.ingest_batch", op.name):
                    res = pipe.ingest_batch(batch, MonthWindow(start, end))
                op.result = {"loaded": res.loaded, "dead": res.dead_lettered}
            except Exception:
                op.error = traceback.format_exc(limit=3)
            ops.append(op)
            waiting.append((op, handed))
            if self.nightly or i == len(batches) - 1:
                try:
                    gold = self._refresh(pipe, op.name)
                except Exception:
                    gold, op.error = None, op.error or traceback.format_exc(limit=3)
                done = time.perf_counter()
                op.result = {**(op.result or {}), "gold": gold}
                for o, h in waiting:
                    o.seconds = done - h
                waiting = []
        wall = time.perf_counter() - t0
        return Outcome(ops, wall, self._layer(pipe, ops, wall), pipe)

    def _refresh(self, pipe, op: str) -> dict:
        from python_nyc_taxi_data_pipeline_spark.pipeline import taxi

        spark, tr = self.env.spark, self.env.tracer
        with tr.span("medallion.silver_refresh", op):
            self.silver_rows = pipe.silver_refresh(taxi.silver_transform, partition_col="pickup_month")
        with tr.span("taxi.build_dims", op):
            dims = taxi.build_dims(spark, pipe.bronze())
        with tr.span("taxi.create_gold_views", op):
            taxi.create_gold_views(spark, pipe.read_silver(), dims)
        gold = {}
        for v in GOLD_VIEWS:
            with tr.span("gold.read", op):
                gold[v] = spark.sql(f"SELECT * FROM {v}").collect()
        return gold

    def _layer(self, pipe, ops: list[Op], wall: float) -> dict[str, float]:
        tr = self.env.tracer
        ingest = tr.durations("medallion.ingest_batch")
        silver = tr.durations("medallion.silver_refresh")
        bronze_files, bronze_bytes = _dir_stats(pipe.bronze_path)
        silver_files, silver_bytes = _dir_stats(pipe.silver_path)
        _, dead_bytes = _dir_stats(pipe.invalid_path)
        _, meta_bytes = _dir_stats(pipe.meta_path)
        results = [o.result or {} for o in ops]
        rows = getattr(self, "silver_rows", 0)
        return {
            "ingest.batch_p50_s": _median(ingest),
            "ingest.total_s": sum(ingest),
            "ingest.rows_loaded": sum(r.get("loaded", 0) for r in results),
            "ingest.rows_dead_lettered": sum(r.get("dead", 0) for r in results),
            "bronze.files": bronze_files,
            "bronze.bytes": bronze_bytes,
            "dead_letter.bytes": dead_bytes,
            "silver.refresh_first_s": silver[0] if silver else 0.0,
            "silver.refresh_last_s": silver[-1] if silver else 0.0,
            "silver.refresh_total_s": sum(silver),
            "silver.rows": rows,
            "silver.files": silver_files,
            "silver.bytes": silver_bytes,
            "dims.build_s": sum(tr.durations("taxi.build_dims")),
            "gold.views_s": sum(tr.durations("taxi.create_gold_views")),
            "gold.read_total_s": sum(tr.durations("gold.read")),
            "freshness_p50_s": _median([o.seconds for o in ops]),
            "rows_per_s": rows / wall if wall else 0.0,
            "warehouse_bytes_per_row": (bronze_bytes + silver_bytes + dead_bytes + meta_bytes)
            / max(rows, 1),
        }

    def check(self, out: Outcome, corrupt: bool) -> None:
        """Mark every op whose output differs from the DuckDB replay."""
        from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import DEFAULT_WATERMARK

        ops, pipe = out.ops, out.state
        if corrupt:
            _drop_one_row(pipe.silver_path)
        replay = checks.MedallionReplay(DEFAULT_WATERMARK)
        try:
            for op, (path, start, end) in zip(ops, self.batches):
                loaded, dead = replay.ingest(path, start, end)
                got = op.result or {}
                problems = []
                if (got.get("loaded"), got.get("dead")) != (loaded, dead):
                    problems.append(
                        f"loaded/dead-lettered {got.get('loaded')}/{got.get('dead')}, "
                        f"expected {loaded}/{dead}"
                    )
                if got.get("gold") is not None:
                    replay.refresh_silver()
                    want = checks.expected_gold(replay.con)
                    for v in GOLD_VIEWS:
                        rows = checks.normalize_rows(got["gold"][v])
                        if rows != want[v]:
                            diff = [(a, b) for a, b in zip(rows, want[v]) if a != b][:1]
                            problems.append(f"{v} differs from the replay: {diff}")
                if problems and op.error is None:
                    op.error = "; ".join(problems)
            # the final state is the last op's output
            replay.refresh_silver()
            try:
                problems = self._final_state_problems(pipe, replay, ops)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            if problems and ops[-1].error is None:
                ops[-1].error = "; ".join(problems)
        finally:
            replay.close()

    def _final_state_problems(self, pipe, replay, ops: list[Op]) -> list[str]:
        problems = []
        silver = pipe.read_silver().selectExpr(*checks.SPARK_SILVER_FINGERPRINT).first()
        if tuple(silver) != replay.silver_fingerprint():
            problems.append(f"silver {tuple(silver)} != {replay.silver_fingerprint()}")
        meta = pipe.meta().groupBy("status").count().collect()
        if {r["status"]: r["count"] for r in meta} != {"success": len(self.batches)}:
            problems.append(f"meta runs {meta}, expected {len(self.batches)} success rows")
        if pipe.current_watermark() != replay.watermark:
            problems.append(f"watermark {pipe.current_watermark()} != {replay.watermark}")
        dead_rows = pipe.invalid_records().count() if pipe.invalid_records() else 0
        if dead_rows != replay.dead_lettered():
            problems.append(f"dead letters {dead_rows} != {replay.dead_lettered()}")
        if self.nightly and (ops[-1].result or {}).get("loaded") != 0:
            problems.append("the replayed batch loaded rows")
        return problems


def _drop_one_row(table_path: str) -> None:
    """Corrupt a table on purpose (smoke test): rewrite one of its files
    without its first row."""
    import pyarrow.parquet as pq

    for d, _, names in sorted(os.walk(table_path)):
        for n in sorted(names):
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                t = pq.read_table(p, partitioning=None)
                if t.num_rows:
                    pq.write_table(t.slice(1), p)
                    crc = os.path.join(d, f".{n}.crc")  # Hadoop's checksum of the old file
                    if os.path.exists(crc):
                        os.remove(crc)
                    return


# --- queries -----------------------------------------------------------------


class Queries:
    """A fixed list of registered queries, in a seeded order. Each op builds
    the DataFrame (``fn(spark, sf_dir)``) and then executes it by fetching
    its result, which the check compares with the query's DuckDB oracle."""

    def __init__(self, env: Env, names: list[str], sf: float, warm: list[str]):
        self.env = env
        self.names = list(names)
        random.Random(env.seed).shuffle(self.names)
        self.sf = sf
        self.warm_names = warm

    def inputs(self) -> None:
        """The fixture tables at the workload's scale and at sf0.001 for the
        warm-up (harness work, not timed)."""
        self.sf_dir = self.env.sf_dir(self.sf)
        self.warm_dir = self.env.sf_dir(0.001)

    def setup(self, queries) -> None:
        self.registry = queries

    def warm(self) -> None:
        """A few short listed queries (a fixed choice, not the seeded order;
        for the LLM mix one per operator module) on sf0.001 inputs: JIT and
        codegen warm-up."""
        for name in self.warm_names:
            q = self.registry.get(name)
            if q is not None:
                q.fn(self.env.spark, self.warm_dir).toPandas()

    def run_pass(self) -> Outcome:
        spark, tr = self.env.spark, self.env.tracer
        ops, plan_s = [], []
        t0 = time.perf_counter()
        for name in self.names:
            op = Op(name)
            q = self.registry.get(name)
            start = time.perf_counter()
            if q is None:
                op.error = f"{name} is not registered"
            else:
                try:
                    with tr.span("query.build", name):
                        df = q.fn(spark, self.sf_dir)
                    with tr.span("query.execute", name):
                        op.result = df.toPandas()
                    if tr.sc is not None:
                        plan_s.append(_plan_seconds(df))
                except Exception:
                    op.error = traceback.format_exc(limit=3)
            op.seconds = time.perf_counter() - start
            ops.append(op)
        wall = time.perf_counter() - t0
        build = tr.durations("query.build")
        execute = tr.durations("query.execute")
        layer = {
            "query.build_total_s": sum(build),
            "query.build_p50_s": _median(build),
            "query.execute_total_s": sum(execute),
            "query.execute_p50_s": _median(execute),
            "query.plan_total_s": sum(plan_s),
            "query_p50_s": _median([o.seconds for o in ops]),
        }
        return Outcome(ops, wall, layer)

    def check(self, out: Outcome, corrupt: bool) -> None:
        """Mark every query whose result differs from its DuckDB oracle."""
        from python_nyc_taxi_data_pipeline_spark.catalog import FIXTURE_TABLES

        ops = out.ops
        con = checks.fixture_connection(self.sf_dir, FIXTURE_TABLES)
        # the smoke test drops a row of the first non-empty result
        nonempty = [op for op in ops if op.error is None and len(op.result)]
        damaged = nonempty[0] if corrupt and nonempty else None

        def check_one(op: Op) -> None:
            oracle = self.registry[op.name].oracle
            if oracle is None:
                op.error = "no DuckDB oracle registered"
                return
            got = op.result.iloc[:-1] if op is damaged else op.result
            cur = con.cursor()
            try:
                problems = checks.compare(got, cur.execute(oracle).df())
            except Exception:  # an oracle that cannot run fails its op, not the run
                problems = [traceback.format_exc(limit=3)]
            finally:
                cur.close()
            if problems:
                op.error = "; ".join(problems)

        # oracles run one per thread: DuckDB releases the GIL while it works
        try:
            with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
                for f in [pool.submit(check_one, op) for op in ops if op.error is None]:
                    f.result()
        finally:
            con.close()


def _plan_seconds(df) -> float:
    """Analysis + optimization + planning time of the DataFrame's own query
    execution, from Catalyst's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            total += phases.apply(phase).durationMs()
    return total / 1e3


def floor_seconds(spark, repeats: int = 5) -> float:
    """``spark.range(1)`` through the same build-and-fetch path: the fixed
    cost of any query on this session."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        spark.range(1).toPandas()
        times.append(time.perf_counter() - t)
    return _median(times)


def _sized(env: Env, sf: float) -> float:
    return 0.001 if env.small else sf


WORKLOADS = {
    "medallion_backfill": lambda env: Medallion(
        env, _sized(env, 0.1), 1 if env.small else 100, months=5, nightly=False
    ),
    "medallion_nightly": lambda env: Medallion(
        env, _sized(env, 0.1), 1 if env.small else 10, months=6, nightly=True
    ),
    "queries_relational": lambda env: Queries(
        env, RELATIONAL, _sized(env, 0.01), warm=["tpch_q1_pricing_summary", "tpch_q6_forecast_revenue"]
    ),
    "queries_llm": lambda env: Queries(
        env,
        LLM,
        _sized(env, 0.01),
        warm=["embeddings_semdedup", "nation_trade_pagerank", "knn_pq_adc", "docs_bpe_encode"],
    ),
}
