"""Medallion (bronze/silver/gold/meta) pipeline driver.

Re-expresses the reference's PL/pgSQL procedure
(`/root/reference/src/sql/bronze_incremental_load.sql:1-81`) and
orchestrator (`src/etl_pipeline_run.py:9-24`) as parquet tables + pure
DataFrame ops. Schema-agnostic: the taxi instantiation lives in
``pipeline.taxi``; tests drive an orders-shaped instantiation.

Semantics parity notes:
- Watermark freshness filter is strictly `>` (re-runs pass nothing).
- Out-of-window fresh rows dead-letter into ``meta/invalid_records``
  with an anti-join on the configured key (ON CONFLICT DO NOTHING,
  `bronze_incremental_load.sql:61-62`).
- Watermark recomputes FROM THE TARGET bounded to the window
  (`:64-65`) — a crash between data write and metadata write re-reads
  the same max, so re-processing is safe (SURVEY §3.4).
- One metadata row per run with status/runtime/error
  (`:70-78`); failures append a 'failed' row and re-raise.

Deliberate divergence (documented): the reference derives the month
window from the *current* watermark's month
(`bronze_incremental_load.sql:22-24`), which routes every month after
the first into the dead-letter table — its own runtime logs are
consistent with this (bronze.incremental_load run times grow with the
ON CONFLICT probe against an ever-growing invalid_records). Our
``ingest_batch`` accepts the explicit month window from the
orchestrator (which always knows which month it is loading — the
reference's Python driver does too, `src/etl_pipeline_run.py:19-20`)
and defaults to the reference behavior when none is given.

Scale notes: bronze appends are parquet file adds (no rewrite); the
dead-letter anti-join reads only the key columns of the invalid table;
the watermark recompute is a partition-pruned max (bronze is laid out
by month).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.upsert import insert_if_absent
from ..operators.watermark import (
    MonthWindow,
    month_window_of,
    next_watermark,
    read_watermark,
    split_by_watermark,
)

META_SCHEMA = T.StructType(
    [
        T.StructField("last_load_date", T.TimestampNTZType()),
        T.StructField("status", T.StringType()),
        T.StructField("runtime_seconds", T.DoubleType()),
        T.StructField("error_message", T.StringType()),
    ]
)


@dataclass(frozen=True)
class MedallionConfig:
    warehouse: str
    ts_col: str
    dead_letter_keys: tuple[str, ...]
    default_watermark: datetime
    partition_col: str = "load_month"  # derived yyyy-MM partition column
    # AQE advisory partition size applied around the bronze/silver
    # writes (REBALANCE hint sizing). The "4m" default keeps a MB-scale
    # month batch spread over several encode tasks instead of one
    # straggler (measured 0.93 s -> 0.56 s per batch write at sf0.1);
    # production should set 256m-512m so post-compression parquet
    # files land in the 128 MB - 1 GB range the I/O guide targets.
    write_advisory: str = "4m"


@dataclass(frozen=True)
class IngestResult:
    loaded: int
    dead_lettered: int
    watermark: datetime
    runtime_seconds: float


class MedallionPipeline:
    def __init__(self, spark: SparkSession, config: MedallionConfig):
        self.spark = spark
        self.cfg = config
        w = config.warehouse
        self.bronze_path = os.path.join(w, "bronze")
        self.invalid_path = os.path.join(w, "meta", "invalid_records")
        self.meta_path = os.path.join(w, "meta", "runs")
        self.silver_path = os.path.join(w, "silver")
        self.gold_path = os.path.join(w, "gold")

    @staticmethod
    def _local(path: str) -> bool:
        """True when driver-side pyarrow/footer shortcuts may be used
        for ``path``: a plain local path. Any ``scheme://`` path
        (``file://`` included) takes the distributed Spark paths a
        cluster warehouse (s3://, hdfs://) runs."""
        return "://" not in path

    # -- table access -----------------------------------------------------

    # Class-level guard enforcing the single-threaded invariant the
    # docstring below relies on: the session conf is GLOBAL, so a
    # concurrent query planned inside the scope would silently inherit
    # the write advisory. Non-blocking acquire → loud failure instead
    # of silent mis-planning (r11 ADVICE item).
    _advisory_lock = __import__("threading").Lock()

    def _advisory_scope(self):
        """Context manager: temporarily set the AQE advisory partition
        size for a REBALANCE-hinted write, restoring the session value
        after. The medallion writer is single-threaded (the reference's
        orchestrator is a sequential month loop); ``_advisory_lock``
        turns a violation of that assumption into an immediate error
        rather than a silently mis-planned concurrent query."""
        import contextlib

        @contextlib.contextmanager
        def scope():
            key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            advisory = self.cfg.write_advisory
            if not MedallionPipeline._advisory_lock.acquire(blocking=False):
                raise RuntimeError(
                    "_advisory_scope is not reentrant/concurrent: another "
                    "write holds the session-global AQE advisory override"
                )
            # Everything after the acquire sits inside the try whose
            # finally releases the lock: a failing conf.set must not
            # leave every later write locked out.
            try:
                try:
                    old = self.spark.conf.get(key)
                except Exception:
                    old = None
                self.spark.conf.set(key, advisory)
                try:
                    yield
                finally:
                    if old is None:
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, old)
            finally:
                MedallionPipeline._advisory_lock.release()

        return scope()

    def _read_or_none(self, path: str) -> DataFrame | None:
        """The table at ``path``, or None when it does not exist yet.
        Only "absent" maps to None: a missing path, or a directory with
        no data files (an empty partitioned write leaves just
        ``_SUCCESS``). Every other read failure (a corrupt file, a
        permission or network error) propagates, so it can never pass
        for an empty table and reset the watermark."""
        # Local-path existence check first: avoids Spark logging a noisy
        # FileNotFound stacktrace for the expected first-run case.
        if self._local(path) and not os.path.exists(path):
            return None
        try:
            return self.spark.read.parquet(path)
        except AnalysisException as exc:
            if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return None
            raise

    def bronze(self) -> DataFrame | None:
        return self._read_or_none(self.bronze_path)

    def invalid_records(self) -> DataFrame | None:
        return self._read_or_none(self.invalid_path)

    def meta(self) -> DataFrame | None:
        return self._read_or_none(self.meta_path)

    def current_watermark(self) -> datetime:
        # The runs table is one tiny row per run and lives on the
        # driver's critical path (read before EVERY batch, written
        # after) — going through a Spark job for it costs ~0.5 s per
        # batch in fixed scheduling overhead. On a local filesystem,
        # read it with pyarrow directly; the parquet layout is
        # unchanged, so `meta()` (Spark) still reads the same table.
        if self._local(self.meta_path) and os.path.exists(self.meta_path):
            import pyarrow.dataset as ds

            tbl = ds.dataset(self.meta_path, format="parquet").to_table(
                columns=["last_load_date", "status"]
            )
            best = None
            for wm, status in zip(
                tbl.column("last_load_date").to_pylist(),
                tbl.column("status").to_pylist(),
            ):
                if status == "success" and wm is not None:
                    best = wm if best is None else max(best, wm)
            return best or self.cfg.default_watermark
        return read_watermark(self.meta(), self.cfg.default_watermark)

    # -- bronze incremental load (I1-I5) ----------------------------------

    def ingest_batch(
        self, batch: DataFrame, window: MonthWindow | None = None
    ) -> IngestResult:
        """One bronze incremental load (the stored procedure's body)."""
        t0 = time.perf_counter()
        wm = self.current_watermark()
        win = window or month_window_of(wm)
        try:
            in_win, out_win = split_by_watermark(batch, self.cfg.ts_col, wm, win)

            # bronze append, partitioned by load month for pruning (S6).
            # Row counts come from Observation metrics attached to the
            # write job itself — one pass per sink instead of the old
            # cache()+count()+write() double action (2 jobs saved per
            # batch; at scale this also removes the cache memory
            # pressure of a full batch).
            from pyspark.sql import Observation

            in_win = in_win.withColumn(
                self.cfg.partition_col,
                F.date_format(F.col(self.cfg.ts_col), "yyyy-MM"),
            )
            obs_in = Observation()
            # REBALANCE on the partition column before the partitioned
            # write: AQE sizes the shuffle output (splitting skewed
            # months, merging slivers), so each month partition lands
            # as a few advisory-sized files instead of one tiny file
            # per scan task — the standard small-files guard for
            # partitioned sinks. The r10 form (repartition(col)) hashed
            # a single-month batch into ONE reducer, serializing the
            # parquet encode (measured 0.93 s/batch at sf0.1 vs 0.56 s
            # rebalanced); REBALANCE keeps the guard and the
            # parallelism at any batch/cluster size.
            with self._advisory_scope():
                (
                    in_win.hint("rebalance", F.col(self.cfg.partition_col))
                    .observe(obs_in, F.count(F.lit(1)).alias("n"))
                    .write.mode("append")
                    .partitionBy(self.cfg.partition_col)
                    .parquet(self.bronze_path)
                )
            loaded = int(obs_in.get["n"])

            # dead-letter with cross-run key dedup (U1/S8).
            existing_invalid = self.invalid_records()
            novel = (
                insert_if_absent(
                    out_win, existing_invalid, self.cfg.dead_letter_keys
                )
                if existing_invalid is not None
                else out_win.dropDuplicates(list(self.cfg.dead_letter_keys))
            )
            obs_dead = Observation()
            novel.observe(obs_dead, F.count(F.lit(1)).alias("n")).write.mode(
                "append"
            ).parquet(self.invalid_path)
            dead = int(obs_dead.get["n"])

            # watermark recompute FROM THE TARGET, bounded to the window (I4).
            # The month window maps 1:1 onto the load_month partition, so
            # only the affected month's files matter even when bronze holds
            # years of data. On a local filesystem the exact max(ts) comes
            # straight from the partition's parquet FOOTER STATS (driver-
            # side, no Spark job — still "from the target": the stats
            # describe the committed files, including prior runs of the
            # same month). The footer stats span the WHOLE month partition,
            # so this fast path applies only when the window IS the
            # calendar month; a caller-supplied narrower window would
            # over-advance the watermark past win.end and silently skip
            # rows in (win.end, month_max] on later loads. Narrower
            # windows and remote paths use the window-bounded Spark
            # aggregate.
            if self._local(self.bronze_path) and win == month_window_of(win.start):
                new_wm = self._month_max_from_footers(win) or wm
            else:
                bronze_df = self.bronze()
                if (
                    bronze_df is not None
                    and self.cfg.partition_col in bronze_df.columns
                ):
                    bronze_df = bronze_df.filter(
                        F.col(self.cfg.partition_col)
                        == win.start.strftime("%Y-%m")
                    )
                new_wm = (
                    next_watermark(bronze_df, self.cfg.ts_col, win, wm)
                    if bronze_df is not None
                    else wm
                )
            runtime = time.perf_counter() - t0
            self._append_meta(new_wm, "success", runtime, None)
            return IngestResult(loaded, dead, new_wm, runtime)
        except Exception as exc:  # I5 failure path: log 'failed', re-raise
            runtime = time.perf_counter() - t0
            self._append_meta(wm, "failed", runtime, str(exc)[:1000])
            raise

    def _month_max_from_footers(self, win: MonthWindow) -> datetime | None:
        """Exact max(ts_col) of one month partition from parquet
        row-group statistics — no Spark job, no data read. Returns None
        when the partition has no files (nothing loaded for the month
        yet), which callers treat as "watermark unchanged"."""
        part_dir = os.path.join(
            self.bronze_path,
            f"{self.cfg.partition_col}={win.start.strftime('%Y-%m')}",
        )
        if not os.path.isdir(part_dir):
            return None
        import pyarrow.parquet as pq

        best: datetime | None = None
        for name in os.listdir(part_dir):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(part_dir, name)).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == self.cfg.ts_col and c.statistics:
                        mx = c.statistics.max
                        if mx is not None:
                            best = mx if best is None else max(best, mx)
        return best

    def _append_meta(
        self,
        wm: datetime | None,
        status: str,
        runtime: float,
        error: str | None,
    ) -> None:
        if self._local(self.meta_path):
            # driver-side metadata append: one pyarrow file write, no
            # Spark job (see current_watermark)
            import uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            os.makedirs(self.meta_path, exist_ok=True)
            tbl = pa.table(
                {
                    "last_load_date": pa.array([wm], pa.timestamp("us")),
                    "status": pa.array([status], pa.string()),
                    "runtime_seconds": pa.array([float(runtime)], pa.float64()),
                    "error_message": pa.array([error], pa.string()),
                }
            )
            pq.write_table(
                tbl, os.path.join(self.meta_path, f"run-{uuid.uuid4().hex}.parquet")
            )
            return
        row = [(wm, status, float(runtime), error)]
        (
            self.spark.createDataFrame(row, META_SCHEMA)
            .write.mode("append")
            .parquet(self.meta_path)
        )

    # -- silver / gold ----------------------------------------------------

    def silver_refresh(
        self,
        transform,
        partition_col: str | None = None,
        name: str = "fact",
    ) -> int:
        """Full-refresh snapshot: bronze → transform → overwrite silver
        (`silver_full_refresh_transformation.sql:34-72`; truncate+insert
        per README:191 → ``mode("overwrite")``)."""
        bronze_df = self.bronze()
        if bronze_df is None:
            return 0
        from pyspark.sql import Observation

        out = transform(bronze_df)
        # (r11 note: a REBALANCE-hinted write was measured here and
        # REGRESSED silver 2.2 s -> 4.1 s at sf0.1 — the extra full
        # shuffle of the deduped fact costs more than parallel encode
        # saves; the transform's own shuffle output already feeds the
        # writer directly. Left as-is deliberately.)
        # row count from the write's own Observation metric — no second
        # scan of the just-written table
        obs = Observation()
        writer = out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        )
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(os.path.join(self.silver_path, name))
        return int(obs.get["n"])

    def read_silver(self, name: str = "fact") -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.silver_path, name))

    # -- lifecycle ---------------------------------------------------------

    def destroy(self) -> None:
        """X6 — destructive environment reset (the reference's
        DROP DATABASE ... WITH (FORCE) + recreate,
        `src/utils/database_connection.py:45-73`, `db_setup.py:59-60`):
        removes the whole warehouse tree through the Hadoop FileSystem
        of its path, so local, ``file://`` and remote warehouses take
        the same code path."""
        jvm = self.spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.cfg.warehouse)
        fs = path.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        fs.delete(path, True)
