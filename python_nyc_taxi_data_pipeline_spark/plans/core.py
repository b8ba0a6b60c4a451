"""Core query plans — the reference's gold views, watermark machinery,
dedup, and upsert semantics, re-expressed on the driver's fixture
tables (see FIXTURES.md §2 for the role mapping).

Reference parity (file:line cites are into /root/reference):
- flagship_supplier_metrics ↔ gold.vendor_metrics
  (`src/sql/gold_aggregate_layer.sql:3-12`): fact LEFT JOIN dim →
  count/sum/avg → sort. The dim side is SF-scaled here, so it carries
  no forced broadcast hint — AQE broadcasts it while it fits the
  threshold, which keeps the fact shuffle-free exactly when that's safe.
- monthly_metrics ↔ gold.monthly_metrics (`gold_aggregate_layer.sql:15-23`).
- segment_metrics ↔ gold.payment_metrics (`gold_aggregate_layer.sql:29-38`).
- watermark_* ↔ bronze.incremental_load
  (`src/sql/bronze_incremental_load.sql:18-24,42-43,58-65`).
- dedup_* ↔ silver window dedup
  (`src/sql/silver_full_refresh_transformation.sql:40-49,72`).
- insert_if_absent ↔ ON CONFLICT DO NOTHING
  (`bronze_incremental_load.sql:61-62`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.scalars import (
    case_decode,
    decimal_avg,
    decimal_sum,
    minutes_into_month,
    month_name,
    month_start,
    text_to_int,
)
from ..registry import register

# Watermark demo constants (orders spans 1995-01-01 .. 2001-08-01).
WM = "1997-06-15 00:00:00"
WIN_START = "1997-06-01 00:00:00"
WIN_END = "1997-07-01 00:00:00"


def _ts(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


# ---------------------------------------------------------------------------
# Gold view analogs (J1/J2 + A1-A3 + O1-O3)
# ---------------------------------------------------------------------------


@register(
    "flagship_supplier_metrics",
    oracle="""
    SELECT s.s_name,
           count(*) AS total_trips,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           round(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l.l_quantity), 2) AS avg_quantity
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY total_revenue DESC
    """,
    tags=("gold", "join", "agg", "sort"),
)
def flagship_supplier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.vendor_metrics analog: fact LEFT JOIN dim → agg → sort.

    supplier is SF-scaled (unlike the reference's 3-row vendor dim), so
    no forced broadcast hint — planner stats/AQE broadcast it while it
    fits and shuffle when it doesn't."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey, "left")
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("total_trips"),
            decimal_sum("l_extendedprice", "total_revenue"),
            decimal_avg("l_quantity", "avg_quantity"),
        )
        .orderBy(F.desc("total_revenue"))
    )


@register(
    "monthly_metrics",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month_start,
           monthname(o_orderdate) AS month,
           count(*) AS total_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice), 2) AS avg_order_value
    FROM orders
    GROUP BY 1, 2
    ORDER BY total_orders DESC
    """,
    tags=("gold", "agg", "date"),
)
def monthly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.monthly_metrics analog: month rollup with English month name."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            month_start("o_orderdate").alias("month_start"),
            month_name("o_orderdate").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            decimal_sum("o_totalprice", "total_value"),
            decimal_avg("o_totalprice", "avg_order_value"),
        )
        .orderBy(F.desc("total_orders"))
    )


@register(
    "segment_metrics",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS total_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(o.o_totalprice), 2) AS avg_order_value
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY total_orders DESC
    """,
    tags=("gold", "join", "agg"),
)
def segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.payment_metrics analog: fact LEFT JOIN dim on differently-named
    keys (`gold_aggregate_layer.sql:35-36`) → agg → sort. customer is
    SF-scaled → no broadcast hint; AQE decides from runtime size."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            decimal_sum("o_totalprice", "total_value"),
            decimal_avg("o_totalprice", "avg_order_value"),
        )
        .orderBy(F.desc("total_orders"))
    )


# ---------------------------------------------------------------------------
# Watermark machinery (P2/P3, A4/A5, I1-I4)
# ---------------------------------------------------------------------------


@register(
    "watermark_in_window",
    oracle=f"""
    SELECT * FROM orders
    WHERE o_orderdate > TIMESTAMP '{WM}'
      AND o_orderdate >= TIMESTAMP '{WIN_START}'
      AND o_orderdate <  TIMESTAMP '{WIN_END}'
    """,
    tags=("filter", "incremental"),
)
def watermark_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — rows newer than the watermark AND inside the month window
    (`bronze_incremental_load.sql:42-43`). Pushed down to the parquet scan."""
    o = load(spark, sf_dir, "orders")
    t = F.col("o_orderdate")
    return o.filter((t > _ts(WM)) & (t >= _ts(WIN_START)) & (t < _ts(WIN_END)))


@register(
    "watermark_out_window",
    oracle=f"""
    SELECT * FROM orders
    WHERE o_orderdate > TIMESTAMP '{WM}'
      AND NOT (o_orderdate >= TIMESTAMP '{WIN_START}'
               AND o_orderdate < TIMESTAMP '{WIN_END}')
    """,
    tags=("filter", "incremental"),
)
def watermark_out_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — complement predicate routing rejects to the dead-letter sink
    (`bronze_incremental_load.sql:58-60`)."""
    o = load(spark, sf_dir, "orders")
    t = F.col("o_orderdate")
    return o.filter(
        (t > _ts(WM)) & ~((t >= _ts(WIN_START)) & (t < _ts(WIN_END)))
    )


@register(
    "watermark_next",
    oracle=f"""
    SELECT coalesce(max(o_orderdate), TIMESTAMP '1995-01-01 00:00:00') AS next_watermark
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{WIN_START}'
      AND o_orderdate <  TIMESTAMP '{WIN_END}'
    """,
    tags=("agg", "incremental"),
)
def watermark_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5+F9 — watermark recompute bounded to the month window, with a
    COALESCE default (`bronze_incremental_load.sql:18-20,64-65`)."""
    o = load(spark, sf_dir, "orders")
    t = F.col("o_orderdate")
    return (
        o.filter((t >= _ts(WIN_START)) & (t < _ts(WIN_END)))
        .agg(
            F.coalesce(
                F.max("o_orderdate"), _ts("1995-01-01 00:00:00")
            ).alias("next_watermark")
        )
    )


# ---------------------------------------------------------------------------
# Dedup (W1/P4) and upsert (U1/J4)
# ---------------------------------------------------------------------------

_LI_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus l_shipdate"
).split()


@register(
    "dedup_row_number",
    oracle=f"""
    SELECT {', '.join(_LI_COLS)} FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {', '.join(_LI_COLS)} ORDER BY l_shipdate
      ) AS row_dedup
      FROM lineitem
    ) t WHERE row_dedup = 1
    """,
    tags=("window", "dedup"),
)
def dedup_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P4+O4 — ROW_NUMBER over all columns, keep first
    (`silver_full_refresh_transformation.sql:40-49,72`).

    Scale note: this literal form shuffles+sorts on a 19-column key; the
    production path is ``operators.dedup.dedup_exact`` (hash-key
    dropDuplicates). Both are registered so the oracle pins both.
    """
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy(*_LI_COLS).orderBy("l_shipdate")
    return (
        li.withColumn("row_dedup", F.row_number().over(w))
        .filter(F.col("row_dedup") == 1)
        .drop("row_dedup")
    )


@register(
    "dedup_exact",
    oracle="SELECT DISTINCT * FROM lineitem",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, scale path: dropDuplicates (hash aggregate — no
    wide sort). Semantically identical to W1 because the reference
    partitions by every column (SURVEY §2.5)."""
    return load(spark, sf_dir, "lineitem").dropDuplicates()


@register(
    "insert_if_absent",
    oracle="""
    SELECT i.* FROM orders i
    WHERE i.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND NOT EXISTS (
        SELECT 1 FROM orders e
        WHERE e.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND e.o_orderkey = i.o_orderkey
      )
    """,
    tags=("join", "upsert"),
)
def insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/J4 — ON CONFLICT DO NOTHING as a left_anti join: incoming batch
    (1997+) minus rows whose key already exists in the target (<1998)
    (`bronze_incremental_load.sql:61-62`)."""
    o = load(spark, sf_dir, "orders")
    incoming = o.filter(F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
    existing = o.filter(F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    return incoming.join(existing, "o_orderkey", "left_anti")


# ---------------------------------------------------------------------------
# Dim derivation (A7+F1) and scalar-function showcase (F5-F7)
# ---------------------------------------------------------------------------


@register(
    "dim_decode_case",
    oracle="""
    SELECT DISTINCT o_orderpriority,
      CASE WHEN o_orderpriority = '1-URGENT' THEN 'Urgent'
           WHEN o_orderpriority = '2-HIGH' THEN 'High'
           WHEN o_orderpriority = '3-MEDIUM' THEN 'Medium'
           WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'Not Specified'
      END AS priority_class
    FROM orders
    """,
    tags=("distinct", "case"),
)
def dim_decode_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+F1 — SELECT DISTINCT dim derivation + CASE id→name decode with
    NULL for unmatched ids (`silver_full_refresh_transformation.sql:4-10`)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "priority_class",
            case_decode(
                "o_orderpriority",
                {
                    "1-URGENT": "Urgent",
                    "2-HIGH": "High",
                    "3-MEDIUM": "Medium",
                    "4-NOT SPECIFIED": "Not Specified",
                },
            ),
        )
    )


@register(
    "scalar_functions",
    oracle="""
    SELECT event_id,
      CAST((day(ts)-1)*1440 + hour(ts)*60 + minute(ts) AS INT) AS minutes_into_month,
      CAST(FLOOR(CAST(CAST(user_id AS VARCHAR) || '.0' AS DOUBLE)) AS INT) AS user_id_int,
      CAST(regexp_extract(props, '[0-9]+') AS INT) AS k_value
    FROM events
    """,
    tags=("scalar",),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6/F7 — duration-minutes arithmetic, text→numeric→int cast chain
    ("1.0"-tolerant), and regex extraction, all JVM-side."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        minutes_into_month("ts").alias("minutes_into_month"),
        text_to_int(F.concat(F.col("user_id").cast("string"), F.lit(".0"))).alias(
            "user_id_int"
        ),
        F.regexp_extract("props", "[0-9]+", 0).cast("int").alias("k_value"),
    )


@register(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
           json_extract_string(props, '$.missing') AS missing_value
    FROM events
    """,
    tags=("scalar", "json"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (semi-structured
    handling beyond the reference's flat schema). Missing paths → NULL
    in both engines."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.get_json_object("props", "$.missing").alias("missing_value"),
    )


@register(
    "string_functions",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 12)) AS head_upper,
           trim(substr(text, 1, 12)) AS head_trim,
           replace(substr(text, 1, 40), ' ', '_') AS head_snake,
           length(text) AS text_len,
           CAST(strpos(text, 'data') AS INT) AS first_data_pos,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           substr(text, 1, 5) || '…' || CAST(n_chars AS VARCHAR) AS concat_demo
    FROM documents
    """,
    tags=("scalar", "string"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (upper/trim/replace/length/locate/lpad/
    concat) — SURVEY §2.8 marks these absent in the reference; all
    JVM-side codegen."""
    d = load(spark, sf_dir, "documents")
    head12 = F.substring("text", 1, 12)
    return d.select(
        "doc_id",
        F.upper(head12).alias("head_upper"),
        F.trim(head12).alias("head_trim"),
        F.replace(F.substring("text", 1, 40), F.lit(" "), F.lit("_")).alias(
            "head_snake"
        ),
        F.length("text").cast("long").alias("text_len"),
        F.locate("data", F.col("text")).cast("int").alias("first_data_pos"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.concat(
            F.substring("text", 1, 5), F.lit("…"), F.col("n_chars").cast("string")
        ).alias("concat_demo"),
    )


@register(
    "top_k_customers",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def top_k_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O3 + LIMIT — global top-k. Spark plans TakeOrderedAndProject:
    per-partition top-k then a k-row merge on the driver — no global sort
    at 100 TB. Tie-broken on the key for determinism."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(10)
    )
