"""The engine's fixture tables, regenerated from their seed and written as parquet.

The engine's queries read ten TPC-H-shaped tables (``catalog.FIXTURE_TABLES``)
from a directory of ``<name>.parquet`` files. The fixtures the engine was
tested and tuned on (FIXTURES.md, TESTDATA.md: seed 42, sf0.001 / sf0.01 /
sf0.1) are not part of the checkout, so this module regenerates them: the
same random draws, in the same order, from the same seed. At sf0.001, sf0.01
and sf0.1 every table equals the fixture value for value (the table and column
order, row count and every cell), including the structure the curation
queries work on: 5% of the documents are a copy of another document with the
word ``dup`` appended, and the embeddings are random unit vectors, as in the
fixtures. ``compare_fixtures.py`` checks this against a fixture directory.

The workload seed only chooses what is done with these tables (late and
early rows, query order); it never changes them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)  # fmt: skip

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
EMB_DIM = 64


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tables(sf: float):
    """Yield ``(name, table)`` for every fixture table at scale ``sf``, in
    ``TABLES`` order (the order the draws are made in)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    yield "region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    yield "nation", pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    yield "customer", pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    yield "supplier", pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    yield "part", pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": adj + " " + noun,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    yield "orders", pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    yield "lineitem", pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4)),
        }
    )
    # seconds into a 30-day month, taken to nanoseconds and truncated to micros
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_events))
    ev_ns = np.datetime64("2024-01-01T00:00:00", "ns") + (ev_s * 1e9).astype(np.int64)
    yield "events", pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ns.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))]) for _ in range(n_docs)]
    # 5% near-duplicates: another document's text plus one word
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for dst, src in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[dst] = texts[src] + " dup"
    yield "documents", pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )


def write(sf: float, sf_dir: str, names=TABLES) -> None:
    """Write the fixture tables ``names`` for scale ``sf`` into ``sf_dir``.
    Tables are drawn in ``TABLES`` order, so only those up to the last one
    asked for are generated."""
    os.makedirs(sf_dir, exist_ok=True)
    left = set(names)
    for name, tbl in tables(sf):
        if name in left:
            pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
            left.discard(name)
        if not left:
            return


def cached(sf: float, cache_root: str, names=TABLES) -> str:
    """The directory holding the tables ``names`` at scale ``sf`` under
    ``cache_root``, generating it first if it is not there yet. The
    directory's name carries a hash of this file, so a change to the
    generator never reads tables an older one wrote; it is filled in a
    temporary directory and renamed into place, so it is complete or absent."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    want = sorted(names, key=TABLES.index)
    which = "all" if len(want) == len(TABLES) else "-".join(want)
    path = os.path.join(cache_root, f"fixtures-{version}-sf{sf}-{which}")
    if os.path.isdir(path):
        return path
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="fixtures-tmp-", dir=cache_root)
    try:
        write(sf, tmp, want)
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
