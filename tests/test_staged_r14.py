"""Tests for the queries in llm/staged_r14.py.

Referees: a license-propagation replay from the registered cluster
map with conservation laws, and replays or law batteries for the
tokenizer, cross-modal, session, join and graph contracts."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r14
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


# --------------------------------------------------------------------
# Fleet-wide gates
# --------------------------------------------------------------------


def test_r14_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r14,
        (
            "docs_bpe_vocab_size_curve",
            "docs_image_text_alignment_contract",
            "docs_license_propagation_contract",
            "docs_simhash_bit_bias",
            "events_session_survival_curve",
            "lineitem_salted_join_contract",
            "nation_trade_reciprocity",
            "orders_temporal_dim_join",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r14, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r14, parity)


# --------------------------------------------------------------------
# License propagation — replay from the registered cluster map
# --------------------------------------------------------------------


def test_license_propagation_replay_and_conservation(spark):
    from python_nyc_taxi_data_pipeline_spark.registry import all_queries

    got = (
        QUERIES["docs_license_propagation_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("license_class")
    )
    clusters = (
        all_queries()["docs_dup_clusters"].fn(spark, SF_DIR).toPandas()
    )
    docs = _pd("documents")[["doc_id", "source"]]
    m = clusters.merge(docs, on="doc_id")
    m["own_rank"] = m["source"].str[3:].astype(int) % 3
    prop = m.groupby("cluster_rep")["own_rank"].agg(["max", "size"])
    kept = m[m["doc_id"] == m["cluster_rep"]].merge(
        prop, left_on="cluster_rep", right_index=True
    )
    names = {0: "permissive", 1: "attribution", 2: "restricted"}
    for rank, cls in names.items():
        sub = kept[kept["max"] == rank]
        if len(sub) == 0:
            assert cls not in got.index
            continue
        row = got.loc[cls]
        assert row["n_docs_kept"] == len(sub)
        assert row["n_escalated"] == int(
            (sub["max"] > sub["own_rank"]).sum()
        )
        assert row["n_members_absorbed"] == int((sub["size"] - 1).sum())
    # conservation: kept docs == total docs - absorbed members
    assert got["n_docs_kept"].sum() + got["n_members_absorbed"].sum() == len(
        docs
    )
    # escalations can only exist where something was absorbed
    assert (
        got.loc[got["n_members_absorbed"] == 0, "n_escalated"] == 0
    ).all()


# --------------------------------------------------------------------
# BPE vocab curve — monotone laws + prefix-consistency with merges
# --------------------------------------------------------------------


def test_bpe_vocab_curve_laws(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        BVC_BUDGETS,
    )

    got = (
        QUERIES["docs_bpe_vocab_size_curve"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("n_merges_budget", ignore_index=True)
    )
    assert list(got["n_merges_budget"]) == list(BVC_BUDGETS)
    # the word universe never changes; only segmentation does
    assert got["n_distinct_words"].nunique() == 1
    assert got["corpus_words"].nunique() == 1
    # every merge can only shrink the token count
    assert got["corpus_tokens"].is_monotonic_decreasing
    assert got["fertility_micro"].is_monotonic_decreasing
    # m=0 baseline: tokens = chars + one EOW marker per word
    docs = _pd("documents")
    words = docs["text"].str.split(" ").explode()
    base_tokens = int(words.str.len().sum() + len(words))
    assert got.iloc[0]["corpus_tokens"] == base_tokens
    # each merge round with pair_count c removes exactly c tokens
    from python_nyc_taxi_data_pipeline_spark.llm.bpe import bpe_train

    merges, _, _ = bpe_train(spark, SF_DIR, n_merges=int(got["n_merges_budget"].max()))
    counts = {m: c for (m, _, _, c) in merges}
    for lo, hi in zip(
        got.itertuples(), got.iloc[1:].itertuples()
    ):
        removed = sum(
            counts[r]
            for r in range(lo.n_merges_budget + 1, hi.n_merges_budget + 1)
        )
        assert lo.corpus_tokens - hi.corpus_tokens == removed


# --------------------------------------------------------------------
# Image-text alignment — numpy replay of both feature stubs
# --------------------------------------------------------------------


def test_alignment_numpy_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        ITA_BUCKET,
        ITA_N_DOCS,
    )

    got = (
        QUERIES["docs_image_text_alignment_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("bucket")
        .sort_index()
    )
    docs = _pd("documents")
    block = docs[docs["doc_id"] < ITA_N_DOCS].sort_values("doc_id")
    xs = np.arange(16)
    tvs, ivs, ids = [], [], []
    for _, r in block.iterrows():
        j = int(r["doc_id"])
        tv = np.zeros(16, dtype=np.int64)
        for w in r["text"].split(" "):
            tv[(len(w) * 7 + ord(w[0])) % 16] += 1
        grid = (j * 131 + xs[None, :] * 7 + xs[:, None] * 13) % 256
        iv = grid.reshape(4, 4, 4, 4).sum(axis=(1, 3)).reshape(16)
        tvs.append(tv)
        ivs.append(iv)
        ids.append(j)
    T, I = np.stack(tvs), np.stack(ivs)
    ids = np.array(ids)
    S = T @ I.T  # text x image integer scores
    buckets: dict[int, list] = {}
    for qi in range(len(ids)):
        order = np.lexsort((ids, -S[qi]))
        top = order[0]
        buckets.setdefault(int(ids[qi]) // ITA_BUCKET, []).append(
            (int(ids[top] == ids[qi]), int(S[qi, top]))
        )
    for b, rows in buckets.items():
        row = got.loc[b]
        assert row["n_texts"] == len(rows)
        assert row["n_top1_self"] == sum(h for h, _ in rows)
        assert row["sum_top1_score"] == sum(s for _, s in rows)


# --------------------------------------------------------------------
# Session survival — replay + anchor laws
# --------------------------------------------------------------------


def test_session_survival_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        SSC_GAP_S,
        SSC_THRESH_S,
    )

    got = (
        QUERIES["events_session_survival_curve"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("threshold_s", ignore_index=True)
    )
    assert list(got["threshold_s"]) == list(SSC_THRESH_S)
    # threshold 0 anchors at survival == 1
    assert got.iloc[0]["survival_micro"] == 1_000_000
    assert got["n_sessions"].nunique() == 1
    assert got["n_surviving"].is_monotonic_decreasing
    # pandas replay of sessionization + durations
    ev = _pd("events")
    ev["ts_us"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    ev = ev.sort_values(["user_id", "ts_us", "event_id"])
    gap = ev.groupby("user_id")["ts_us"].diff()
    ev["new_sess"] = (gap.isna() | (gap > SSC_GAP_S * 1_000_000)).astype(int)
    ev["sess_id"] = ev.groupby("user_id")["new_sess"].cumsum()
    dur = ev.groupby(["user_id", "sess_id"])["ts_us"].agg(["min", "max"])
    dur_us = (dur["max"] - dur["min"]).to_numpy()
    for t in SSC_THRESH_S:
        row = got[got["threshold_s"] == t].iloc[0]
        assert row["n_sessions"] == len(dur_us)
        assert row["n_surviving"] == int((dur_us >= t * 1_000_000).sum()), t


# --------------------------------------------------------------------
# Salted join — equivalence with the plain join + salt-space law
# --------------------------------------------------------------------


def test_salted_join_equals_plain(spark):
    from pyspark.sql import functions as F

    from python_nyc_taxi_data_pipeline_spark.catalog import load

    got = (
        QUERIES["lineitem_salted_join_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index(["l_returnflag", "supplier_nation"])
        .sort_index()
    )
    li = load(spark, SF_DIR, "lineitem")
    s = load(spark, SF_DIR, "supplier")
    n = load(spark, SF_DIR, "nation")
    plain = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_returnflag", F.col("n_name").alias("supplier_nation"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .toPandas()
        .set_index(["l_returnflag", "supplier_nation"])
        .sort_index()
    )
    assert (got["n_rows"] == plain["n_rows"]).all()
    assert (got["sum_qty"] == plain["sum_qty"]).all()
    # total row conservation: nothing dropped, nothing duplicated
    assert got["n_rows"].sum() == li.count()


# --------------------------------------------------------------------
# Temporal dim join — boundary convention + conservation
# --------------------------------------------------------------------


def test_temporal_join_partitions_orders_exactly(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        TDJ_EPOCHS,
    )

    got = (
        QUERIES["orders_temporal_dim_join"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("valid_from", ignore_index=True)
    )
    orders = _pd("orders")
    # every order lands in exactly one epoch
    assert got["n_orders"].sum() == len(orders)
    assert len(got) == len(TDJ_EPOCHS)
    # boundary convention: an order ON a version boundary joins the
    # NEWER version (half-open [from, to))
    od = pd.to_datetime(orders["o_orderdate"])
    for (a, b, tariff), row in zip(TDJ_EPOCHS, got.itertuples()):
        n = int(((od >= a) & (od < b)).sum())
        assert row.n_orders == n, a
        assert row.tariff == tariff
        assert (
            row.tariffed_cents
            == row.sum_price_cents * tariff // 10000
        )


# --------------------------------------------------------------------
# Trade reciprocity — symmetry laws + pandas replay
# --------------------------------------------------------------------


def test_reciprocity_laws_and_replay(spark):
    got = (
        QUERIES["nation_trade_reciprocity"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("nation")
        .sort_index()
    )
    assert (got["reciprocity_micro"] <= 1_000_000).all()
    assert (got["n_reciprocated"] <= got["n_out_edges"]).all()
    assert (got["w_balanced_e4"] <= got["w_out_e4"]).all()
    # global symmetry: sum of balanced flow is symmetric by
    # construction, so the balanced total is even in min-pair terms —
    # replay the whole frame from the raw tables instead
    li = _pd("lineitem")
    s = _pd("supplier").set_index("s_suppkey")["s_nationkey"]
    o = _pd("orders").set_index("o_orderkey")["o_custkey"]
    c = _pd("customer").set_index("c_custkey")["c_nationkey"]
    n = _pd("nation").set_index("n_nationkey")["n_name"]
    li["src"] = li["l_suppkey"].map(s)
    li["dst"] = li["l_orderkey"].map(o).map(c)
    li = li[li["src"] != li["dst"]]
    import decimal

    li["rev"] = [
        (
            decimal.Decimal(str(p)) * (1 - decimal.Decimal(str(d)))
        ).quantize(decimal.Decimal("0.0001"))
        for p, d in zip(li["l_extendedprice"], li["l_discount"])
    ]
    w = (
        li.groupby(["src", "dst"])["rev"]
        .sum()
        .map(lambda x: int(x * 10000))
    )
    rows = {}
    for (src, dst), we in w.items():
        wr = int(w.get((dst, src), 0))
        r = rows.setdefault(src, [0, 0, 0, 0])
        r[0] += 1
        r[1] += 1 if wr > 0 else 0
        r[2] += we
        r[3] += min(we, wr)
    for src, (ne, nr, wo, wb) in rows.items():
        row = got.loc[n[src]]
        assert row["n_out_edges"] == ne
        assert row["n_reciprocated"] == nr
        assert row["w_out_e4"] == wo, n[src]
        assert row["w_balanced_e4"] == wb
        assert (
            row["reciprocity_micro"]
            == (wb // 10000) * 1_000_000 // max(wo // 10000, 1)
        )


# --------------------------------------------------------------------
# SimHash bit bias (round-11 growth) — pure-python vote replay + laws
# --------------------------------------------------------------------


def test_simhash_bit_bias_python_replay(spark):
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        SIMHASH_BIAS_BITS,
    )

    got = (
        QUERIES["docs_simhash_bit_bias"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("bit")
        .sort_index()
    )
    docs = _pd("documents")
    n_set = [0] * SIMHASH_BIAS_BITS
    n_docs = 0
    for text in docs["text"]:
        words = {w for w in str(text).split(" ") if w != ""}
        if not words:
            continue
        n_docs += 1
        votes = [0] * SIMHASH_BIAS_BITS
        for w in words:
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(SIMHASH_BIAS_BITS):
                votes[b] += 1 if (h >> b) & 1 == 1 else -1
        for b in range(SIMHASH_BIAS_BITS):
            if votes[b] > 0:
                n_set[b] += 1
    assert len(got) == SIMHASH_BIAS_BITS
    assert (got["n_docs"] == n_docs).all()
    for b in range(SIMHASH_BIAS_BITS):
        assert got.loc[b, "n_set"] == n_set[b], b
        ppm = n_set[b] * 1_000_000 // n_docs
        assert got.loc[b, "set_ppm"] == ppm
        assert got.loc[b, "dev_ppm"] == ppm - 500_000
    # law: ppm bounded. (No unbiasedness bound on the FIXTURE — a
    # ~50-doc corpus with shared boilerplate is legitimately skewed;
    # that is exactly what the screen reports. The hash-mix law is
    # pinned below on a large synthetic vocabulary instead.)
    assert got["set_ppm"].between(0, 1_000_000).all()


def test_md5_hash_mix_is_unbiased_on_large_vocab():
    """The underlying law the screen relies on: over a large set of
    DISTINCT tokens, every md5-derived bit lane is close to fair —
    so a biased lane on a real corpus indicts the corpus (or a vote
    bug), never the hash mix."""
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r14 import (
        SIMHASH_BIAS_BITS,
    )

    n = 4096
    counts = [0] * SIMHASH_BIAS_BITS
    for i in range(n):
        h = int(
            hashlib.md5(f"token-{i}".encode()).hexdigest()[:15], 16
        )
        for b in range(SIMHASH_BIAS_BITS):
            counts[b] += (h >> b) & 1
    for b, c in enumerate(counts):
        # 4096 Bernoulli(1/2) draws: |c/n - 0.5| < 5 sd ≈ 0.039
        assert abs(c / n - 0.5) < 0.04, (b, c)
