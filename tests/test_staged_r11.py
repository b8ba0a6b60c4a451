"""Tests for the queries in llm/staged_r11.py. Oracle parity is
checked registry-wide (tests/test_parity.py); these are independent
referees: pure-Python replays of
the short-frame and audio-window geometry, the distillation labels
recomputed from the cascade's own output, the stream↔batch parity
totals checked against the registered one-shot LSH pair set, a
constructed-loop fixture for the repetition profile, novelty laws on
a duplicate-doc fixture, IVF recall-curve laws (monotone, saturating
at full probe count), and the salted distinct contract vs the direct
single-stage aggregate."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r11
from python_nyc_taxi_data_pipeline_spark.llm.staged_r11 import (
    AUDIO_HOP,
    AUDIO_N_DOCS,
    AUDIO_WIN,
    IVF_RC_K,
    IVF_RC_N_CENTROIDS,
    IVF_RC_NPROBES,
    N_STREAM_BATCHES,
    SALT_BUCKETS,
    SFC_EVERY_NTH,
    SFC_FRAME_BYTES,
    SFC_N_DOCS,
    TCL_BUCKET_MICRO,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


# --------------------------------------------------------------------
# Module-wide gates (parity and plans share the session's builds)
# --------------------------------------------------------------------


def test_r11_batch_matches_staged():
    gates.assert_registers_exactly(
        staged_r11,
        (
            "customer_t_closeness",
            "docs_audio_window_features",
            "docs_frame_sample_contract",
            "docs_minhash_stream_batch_parity",
            "docs_ngram_novelty",
            "docs_repetition_profile",
            "docs_short_frame_contract",
            "embeddings_ivf_recall_probe_curve",
            "lineitem_salted_distinct_contract",
            "retrieval_distillation_labels",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r11, built)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r11, parity)


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


def _write_docs_fixture(tmp_path, texts: list[str]) -> str:
    """Minimal documents-only fixture dir for synthetic-corpus tests."""
    tbl = pa.Table.from_pydict(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["synth"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


# --------------------------------------------------------------------
# Short-final-frame contract — pure-Python geometry replay
# --------------------------------------------------------------------


def test_short_frame_geometry_replay(spark):
    got = (
        QUERIES["docs_short_frame_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "frame_idx"], ignore_index=True)
    )
    doc_ids = sorted(d for d in _pd("documents")["doc_id"] if d < SFC_N_DOCS)
    want = []
    for did in doc_ids:
        n_full = 3 + did % 4
        tail = did % SFC_FRAME_BYTES
        total = n_full + (1 if tail else 0)
        for k in range(0, total, SFC_EVERY_NTH):
            v = (did * 37 + k * 11) % 256
            nb = SFC_FRAME_BYTES if k < n_full else tail
            want.append((did, k, nb, v * nb, v))
    assert len(got) == len(want)
    for row, (did, k, nb, bs, fb) in zip(got.itertuples(index=False), want):
        assert (row.doc_id, row.frame_idx, row.n_bytes, row.byte_sum,
                row.first_byte) == (did, k, nb, bs, fb)
    # the no-tail case must exist AND emit no short frame
    no_tail = [d for d in doc_ids if d % SFC_FRAME_BYTES == 0]
    assert no_tail, "fixture lost the tail==0 case"
    sub = got[got.doc_id.isin(no_tail)]
    assert (sub.n_bytes == SFC_FRAME_BYTES).all()


def test_sample_frames_partial_flag_unit(spark):
    """70 bytes at frame_bytes=32: include_partial=True emits frames
    0(32B) 1(32B) 2(6B); False emits 0(32B) 1(32B) — the flag changes
    ONLY the tail emission."""
    from python_nyc_taxi_data_pipeline_spark.llm.multimodal import (
        sample_frames,
    )

    binary = spark.createDataFrame(
        [(1, bytearray(bytes(range(70))))], "doc_id long, payload binary"
    )
    full = sample_frames(
        binary, frame_bytes=32, every_nth=1, include_partial=True
    ).collect()
    trunc = sample_frames(
        binary, frame_bytes=32, every_nth=1, include_partial=False
    ).collect()
    assert [(r.frame_idx, len(bytes(r.frame))) for r in full] == [
        (0, 32), (1, 32), (2, 6)
    ]
    assert bytes(full[2].frame) == bytes(range(64, 70))
    assert [(r.frame_idx, len(bytes(r.frame))) for r in trunc] == [
        (0, 32), (1, 32)
    ]


# --------------------------------------------------------------------
# Audio window features — numpy replay + boundary law
# --------------------------------------------------------------------


def test_audio_window_energy_replay(spark):
    got = (
        QUERIES["docs_audio_window_features"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "win_idx"], ignore_index=True)
    )
    doc_ids = sorted(d for d in _pd("documents")["doc_id"] if d < AUDIO_N_DOCS)
    rows = []
    for did in doc_ids:
        length = 64 + (did % 7) * 16
        clip = (did * 13 + np.arange(length, dtype=np.int64) * 7) % 256
        n_wins = 1 + (length - AUDIO_WIN) // AUDIO_HOP
        for w in range(n_wins):
            s = w * AUDIO_HOP
            win = clip[s : s + AUDIO_WIN]
            assert len(win) == AUDIO_WIN  # never a partial window
            rows.append((did, w, s, int(((win - 128) ** 2).sum()), int(clip[s])))
    assert len(got) == len(rows)
    for r, (did, w, s, e, fb) in zip(got.itertuples(index=False), rows):
        assert (r.doc_id, r.win_idx, r.start_byte, r.energy, r.first_byte) == (
            did, w, s, e, fb,
        )
    # boundary law: the last window's end never exceeds the clip, and
    # one more hop would (i.e. windows are maximal)
    per_doc = got.groupby("doc_id")["win_idx"].max()
    for did, last in per_doc.items():
        length = 64 + (did % 7) * 16
        assert last * AUDIO_HOP + AUDIO_WIN <= length
        assert (last + 1) * AUDIO_HOP + AUDIO_WIN > length


# --------------------------------------------------------------------
# Distillation labels — recomputed from the cascade's own output
# --------------------------------------------------------------------


def test_distillation_labels_replay_from_cascade(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r8 import (
        retrieval_rerank_cascade,
    )

    got = QUERIES["retrieval_distillation_labels"].fn(spark, SF_DIR).toPandas()
    cas = retrieval_rerank_cascade(spark, SF_DIR).toPandas()
    assert (got["margin_micro"] >= 0).all()
    for q, grp in cas.groupby("query_doc_id"):
        pos = grp[grp.stage2_rank == 1].iloc[0]
        negs = grp[grp.stage2_rank > 1]
        sub = got[got.query_doc_id == q].set_index("neg_doc_id")
        assert set(sub.index) == set(negs.train_doc_id)
        assert (sub["pos_doc_id"] == pos.train_doc_id).all()
        for n in negs.itertuples(index=False):
            r = sub.loc[n.train_doc_id]
            assert int(r["margin_micro"]) == int(pos.blended_micro) - int(
                n.blended_micro
            )
            assert int(r["neg_rank"]) == int(n.stage2_rank)


# --------------------------------------------------------------------
# Stream <-> batch parity — totals vs the registered one-shot pair set
# --------------------------------------------------------------------


def test_stream_parity_totals_match_one_shot_lsh(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        docs_minhash_lsh_pairs,
    )

    got = (
        QUERIES["docs_minhash_stream_batch_parity"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("batch_id", ignore_index=True)
    )
    one_shot = docs_minhash_lsh_pairs(spark, SF_DIR).toPandas()
    # every pair discovered exactly once, at the later member's arrival
    disc = (
        np.maximum(
            one_shot["doc_a"] % N_STREAM_BATCHES,
            one_shot["doc_b"] % N_STREAM_BATCHES,
        )
        .value_counts()
        .sort_index()
    )
    assert list(got["batch_id"]) == list(disc.index)
    assert list(got["n_pairs"]) == list(disc.values)
    assert int(got["n_pairs_cum"].iloc[-1]) == len(one_shot)
    assert (got["n_pairs_cum"] == got["n_pairs"].cumsum()).all()


# --------------------------------------------------------------------
# Repetition profile — constructed-loop fixture
# --------------------------------------------------------------------


def test_repetition_profile_on_constructed_loops(spark, tmp_path):
    texts = [
        "a b c d e f",            # no repetition: max_run 1, top tri 1/4
        "x x x x y z",            # run of 4; top trigram 'x x x' twice
        "p q p q p q p q",        # alternation: run 1, 'p q p' x3 of 6
    ]
    fixture = _write_docs_fixture(tmp_path, texts)
    got = (
        QUERIES["docs_repetition_profile"]
        .fn(spark, fixture)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (int(got.loc[0, "max_run"]), int(got.loc[0, "top_trigram_count"])) == (1, 1)
    assert int(got.loc[0, "n_trigrams"]) == 4
    assert (int(got.loc[1, "max_run"]), int(got.loc[1, "top_trigram_count"])) == (4, 2)
    assert int(got.loc[1, "top_trigram_share_micro"]) == 2 * 1_000_000 // 4
    assert (int(got.loc[2, "max_run"]), int(got.loc[2, "top_trigram_count"])) == (1, 3)
    assert int(got.loc[2, "n_words"]) == 8
    assert int(got.loc[2, "n_trigrams"]) == 6


def test_repetition_profile_real_fixture_replay(spark):
    got = (
        QUERIES["docs_repetition_profile"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("doc_id")
    )
    docs = _pd("documents")
    for _, row in docs.head(40).iterrows():
        words = row["text"].split(" ")
        if len(words) < 3:
            assert row["doc_id"] not in got.index
            continue
        run = best = 1
        for a, b in zip(words, words[1:]):
            run = run + 1 if a == b else 1
            best = max(best, run)
        tris: dict[str, int] = {}
        for i in range(len(words) - 2):
            t = " ".join(words[i : i + 3])
            tris[t] = tris.get(t, 0) + 1
        r = got.loc[row["doc_id"]]
        assert int(r["max_run"]) == best
        assert int(r["top_trigram_count"]) == max(tris.values())
        assert int(r["n_trigrams"]) == len(words) - 2


# --------------------------------------------------------------------
# N-gram novelty — laws on a duplicate-doc fixture + real replay
# --------------------------------------------------------------------


def test_novelty_laws_on_duplicate_fixture(spark, tmp_path):
    texts = [
        "alpha beta gamma delta",   # doc 0: everything first-seen
        "alpha beta gamma delta",   # doc 1: exact copy -> novelty 0
        "alpha beta gamma epsilon zeta eta",  # doc 2: partial overlap
    ]
    fixture = _write_docs_fixture(tmp_path, texts)
    got = (
        QUERIES["docs_ngram_novelty"]
        .fn(spark, fixture)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert int(got.loc[0, "novelty_micro"]) == 1_000_000
    assert int(got.loc[1, "novelty_micro"]) == 0
    # doc 2: 4 distinct trigrams, 'alpha beta gamma' seen in doc 0
    assert int(got.loc[2, "n_distinct_trigrams"]) == 4
    assert int(got.loc[2, "n_novel"]) == 3
    assert int(got.loc[2, "novelty_micro"]) == 3 * 1_000_000 // 4


def test_novelty_min_doc_is_always_novel(spark):
    got = QUERIES["docs_ngram_novelty"].fn(spark, SF_DIR).toPandas()
    first = got.loc[got["doc_id"].idxmin()]
    assert int(first["novelty_micro"]) == 1_000_000
    assert (got["n_novel"] <= got["n_distinct_trigrams"]).all()
    # conservation: every distinct trigram is novel in exactly one doc
    con = duckdb.connect()
    n_grams = con.execute(
        f"""
        SELECT count(DISTINCT tri) FROM (
          SELECT unnest(list_transform(
                   generate_series(1, len(string_split(text,' ')) - 2),
                   i -> string_split(text,' ')[i] || ' ' ||
                        string_split(text,' ')[i+1] || ' ' ||
                        string_split(text,' ')[i+2])) AS tri
          FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE len(string_split(text,' ')) >= 3)
        """
    ).fetchone()[0]
    con.close()
    assert int(got["n_novel"].sum()) == int(n_grams)


# --------------------------------------------------------------------
# IVF recall curve — laws
# --------------------------------------------------------------------


def test_ivf_recall_curve_laws(spark):
    got = (
        QUERIES["embeddings_ivf_recall_probe_curve"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("nprobe", ignore_index=True)
    )
    assert list(got["nprobe"]) == list(IVF_RC_NPROBES)
    assert got["n_true"].nunique() == 1  # same denominator every rung
    assert int(got["n_true"].iloc[0]) % IVF_RC_K == 0
    assert got["n_found"].is_monotonic_increasing
    # visiting every inverted list finds every neighbor by definition
    full = got[got["nprobe"] == IVF_RC_N_CENTROIDS].iloc[0]
    assert int(full["n_found"]) == int(full["n_true"])
    assert int(full["recall_micro"]) == 1_000_000


# --------------------------------------------------------------------
# Salted distinct contract — decomposition exactness
# --------------------------------------------------------------------


def test_salted_distinct_equals_direct(spark):
    from pyspark.sql import functions as F

    from python_nyc_taxi_data_pipeline_spark.catalog import load

    got = (
        QUERIES["lineitem_salted_distinct_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    direct = (
        load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    assert (got["n_distinct_suppliers"] == direct["d"]).all()
    assert (got["n_rows"] == direct["n"]).all()
    # the decomposition must actually use the declared salt space
    assert SALT_BUCKETS == 16


# --------------------------------------------------------------------
# t-closeness — pure-pandas EMD replay + triad consistency laws
# --------------------------------------------------------------------


def _t_closeness_replay(cust: pd.DataFrame) -> pd.DataFrame:
    """Independent integer-EMD replay of customer_t_closeness."""
    cust = cust.assign(
        bal_bucket=np.floor(cust["c_acctbal"] / 1000.0).astype(int)
    )
    n = len(cust)
    g = cust.groupby("c_mktsegment").size()
    rows = []
    for (_, _), grp in cust.groupby(["c_nationkey", "bal_bucket"]):
        n_c = len(grp)
        counts = grp.groupby("c_mktsegment").size()
        num = sum(
            abs(int(counts.get(s, 0)) * n - int(g[s]) * n_c) for s in g.index
        )
        rows.append((n_c, (1_000_000 * num) // (2 * n_c * n)))
    df = pd.DataFrame(rows, columns=["n_c", "t_micro"])
    df["t_bucket"] = df["t_micro"] // TCL_BUCKET_MICRO
    out = (
        df.groupby("t_bucket")
        .agg(
            n_classes=("n_c", "size"),
            n_customers=("n_c", "sum"),
            max_t_micro=("t_micro", "max"),
        )
        .reset_index()
    )
    return out.sort_values("t_bucket").reset_index(drop=True)


def test_t_closeness_pandas_replay(spark):
    got = (
        QUERIES["customer_t_closeness"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("t_bucket")
        .reset_index(drop=True)
    )
    want = _t_closeness_replay(_pd("customer"))
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_dtype=False
    )


def test_t_closeness_triad_consistency(spark):
    """The t-closeness report covers the exact class universe the
    l-diversity ladder sees (same QI), and every t is a valid total
    variation: 0 <= t_micro <= 1e6."""
    tcl = QUERIES["customer_t_closeness"].fn(spark, SF_DIR).toPandas()
    ldiv = QUERIES["customer_l_diversity"].fn(spark, SF_DIR).toPandas()
    assert tcl["n_classes"].sum() == ldiv["n_classes"].sum()
    assert tcl["n_customers"].sum() == ldiv["n_customers"].sum()
    assert (tcl["max_t_micro"] >= 0).all()
    assert (tcl["max_t_micro"] <= 1_000_000).all()
    # buckets are consistent with their max member
    assert (
        tcl["max_t_micro"] // TCL_BUCKET_MICRO == tcl["t_bucket"]
    ).all()
