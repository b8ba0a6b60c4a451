"""Tests for the queries in llm/staged_r10.py. Oracle parity is
checked registry-wide (tests/test_parity.py); these are independent
referees: the MW reweight
arithmetic replayed from the registered surprisal output, IVF load
identities, degree-histogram corpus partition, a pandas rolling-window
DAU/WAU replay, and the water-fill's conservation law (Σ take ==
budget exactly)."""

from __future__ import annotations

import duckdb
import pandas as pd

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r10
from python_nyc_taxi_data_pipeline_spark.llm.staged_r10 import (
    BUDGET_SHARE_MICRO,
    DOREMI_ETA_DIV,
    WAU_WINDOW_DAYS,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


# --------------------------------------------------------------------
# Module-wide gates (parity and plans share the session's builds)
# --------------------------------------------------------------------


def test_r10_batch_names_the_whole_slate():
    gates.assert_registers_exactly(
        staged_r10,
        (
            "corpus_token_budget_plan",
            "docs_contamination_attribution",
            "docs_curriculum_shard_manifest",
            "docs_dedup_graph_degrees",
            "docs_doremi_reweight_step",
            "embeddings_ivf_balance_report",
            "embeddings_semdedup_hier_contract",
            "events_dau_wau_stickiness",
            "events_power_user_pareto",
            "orders_priority_sla",
        ),
    )


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r10, built, sort_aggregate=True)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r10, parity)


def test_promote_to_registry_round_trip():
    gates.assert_register_round_trip("embeddings_ivf_balance_report")


def test_no_name_collisions_across_slates_and_registry():
    """Every name the package passes to ``@register`` is registered
    exactly once: a module that defines a name twice, or that
    ``registry._load_all`` never imports, fails by name here instead
    of as a missing query."""
    import collections
    import pathlib
    import re

    import python_nyc_taxi_data_pipeline_spark as pkg

    found = collections.Counter()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        found.update(re.findall(r'@register\(\s*"([a-z0-9_]+)"', path.read_text()))
    assert {n for n, c in found.items() if c > 1} == set()
    assert set(found) <= set(registry.all_queries())


def _pd(table: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchdf()


# --------------------------------------------------------------------
# DoReMi step — MW arithmetic replayed from the registered surprisal
# --------------------------------------------------------------------


def test_doremi_step_replays_from_registered_surprisal(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.lm import (
        docs_unigram_surprisal_filter,
    )

    got = QUERIES["docs_doremi_reweight_step"].fn(spark, SF_DIR).toPandas()
    per_doc = docs_unigram_surprisal_filter(spark, SF_DIR).toPandas()
    src_of = _pd("documents").set_index("doc_id")["source"]
    per_doc["source"] = per_doc["doc_id"].map(src_of)
    agg = per_doc.groupby("source").agg(
        n_tokens=("n_tokens", "sum"), s_micro=("sum_surprisal_micro", "sum")
    )
    n_all, s_all = int(agg["n_tokens"].sum()), int(agg["s_micro"].sum())
    corpus_mean = s_all // n_all
    rows = {}
    for src, r in agg.iterrows():
        mean = int(r["s_micro"]) // int(r["n_tokens"])
        excess = mean - corpus_mean
        # Python // floors; both engines' DIV truncate toward zero —
        # match the engine semantics for negative excess.
        q = abs(excess) // DOREMI_ETA_DIV
        step = q if excess >= 0 else -q
        factor = max(0, 1_000_000 + step)
        rows[src] = (int(r["n_tokens"]), mean, excess, factor)
    z = sum(n * f for n, _, _, f in rows.values())
    g = got.set_index("source")
    for src, (n, mean, excess, factor) in rows.items():
        r = g.loc[src]
        assert int(r["n_tokens"]) == n
        assert int(r["mean_micro"]) == mean, src
        assert int(r["excess_micro"]) == excess, src
        assert int(r["factor_micro"]) == factor, src
        assert int(r["share_before_micro"]) == n * 1_000_000 // n_all
        assert int(r["share_after_micro"]) == n * factor * 1_000_000 // z, src
    # Shares renormalize: floor-sums land within |sources| of 1e6.
    for col in ("share_before_micro", "share_after_micro"):
        s = got[col].sum()
        assert 1_000_000 - len(got) < s <= 1_000_000, col
    # The MW direction: positive excess ⇒ share goes up (strictly,
    # modulo floor wobble of 1 micro).
    up = got[got["excess_micro"] > 0]
    assert (up["share_after_micro"] >= up["share_before_micro"] - 1).all()


# --------------------------------------------------------------------
# IVF balance — load identities
# --------------------------------------------------------------------


def test_ivf_balance_identities(spark):
    got = QUERIES["embeddings_ivf_balance_report"].fn(spark, SF_DIR).toPandas()
    emb = _pd("embeddings")
    cells = emb.groupby("label").size()
    n, n_cells, max_cell = len(emb), len(cells), int(cells.max())
    assert len(got) == n_cells
    assert got["n_vectors"].sum() == n
    g = got.set_index("label").sort_index()
    assert (g["n_vectors"] == cells.sort_index()).all()
    assert (
        g["load_factor_micro"]
        == g["n_vectors"] * n_cells * 1_000_000 // n
    ).all()
    assert (g["worst_load_factor_micro"] == max_cell * n_cells * 1_000_000 // n).all()
    assert (g["share_of_hottest_micro"] == g["n_vectors"] * 1_000_000 // max_cell).all()
    # The hottest cell's share of itself is exactly 1e6.
    assert g["share_of_hottest_micro"].max() == 1_000_000
    # Mean load factor ≈ 1e6 (floor wobble ≤ n_cells).
    assert abs(g["load_factor_micro"].mean() - 1_000_000) <= n_cells


# --------------------------------------------------------------------
# Degree histogram — partitions the corpus, agrees with the raw pairs
# --------------------------------------------------------------------


def test_degree_histogram_partitions_corpus(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        docs_ngram_jaccard_pairs,
    )

    got = QUERIES["docs_dedup_graph_degrees"].fn(spark, SF_DIR).toPandas()
    pairs = docs_ngram_jaccard_pairs(spark, SF_DIR).toPandas()
    n_docs_total = len(_pd("documents"))
    assert got["n_docs"].sum() == n_docs_total
    deg = (
        pd.concat([pairs["doc_a"], pairs["doc_b"]]).value_counts()
    )
    want = deg.value_counts()
    g = got.set_index("degree")
    for d, n in want.items():
        assert g.loc[d, "n_docs"] == n
    assert g.loc[0, "n_docs"] == n_docs_total - deg.size
    # Handshake: Σ degree·count == 2·|pairs|.
    assert int((got["degree"] * got["n_docs"]).sum()) == 2 * len(pairs)


# --------------------------------------------------------------------
# DAU/WAU — pandas rolling replay
# --------------------------------------------------------------------


def test_dau_wau_pandas_replay(spark):
    got = (
        QUERIES["events_dau_wau_stickiness"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("day_idx", ignore_index=True)
    )
    e = _pd("events")
    ud = (
        pd.DataFrame(
            {"u": e["user_id"], "d": (e["ts"].dt.normalize() - pd.Timestamp("1970-01-01")).dt.days}
        )
        .drop_duplicates()
    )
    d0, d1 = int(ud["d"].min()), int(ud["d"].max())
    rows = []
    for d in range(d0, d1 + 1):
        idx = d - d0 + 1
        if idx < WAU_WINDOW_DAYS:
            continue
        dau = int((ud["d"] == d).sum())
        wau = ud.loc[ud["d"].between(d - WAU_WINDOW_DAYS + 1, d), "u"].nunique()
        rows.append((idx, dau, wau, dau * 1_000_000 // wau))
    want = pd.DataFrame(
        rows, columns=["day_idx", "dau", "wau", "stickiness_micro"]
    )
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))
    assert (got["stickiness_micro"] <= 1_000_000).all()
    assert (got["dau"] <= got["wau"]).all()


# --------------------------------------------------------------------
# Token budget — water-fill conservation law
# --------------------------------------------------------------------


def test_budget_plan_conservation(spark):
    got = (
        QUERIES["corpus_token_budget_plan"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("bucket", ascending=False, ignore_index=True)
    )
    t_all = int(got["tokens"].sum())
    budget = t_all * BUDGET_SHARE_MICRO // 1_000_000
    assert (got["budget_tokens"] == budget).all()
    # THE law: the plan spends the budget exactly (budget ≤ corpus).
    assert int(got["take_tokens"].sum()) == budget
    # Fill is highest-first: takes are full above the marginal bucket,
    # zero below it, and each take is within the bucket's mass.
    assert (got["take_tokens"] <= got["tokens"]).all()
    state = "full"
    for r in got.itertuples():  # descending bucket order
        if state == "full" and r.take_tokens == r.tokens:
            continue
        if state == "full":
            state = "after_marginal"  # the (single) marginal bucket
            continue
        assert r.take_tokens == 0, r
    # cum_above really is the tokens in strictly-better buckets.
    cum = 0
    for r in got.itertuples():
        assert r.cum_above == cum, r
        cum += r.tokens
    assert (got["fully_taken"] == (got["take_tokens"] == got["tokens"])).all()


# --------------------------------------------------------------------
# Contamination attribution — argmax referee vs the r8 audit
# --------------------------------------------------------------------


def test_attribution_consistent_with_contamination_audit(spark):
    attr = QUERIES["docs_contamination_attribution"].fn(spark, SF_DIR).toPandas()
    audit = (
        QUERIES["docs_token_space_contamination"].fn(spark, SF_DIR).toPandas()
    )
    a = audit.set_index("doc_id")
    # Every attributed doc is held-out and its n_shared can't exceed
    # the audit's total shared-trigram count for that doc... it counts
    # shared gram OCCURRENCES per train doc vs the audit's distinct
    # shared grams — but per (test, train) pair each distinct test
    # gram counts once, so best-pair shared ≤ audit's n_shared total.
    for r in attr.itertuples():
        assert r.doc_id in a.index
        assert 1 <= r.n_shared <= a.loc[r.doc_id, "n_shared_trigrams"]
    # An attributed doc shares ≥1 (discriminative) gram, so the audit
    # necessarily marks it contaminated — the converse is NOT a law
    # (a doc sharing only >ceiling-df chrome gets no attribution).
    contaminated = set(audit.loc[audit["contaminated"], "doc_id"])
    assert set(attr["doc_id"]) <= contaminated
    # Packed-key decode round-trips: n_shared and train id are sane.
    assert (attr["train_doc_id"] >= 0).all()
    import hashlib

    th = attr["train_doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2]
    )
    assert (th < "cd").all()


# --------------------------------------------------------------------
# Power-user pareto — replay + Pareto shape
# --------------------------------------------------------------------


def test_power_user_pareto_replay(spark):
    got = (
        QUERIES["events_power_user_pareto"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values("bucket", ignore_index=True)
    )
    e = _pd("events")
    per_user = e.groupby("user_id").size()
    u, ev = len(per_user), len(e)
    assert got["n_users"].sum() == u
    assert got["events"].sum() == ev
    for r in got.itertuples():
        sel = per_user[per_user >= r.bucket]
        assert r.users_at_or_above == len(sel)
        assert r.events_at_or_above == sel.sum()
        assert r.user_share_micro == len(sel) * 1_000_000 // u
        assert r.event_share_micro == int(sel.sum()) * 1_000_000 // ev
    # Pareto dominance: event share at-or-above always ≥ user share.
    assert (got["event_share_micro"] >= got["user_share_micro"]).all()


# --------------------------------------------------------------------
# Priority SLA — conditional-count referee
# --------------------------------------------------------------------


def test_priority_sla_replay(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r10 import (
        SLA_FAST_DAYS,
        SLA_SLOW_DAYS,
    )

    got = QUERIES["orders_priority_sla"].fn(spark, SF_DIR).toPandas()
    li = _pd("lineitem")[["l_orderkey", "l_shipdate"]]
    o = _pd("orders")[["o_orderkey", "o_orderpriority", "o_orderdate"]]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    lat = (j["l_shipdate"].dt.normalize() - j["o_orderdate"].dt.normalize()).dt.days
    j = j.assign(lat=lat)
    g = got.set_index("o_orderpriority").sort_index()
    agg = j.groupby("o_orderpriority")["lat"].agg(
        n="size",
        fast=lambda s: int((s <= SLA_FAST_DAYS).sum()),
        slow=lambda s: int((s <= SLA_SLOW_DAYS).sum()),
    )
    assert (g["n_lines"] == agg["n"]).all()
    assert (g[f"n_within_{SLA_FAST_DAYS}d"] == agg["fast"]).all()
    assert (g[f"n_within_{SLA_SLOW_DAYS}d"] == agg["slow"]).all()
    assert (
        g[f"sla_{SLA_FAST_DAYS}d_micro"]
        == agg["fast"] * 1_000_000 // agg["n"]
    ).all()
    # 30d compliance can never exceed 90d compliance.
    assert (
        g[f"sla_{SLA_FAST_DAYS}d_micro"] <= g[f"sla_{SLA_SLOW_DAYS}d_micro"]
    ).all()


# --------------------------------------------------------------------
# Curriculum manifest — the curriculum property itself
# --------------------------------------------------------------------


def test_curriculum_manifest_property(spark):
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r10 import (
        CURRICULUM_SHARDS,
    )

    got = (
        QUERIES["docs_curriculum_shard_manifest"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["shard", "bucket"], ascending=[True, False],
                     ignore_index=True)
    )
    n_docs_total = len(_pd("documents"))
    assert got["n_docs"].sum() == n_docs_total
    assert set(got["shard"]) <= set(range(CURRICULUM_SHARDS))
    # THE curriculum property: within each shard, per-bucket position
    # ranges are contiguous, non-overlapping, exhaustive, and ordered
    # highest-quality-first.
    for shard, g in got.groupby("shard"):
        g = g.sort_values("bucket", ascending=False)
        next_pos = 1
        for r in g.itertuples():
            assert r.first_position == next_pos, (shard, r.bucket)
            assert r.last_position == r.first_position + r.n_docs - 1
            next_pos = r.last_position + 1
        assert next_pos - 1 == g["n_docs"].sum()


def test_r11_seed_frame_sample_geometry(spark):
    """The r11 seed's frame-sample contract: the sampler must emit
    exactly the every-2nd frame indexes of each doc's (4 + id%5)
    frames, each frame being 32 copies of its formula byte — replayed
    in pure Python against the REAL mapInPandas pipeline output."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r11 import (
        EVERY_NTH,
        FRAME_BYTES,
        N_VIDEO_DOCS,
    )

    got = (
        QUERIES["docs_frame_sample_contract"]
        .fn(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "frame_idx"], ignore_index=True)
    )
    doc_ids = sorted(
        d for d in _pd("documents")["doc_id"] if d < N_VIDEO_DOCS
    )
    rows = []
    for did in doc_ids:
        for k in range(0, 4 + did % 5, EVERY_NTH):
            v = (did * 131 + k * 17) % 256
            rows.append((did, k, FRAME_BYTES, v * FRAME_BYTES, v))
    want = pd.DataFrame(
        rows, columns=["doc_id", "frame_idx", "n_bytes", "byte_sum", "first_byte"]
    )
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def test_hier_contract_facts_all_hold(spark):
    got = (
        QUERIES["embeddings_semdedup_hier_contract"]
        .fn(spark, SF_DIR)
        .collect()
    )
    assert len(got) == 1
    row = got[0]
    assert row.total_points == len(_pd("embeddings"))
    assert row.all_assigned and row.cells_within_cap
    assert row.lowest_ids_kept and row.kept_rate_close


def test_hier_contract_exempts_frozen_duplicate_clump(spark, tmp_path):
    """r10 ADVICE regression: the contract's cells_within_cap must
    check SPLITTABLE cells only — an exact-duplicate clump bigger than
    the 2x cap is intentionally frozen at natural size by the
    clusterer's no-shrink rule (identical vectors can never be
    separated by a hyperplane), so the contract must still emit TRUE
    on such a fixture instead of contradicting its own oracle."""
    clump = [(i, [0.1, 0.2, 0.3, 0.4]) for i in range(200)]
    scatter = [
        (
            200 + i,
            [
                float((i * 37) % 13 - 6),
                float((i * 17) % 11 - 5),
                float((i * 29) % 7 - 3),
                float(i % 5 + 1),
            ],
        )
        for i in range(40)
    ]
    fixture = tmp_path / "sfclump"
    fixture.mkdir()
    spark.createDataFrame(
        clump + scatter, "vec_id long, embedding array<float>"
    ).write.parquet(str(fixture / "embeddings.parquet"))
    row = (
        QUERIES["embeddings_semdedup_hier_contract"]
        .fn(spark, str(fixture))
        .collect()[0]
    )
    # n=240, target 64 -> k=4, cap = 2*ceil(240/4) = 120 < 200: the
    # frozen clump cell genuinely exceeds the cap, so the OLD
    # unconditional check returned false here; the dv=1 exemption is
    # what makes this pass.
    assert row.total_points == 240
    assert row.all_assigned
    assert row.cells_within_cap
    assert row.lowest_ids_kept
