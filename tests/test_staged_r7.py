"""Tests for the queries in llm/staged_r7.py.

Oracle parity is checked registry-wide (tests/test_parity.py); these
pin the parts an oracle hash can't localize when it breaks: the OPH densification
algorithm against a pure-Python replay, the OPH candidate recall
against the registered k-permutation family, the decontamination
argmax against a numpy brute force, and the vocabulary-growth
arithmetic against a from-scratch pandas replay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from python_nyc_taxi_data_pipeline_spark import registry
from python_nyc_taxi_data_pipeline_spark.llm import staged_r7
from python_nyc_taxi_data_pipeline_spark.llm.dedup import docs_minhash_lsh_pairs
from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
    OPH_BINS,
    corpus_vocab_growth,
    docs_minhash_oph_pairs,
    docs_semantic_decontamination,
    oph_hashed,
    oph_signature,
)
from tests import module_gates as gates
from tests.conftest import SF_DIR

QUERIES = registry.all_queries()


# --------------------------------------------------------------------
# Module-wide gates (parity and plans share the session's builds)
# --------------------------------------------------------------------


def test_staged_plans_carry_no_antipatterns(built):
    gates.assert_plans_clean(staged_r7, built)


def test_staged_plans_avoid_sort_aggregate(built):
    """Struct and string min/max silently plan as SortAggregate,
    which sorts every group's rows within partitions."""
    gates.assert_plans_clean(staged_r7, built, sort_aggregate=True)


def test_staged_oracle_parity_sf0001(parity):
    gates.assert_parity(staged_r7, parity)


def test_promote_to_registry_round_trip():
    gates.assert_register_round_trip("orders_benford_audit")


# --------------------------------------------------------------------
# OPH
# --------------------------------------------------------------------


def _python_densify(bins: list[int | None], hash2: dict[tuple[int, int], int]) -> list[int]:
    """Pure-Python replay of oph_signature's densification: empty bin j
    borrows the first filled bin at circular distance t, re-hashed with
    t (t=0 keeps the value). ``hash2`` supplies xxhash64(v, t)."""
    k = len(bins)
    out = []
    for j in range(k):
        for t in range(k):
            v = bins[(j + t) % k]
            if v is not None:
                out.append(v if t == 0 else hash2[(v, t)])
                break
        else:  # pragma: no cover — a doc with >=1 shingle fills a bin
            raise AssertionError("all bins empty")
    return out


def test_oph_densification_matches_python_replay(spark):
    """Feed literal hash arrays through the Spark densification
    expression and replay the algorithm in Python, with Spark itself
    supplying the xxhash64(v, t) values so the replay checks the
    BORROW LOGIC, not the hash function. Covers: no empty bins, a
    single filled bin (maximum borrowing), wraparound borrows, and
    negative hash values (pmod correctness)."""
    cases = [
        list(range(1, 40)),        # dense: most bins filled
        [5],                        # one shingle: one filled bin
        [-17, 23],                  # negative hash → pmod bin index
        [160, 161],                 # adjacent bins, long wraparound runs
    ]
    k = OPH_BINS
    df = spark.createDataFrame([(hs,) for hs in cases], "hs array<bigint>")
    got = df.select(oph_signature(F.col("hs"), k).alias("sig")).collect()

    # Spark-supplied xxhash64(v, t) lookup for every (value, distance)
    pairs = {(v, t) for hs in cases for v in hs for t in range(1, k)}
    lk = spark.createDataFrame(list(pairs), "v bigint, t int").select(
        "v", "t", F.xxhash64("v", "t").alias("h")
    )
    hash2 = {(r["v"], r["t"]): r["h"] for r in lk.collect()}

    for hs, row in zip(cases, got):
        bins: list[int | None] = [None] * k
        for v in hs:
            b = v % k  # Python % == Spark pmod for positive k
            if bins[b] is None or v < bins[b]:
                bins[b] = v
        assert row["sig"] == _python_densify(bins, hash2), f"case {hs}"


def test_oph_pairs_match_kperm_family(spark):
    """Both MinHash families verify candidates exactly, so equal output
    means equal RECALL: the one-pass OPH banding recovers the same
    near-dup pair set as the 16-permutation reference family."""
    oph = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in docs_minhash_oph_pairs(spark, SF_DIR).collect()
    }
    kperm = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in docs_minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert oph == kperm
    assert len(oph) > 0


# --------------------------------------------------------------------
# Semantic decontamination
# --------------------------------------------------------------------


def test_semantic_decon_argmax_matches_numpy(spark):
    """The struct-max aggregate must pick, per test doc, the train doc
    with the highest 6-dp cosine (ties → lowest id) — replayed here
    with numpy float64 over the same md5 split."""
    import hashlib

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)

    def hh(doc_id: int) -> str:
        return hashlib.md5(str(doc_id).encode()).hexdigest()[:2]

    is_test = np.array([hh(i) >= "e6" for i in ids])
    is_train = np.array([hh(i) < "cd" for i in ids])
    sims = m[is_test] @ m[is_train].T
    test_ids, train_ids = ids[is_test], ids[is_train]

    got = {
        r["test_doc_id"]: (r["train_doc_id"], r["cosine_sim"], r["contaminated"])
        for r in docs_semantic_decontamination(spark, SF_DIR).collect()
    }
    assert set(got) == set(test_ids.tolist())
    for qi, tid in enumerate(test_ids):
        row = np.round(sims[qi], 6)
        best = row.max()
        # ties at 6 dp break to the lowest train id
        want_id = int(train_ids[row == best].min())
        g_id, g_cos, g_flag = got[int(tid)]
        assert g_id == want_id, f"test doc {tid}"
        assert abs(g_cos - best) <= 1e-6, f"test doc {tid}"
        assert g_flag == (g_cos >= 0.42)


def test_semantic_decon_splits_are_disjoint_and_sized(spark):
    """The report covers exactly the test split (~10%), never a train
    or val doc — and nearest neighbors come only from train."""
    import hashlib

    rows = docs_semantic_decontamination(spark, SF_DIR).collect()

    def hh(doc_id: int) -> str:
        return hashlib.md5(str(doc_id).encode()).hexdigest()[:2]

    for r in rows:
        assert hh(r["test_doc_id"]) >= "e6"
        assert hh(r["train_doc_id"]) < "cd"


# --------------------------------------------------------------------
# Vocabulary growth
# --------------------------------------------------------------------


def test_vocab_growth_matches_pandas_replay(spark):
    """From-scratch pandas replay of the Heaps report: doc_id-range
    slices, first-occurrence new-word attribution, exact cumulative
    curves."""
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    mx = int(docs["doc_id"].max()) + 1
    first: dict[str, int] = {}
    slice_stats = {s: [0, 0, 0] for s in range(10)}  # docs, tokens, new
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        s = int(doc_id) * 10 // mx
        slice_stats[s][0] += 1
        slice_stats[s][1] += len(words)
        for w in words:
            if w not in first or first[w] > int(doc_id):
                first[w] = int(doc_id)
    for w, d in first.items():
        slice_stats[d * 10 // mx][2] += 1

    got = {r["slice_id"]: r for r in corpus_vocab_growth(spark, SF_DIR).collect()}
    assert set(got) == {s for s, st in slice_stats.items() if st[0] > 0}
    cum_v = cum_t = 0
    for s in sorted(got):
        n_docs, n_tokens, new_words = slice_stats[s]
        cum_v += new_words
        cum_t += n_tokens
        r = got[s]
        assert (r["n_docs"], r["n_tokens"], r["new_words"]) == (
            n_docs,
            n_tokens,
            new_words,
        ), f"slice {s}"
        assert (r["cum_vocab"], r["cum_tokens"]) == (cum_v, cum_t), f"slice {s}"
    # the Heaps sanity the report exists for: vocabulary keeps growing
    # but later slices introduce fewer new words than the first
    slices = sorted(got)
    assert got[slices[-1]]["new_words"] < got[slices[0]]["new_words"]


# --------------------------------------------------------------------
# Quality ensemble / Markov transitions / Zipf report
# --------------------------------------------------------------------


def test_quality_ensemble_votes_match_members(spark):
    """Each member column must be bit-identical to the standalone
    registered filter's verdict, and the vote arithmetic exact."""
    from python_nyc_taxi_data_pipeline_spark.llm.lm import (
        docs_unigram_surprisal_filter,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.quality import docs_gopher_quality
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_quality_ensemble,
    )
    from python_nyc_taxi_data_pipeline_spark.plans.textstats import (
        docs_repetition_filter,
    )

    got = {r["doc_id"]: r for r in docs_quality_ensemble(spark, SF_DIR).collect()}
    g = {r["doc_id"]: r["keep"] for r in docs_gopher_quality(spark, SF_DIR).collect()}
    rp = {
        r["doc_id"]: r["keep"] for r in docs_repetition_filter(spark, SF_DIR).collect()
    }
    lm = {
        r["doc_id"]: r["keep_below_corpus_mean"]
        for r in docs_unigram_surprisal_filter(spark, SF_DIR).collect()
    }
    assert set(got) == set(g)
    disagreements = 0
    for doc_id, r in got.items():
        assert (r["gopher_keep"], r["repetition_keep"], r["surprisal_keep"]) == (
            g[doc_id],
            rp[doc_id],
            lm[doc_id],
        ), f"doc {doc_id}"
        votes = int(g[doc_id]) + int(rp[doc_id]) + int(lm[doc_id])
        assert r["ensemble_keep"] == (votes >= 2)
        assert r["unanimous_keep"] == (votes == 3)
        if r["ensemble_keep"] != r["unanimous_keep"]:
            disagreements += 1
    # the ensemble must actually arbitrate on the fixture — otherwise
    # the majority vote is vacuously the conjunction
    assert disagreements > 0


def test_markov_transitions_match_pandas_replay(spark):
    """From-scratch replay: per-user ts/event_id-ordered sequences,
    exact bigram counts, row-normalized probabilities."""
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        events_markov_transitions,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    counts: Counter = Counter()
    for _, grp in ev.groupby("user_id", sort=False):
        types = grp["event_type"].tolist()
        for a, b in zip(types, types[1:]):
            counts[(a, b)] += 1
    totals: Counter = Counter()
    for (a, _), n in counts.items():
        totals[a] += n

    rows = events_markov_transitions(spark, SF_DIR).collect()
    got = {(r["prev_type"], r["next_type"]): r for r in rows}
    assert set(got) == set(counts)
    for key, r in got.items():
        assert r["n_transitions"] == counts[key], key
        assert abs(r["p_transition"] - counts[key] / totals[key[0]]) <= 1e-6
    # probabilities row-normalize exactly (sum over next = 1 per prev)
    by_prev: Counter = Counter()
    for (a, _), r in got.items():
        by_prev[a] += r["n_transitions"]
    assert by_prev == totals


def test_zipf_report_matches_pandas_replay(spark):
    """Rank via the triangular join must equal the sort-based rank;
    the rank-1 ratio is exactly 1 by construction."""
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        ZIPF_TOP,
        corpus_zipf_report,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    cnt: Counter = Counter()
    for text in docs["text"]:
        cnt.update(text.split(" "))
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]

    rows = sorted(corpus_zipf_report(spark, SF_DIR).collect(), key=lambda r: r["rank"])
    assert [(r["word"], r["n"]) for r in rows] == want
    assert [r["rank"] for r in rows] == list(range(1, len(want) + 1))
    f1 = want[0][1]
    for r in rows:
        assert abs(r["zipf_ratio"] - round(r["rank"] * r["n"] / f1, 6)) <= 1e-9
    assert rows[0]["zipf_ratio"] == 1.0


# --------------------------------------------------------------------
# Basket lift / margin mining
# --------------------------------------------------------------------


def test_basket_lift_matches_pandas_replay(spark):
    """From-scratch replay: distinct (order, brand) baskets, exact pair
    co-occurrence counts, lift arithmetic."""
    from itertools import combinations

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        lineitem_brand_basket_lift,
    )

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[["l_orderkey", "l_partkey"]]
    pt = pd.read_parquet(f"{SF_DIR}/part.parquet")[["p_partkey", "p_brand"]]
    ob = li.merge(pt, left_on="l_partkey", right_on="p_partkey")[
        ["l_orderkey", "p_brand"]
    ].drop_duplicates()
    n_orders = ob["l_orderkey"].nunique()
    per_brand = ob.groupby("p_brand")["l_orderkey"].nunique().to_dict()
    pair_counts: dict[tuple[str, str], int] = {}
    for _, grp in ob.groupby("l_orderkey"):
        for a, b in combinations(sorted(grp["p_brand"]), 2):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + 1

    rows = lineitem_brand_basket_lift(spark, SF_DIR).collect()
    got = {(r["brand_a"], r["brand_b"]): r for r in rows}
    assert set(got) == set(pair_counts)
    for (a, b), r in got.items():
        assert r["n_both"] == pair_counts[(a, b)]
        assert r["n_orders_a"] == per_brand[a]
        assert r["n_orders_b"] == per_brand[b]
        want_lift = round(
            pair_counts[(a, b)] * n_orders / (per_brand[a] * per_brand[b]), 6
        )
        assert abs(r["lift"] - want_lift) <= 1e-9
        assert abs(r["support"] - round(pair_counts[(a, b)] / n_orders, 6)) <= 1e-9


def test_margin_mining_matches_numpy_replay(spark):
    """Full numpy replay of the Artetxe–Schwenk ratio margin: 6-dp
    micro-quantized cosines, top-4 neighborhood sums on both sides,
    per-test argmax with the (margin desc, id asc) tie-break."""
    import hashlib

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        MARGIN_KNN,
        embeddings_margin_mining,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)

    def hh(doc_id: int) -> str:
        return hashlib.md5(str(doc_id).encode()).hexdigest()[:2]

    is_test = np.array([hh(i) >= "e6" for i in ids])
    is_train = np.array([hh(i) < "cd" for i in ids])
    test_ids, train_ids = ids[is_test], ids[is_train]
    c_micro = np.rint(np.round(m[is_test] @ m[is_train].T, 6) * 1e6).astype(np.int64)

    def topk_sum(row: np.ndarray, tie_ids: np.ndarray) -> int:
        order = np.lexsort((tie_ids, -row))[:MARGIN_KNN]
        return int(row[order].sum())

    mx4 = {int(t): topk_sum(c_micro[qi], train_ids) for qi, t in enumerate(test_ids)}
    my4 = {
        int(c): topk_sum(c_micro[:, ci], test_ids) for ci, c in enumerate(train_ids)
    }

    got = {r["test_doc_id"]: r for r in embeddings_margin_mining(spark, SF_DIR).collect()}
    assert set(got) == set(int(t) for t in test_ids)
    for qi, t in enumerate(test_ids):
        margins = [
            (
                round(2.0 * MARGIN_KNN * c_micro[qi, ci] / (mx4[int(t)] + my4[int(c)]), 6),
                -int(c),
            )
            for ci, c in enumerate(train_ids)
        ]
        best_m, best_nid = max(margins)
        r = got[int(t)]
        assert r["train_doc_id"] == -best_nid, f"test doc {t}"
        assert abs(r["margin"] - best_m) <= 1e-9, f"test doc {t}"


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows], _DOC_SCHEMA
    ).write.parquet(str(path / "documents.parquet"))
    return str(path)


def _lev(a: str, b: str) -> int:
    """Classic Wagner–Fischer DP — the independent replay for Spark's
    (and DuckDB's) ``levenshtein``."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


def test_edit_similarity_separates_revision_from_reorder(spark, tmp_path):
    """The edit_verified verdict must SPLIT the two candidate classes
    shingle Jaccard cannot tell apart at the document level: a
    revision twin (one word substituted → high Jaccard, high edit
    sim) and a block-REORDERED twin (interior trigrams survive the
    shuffle → Jaccard clears the candidate bar, but char order is
    scrambled → low edit sim). Every emitted metric is replayed with
    a pure-Python Wagner–Fischer DP."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        EDIT_SIM_THRESHOLD,
        docs_edit_similarity_pairs,
    )

    blocks = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu anchor barrel cedar dome",
        "ember falcon garnet harbor ivory jasper kernel lumen marble nectar",
    ]
    base = " ".join(blocks)
    revision = base.replace("oscar", "orbit")
    reordered = " ".join(reversed(blocks))
    rows = [
        (0, base),
        (1, revision),
        (2, reordered),
        (3, "totally unrelated words about completely different topics here now"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        (r.doc_a, r.doc_b): r
        for r in docs_edit_similarity_pairs(spark, sf).collect()
    }

    assert (0, 1) in got, "revision twin must be a candidate pair"
    assert (0, 2) in got, "block-reordered twin must be a candidate pair"
    assert got[(0, 1)].edit_verified, "revision twin must verify"
    assert not got[(0, 2)].edit_verified, (
        "block-reordered twin shares shingles but not char structure — "
        "the edit verify stage exists to reject exactly this pair"
    )

    texts = dict(rows)
    for (a, b), r in got.items():
        want = _lev(texts[a], texts[b])
        assert r.edit_distance == want
        sim = round(1.0 - want / max(len(texts[a]), len(texts[b])), 6)
        assert abs(r.edit_similarity - sim) < 1e-9
        assert r.edit_verified == (sim >= EDIT_SIM_THRESHOLD)


def test_pca_power_matches_numpy_eigendecomposition(spark):
    """Replay the WHOLE pipeline in numpy from the raw parquet: same
    micro-quantized moments, same covariance formula — then check the
    returned component against numpy's exact eigendecomposition. The
    fixture spectrum is near-degenerate (top eigenvalues within ~1.3%),
    the worst case for power iteration, so the bounds have teeth."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        embeddings_pca_power,
    )

    got = (
        embeddings_pca_power(spark, SF_DIR)
        .toPandas()
        .sort_values("dim_idx")
        .reset_index(drop=True)
    )
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    S = np.round(np.einsum("ni,nj->nij", X, X) * 1e6).sum(axis=0)
    M = np.round(X * 1e6).sum(axis=0)
    n = len(X)
    C = (S / 1e6) / n - np.outer((M / 1e6) / n, (M / 1e6) / n)
    evals, evecs = np.linalg.eigh(C)
    lam1, v1 = evals[-1], evecs[:, -1]

    v = got["loading"].to_numpy()
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4, "loadings must be unit-norm"
    lam = got["eigenvalue"].iloc[0]
    assert (got["eigenvalue"] == lam).all(), "one eigenvalue, repeated"
    assert lam >= 0.999 * lam1, f"Rayleigh quotient {lam} vs top {lam1}"
    assert lam <= lam1 + 1e-9, "Rayleigh can never exceed the top eigenvalue"
    assert abs(v @ v1) >= 0.97, f"|cos| to numpy eigenvector: {abs(v @ v1)}"
    evr = got["explained_variance_ratio"].iloc[0]
    assert abs(evr - lam / np.trace(C)) < 1e-5


def test_pca_power_rejects_ragged_embeddings(spark, tmp_path):
    """A corpus with a wrong-dimension embedding must FAIL LOUDLY —
    a silent misalignment would corrupt every moment cell."""
    import pytest as _pytest

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        embeddings_pca_power,
    )

    rows = [(0, [0.1] * 64, 1), (1, [0.2] * 32, 2)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    with _pytest.raises(Exception, match="embedding dim != 64"):
        embeddings_pca_power(spark, str(tmp_path))


def test_js_divergence_matches_python_replay(spark):
    """From-scratch pandas/math replay at sf0.001: same top-V
    vocabulary (count DESC, token ASC), same OOV completion, same
    per-term micro-nat quantization — exact integer equality on
    js_micro for every pair."""
    import math
    from collections import Counter

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        _JS_OOV,
        JS_TOP_V,
        docs_source_js_divergence,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    per_source: dict[str, Counter] = {}
    glob: Counter = Counter()
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        per_source.setdefault(r["source"], Counter()).update(toks)
        glob.update(toks)
    topv = set(
        t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:JS_TOP_V]
    )
    bucketed = {s: Counter() for s in per_source}
    for s, cnt in per_source.items():
        for t, c in cnt.items():
            bucketed[s][t if t in topv else _JS_OOV] += c
    totals = {s: sum(c.values()) for s, c in bucketed.items()}

    got = docs_source_js_divergence(spark, SF_DIR).toPandas()
    assert len(got) == len(totals) * (len(totals) - 1) // 2
    for r in got.itertuples():
        ca, cb = bucketed[r.source_a], bucketed[r.source_b]
        ta, tb = totals[r.source_a], totals[r.source_b]
        assert (r.tokens_a, r.tokens_b) == (ta, tb)
        js_micro = 0
        for t in set(ca) | set(cb):
            pa = ca.get(t, 0) / float(ta)
            pb = cb.get(t, 0) / float(tb)
            term = 0.0
            if ca.get(t, 0) > 0:
                term += 0.5 * (pa * math.log(2.0 * pa / (pa + pb)))
            if cb.get(t, 0) > 0:
                term += 0.5 * (pb * math.log(2.0 * pb / (pa + pb)))
            # HALF_UP like the engines
            js_micro += int(
                math.floor(abs(term) * 1e6 + 0.5) * (1 if term >= 0 else -1)
            )
        assert r.js_micro == js_micro, f"{r.source_a}/{r.source_b}"


def test_js_divergence_identical_and_disjoint_extremes(spark, tmp_path):
    """Contract extremes on a constructed corpus: a source paired with
    its verbatim twin scores JS 0; two disjoint-vocabulary sources
    score ln 2 (the JS maximum) within per-term quantization slack."""
    import math

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_source_js_divergence,
    )

    t1 = "apple banana cherry date elder fig grape"
    t2 = "umber violet walnut xenon yucca zinnia quartz"
    rows = [
        (0, t1, "en", "twin_a", len(t1)),
        (1, t1, "en", "twin_b", len(t1)),
        (2, t2, "en", "disjoint", len(t2)),
    ]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.source_a, r.source_b): r.js_divergence
        for r in docs_source_js_divergence(spark, str(tmp_path)).collect()
    }
    assert got[("twin_a", "twin_b")] == 0.0
    for pair in (("disjoint", "twin_a"), ("disjoint", "twin_b")):
        assert abs(got[pair] - math.log(2.0)) < 1e-4, got[pair]


def test_ccnet_buckets_match_python_replay(spark):
    """From-scratch replay of the tercile cut at sf0.001: recompute
    each doc's exact fixed-point mean-surprisal key from the REGISTERED
    surprisal scores, apply standard ntile(3) semantics per language
    (first n mod 3 tiles get the extra row), and reconcile every
    (lang, bucket) row."""
    from python_nyc_taxi_data_pipeline_spark.llm.lm import (
        docs_unigram_surprisal_filter,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_ccnet_perplexity_buckets,
    )

    scored = docs_unigram_surprisal_filter(spark, SF_DIR).toPandas()
    langs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "lang"]]
    df = scored.merge(langs, on="doc_id")
    df["key"] = (df["sum_surprisal_micro"] * 1_000_000) // df["n_tokens"]

    want = {}
    for lang, g in df.groupby("lang"):
        g = g.sort_values(["key", "doc_id"]).reset_index(drop=True)
        n = len(g)
        base, extra = divmod(n, 3)
        sizes = [base + (1 if i < extra else 0) for i in range(3)]
        start = 0
        for tile, label in zip(sizes, ("head", "middle", "tail")):
            part = g.iloc[start : start + tile]
            start += tile
            want[(lang, label)] = (
                len(part),
                int(part["n_tokens"].sum()),
                part["mean_surprisal_micro"].min(),
                part["mean_surprisal_micro"].max(),
            )

    got = docs_ccnet_perplexity_buckets(spark, SF_DIR).toPandas()
    assert len(got) == len(want)
    for r in got.itertuples():
        w = want[(r.lang, r.bucket)]
        assert (r.n_docs, r.token_mass) == (w[0], w[1]), (r.lang, r.bucket)
        assert r.mean_surprisal_min == w[2]
        assert r.mean_surprisal_max == w[3]
    # head must be the LOW-surprisal tercile in every language
    for lang in got["lang"].unique():
        h = got[(got.lang == lang) & (got.bucket == "head")].iloc[0]
        t = got[(got.lang == lang) & (got.bucket == "tail")].iloc[0]
        assert h.mean_surprisal_max <= t.mean_surprisal_min


def test_dup_cluster_report_reconciles_with_clusters(spark):
    """Pandas replay from the REGISTERED cluster assignments: the
    report's ledger must reconcile exactly — per-size rows rebuilt
    from a groupby of docs_dup_clusters, and the whole table summing
    back to the corpus doc/token totals."""
    from python_nyc_taxi_data_pipeline_spark.llm.clusters import (
        docs_dup_clusters,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_dup_cluster_report,
    )

    clus = docs_dup_clusters(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    docs["ntok"] = docs["text"].map(lambda t: len(t.split(" ")))
    m = clus.merge(docs[["doc_id", "ntok"]], on="doc_id")

    percl = m.groupby("cluster_rep").agg(
        sz=("doc_id", "size"),
        tok=("ntok", "sum"),
    )
    rep_tok = m[m.doc_id == m.cluster_rep].set_index("cluster_rep")["ntok"]
    percl["rep_tok"] = rep_tok
    assert percl["rep_tok"].notna().all(), "every cluster keeps its rep"

    got = docs_dup_cluster_report(spark, SF_DIR).toPandas()
    want = percl.groupby("sz").agg(
        n_clusters=("tok", "size"),
        token_mass=("tok", "sum"),
        rep_mass=("rep_tok", "sum"),
    )
    assert set(got["cluster_size"]) == set(want.index)
    for r in got.itertuples():
        w = want.loc[r.cluster_size]
        assert r.n_clusters == w["n_clusters"]
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.docs_removed == (r.cluster_size - 1) * r.n_clusters
        assert r.token_mass == w["token_mass"]
        assert r.tokens_removed == w["token_mass"] - w["rep_mass"]
    # whole-corpus reconciliation
    assert got["n_docs"].sum() == len(docs)
    assert got["token_mass"].sum() == docs["ntok"].sum()


def test_bbit_calibration_matches_signature_replay(spark):
    """Recompute the b-bit estimate from the COLLECTED full-width
    signatures (ground truth for the masking + debias formula, while
    the k-perm family's own tests pin the signatures themselves) and
    re-derive every bound verdict."""
    from python_nyc_taxi_data_pipeline_spark.catalog import load
    from python_nyc_taxi_data_pipeline_spark.llm.dedup import (
        MINHASH_PERMS,
        hashed_shingle_table,
        minhash_signature,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        BBIT_B,
        BBIT_EST_ERR_CEILING,
        docs_minhash_bbit_calibration,
    )

    d = load(spark, SF_DIR, "documents")
    g = hashed_shingle_table(spark, d)
    sigs = {
        r["doc_id"]: r["sig"]
        for r in g.select(
            "doc_id", minhash_signature(F.col("grams")).alias("sig")
        ).collect()
    }
    grams = {r["doc_id"]: set(r["grams"]) for r in g.collect()}

    rows = docs_minhash_bbit_calibration(spark, SF_DIR).collect()
    assert len(rows) > 0
    mask = (1 << BBIT_B) - 1
    inv = 1.0 / (1 << BBIT_B)
    for r in rows:
        sa = [h & mask for h in sigs[r.doc_a]]
        sb = [h & mask for h in sigs[r.doc_b]]
        m = sum(a == b for a, b in zip(sa, sb)) / MINHASH_PERMS
        est = (m - inv) / (1.0 - inv)
        ga, gb = grams[r.doc_a], grams[r.doc_b]
        exact = len(ga & gb) / len(ga | gb)
        assert abs(r.jaccard - round(exact, 6)) < 1e-9
        assert r.est_err_bounded == (
            abs(est - exact) <= BBIT_EST_ERR_CEILING
        ), (r.doc_a, r.doc_b)
        assert r.est_err_bounded, "fixture pairs must all calibrate"


def test_ccnet_histogram_cut_matches_pandas_replay(spark):
    """From-scratch pandas replay of the sortless cut at sf0.001:
    same fixed-point keys, same 2^26 bins, same cumulative boundary
    rule, same exact-ntile comparison — every per-language row must
    reproduce exactly, and at least one language must show REAL
    disagreement (rate < 1) so the contract is measuring something."""
    from python_nyc_taxi_data_pipeline_spark.llm.lm import (
        docs_unigram_surprisal_filter,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        CCNET_HIST_BIN,
        docs_ccnet_histogram_cut_contract,
    )

    scored = docs_unigram_surprisal_filter(spark, SF_DIR).toPandas()
    langs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "lang"]]
    df = scored.merge(langs, on="doc_id")
    df["k"] = (df["sum_surprisal_micro"] * 1_000_000) // df["n_tokens"]
    df["bin"] = df["k"] // CCNET_HIST_BIN

    want = {}
    for lang, g in df.groupby("lang"):
        g = g.sort_values(["k", "doc_id"]).reset_index(drop=True)
        n = len(g)
        base, extra = divmod(n, 3)
        nt = (
            [1] * (base + (1 if extra > 0 else 0))
            + [2] * (base + (1 if extra > 1 else 0))
            + [3] * base
        )
        g["nt"] = nt
        cum = g.groupby("bin").size().sort_index().cumsum()
        b1 = cum[cum * 3 >= n].index.min()
        b2 = cum[cum * 3 >= 2 * n].index.min()
        ab = g["bin"].map(lambda b: 1 if b <= b1 else (2 if b <= b2 else 3))
        agree = int((ab.values == g["nt"].values).sum())
        want[lang] = (n, agree, int(b1), int(b2))

    got = docs_ccnet_histogram_cut_contract(spark, SF_DIR).toPandas()
    assert len(got) == len(want)
    for r in got.itertuples():
        n, agree, b1, b2 = want[r.lang]
        assert (r.n_docs, r.n_agree) == (n, agree), r.lang
        assert (r.head_cut_bin, r.tail_cut_bin) == (b1, b2), r.lang
        assert r.agreement_rate == round(agree / n, 6)
        assert r.agreement_ok
    assert (got["agreement_rate"] < 1.0).any(), (
        "no boundary flips anywhere — the bin width has drifted back "
        "to a degenerate regime and the contract is vacuous"
    )


def test_abc_classes_match_pandas_replay(spark):
    """From-scratch pandas replay of the per-brand Pareto cut using
    Python Decimal for the revenue accumulation (mirroring the
    DECIMAL(18,4) discipline) — every (brand, class) row reconciles,
    and classes partition each brand's parts."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        lineitem_brand_abc_classes,
    )

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_partkey", "l_extendedprice", "l_discount"]
    ]
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")[["p_partkey", "p_brand"]]
    q4 = Decimal("0.0001")

    def rev_row(r):
        return Decimal(repr(r.l_extendedprice * (1 - r.l_discount))).quantize(
            q4, rounding=ROUND_HALF_UP
        )

    li = li.assign(rev=[rev_row(r) for r in li.itertuples()])
    m = li.merge(part, left_on="l_partkey", right_on="p_partkey")

    want = {}
    for brand, g in m.groupby("p_brand"):
        per = (
            g.groupby("l_partkey")["rev"].apply(lambda s: sum(s, Decimal(0)))
            .reset_index()
        )
        per = per.sort_values(
            ["rev", "l_partkey"], ascending=[False, True]
        ).reset_index(drop=True)
        total = sum(per["rev"], Decimal(0))
        cum = Decimal(0)
        classes = []
        for r in per.itertuples():
            cum += r.rev
            if cum * 10 <= total * 8:
                classes.append("A")
            elif cum * 20 <= total * 19:
                classes.append("B")
            else:
                classes.append("C")
        per["cls"] = classes
        for cls, cg in per.groupby("cls"):
            crev = sum(cg["rev"], Decimal(0))
            want[(brand, cls)] = (
                len(cg),
                round(float(crev), 2),
                round(float(crev) / float(total), 6),
            )

    got = lineitem_brand_abc_classes(spark, SF_DIR).toPandas()
    assert len(got) == len(want)
    for r in got.itertuples():
        n, crev, share = want[(r.p_brand, r.abc_class)]
        assert r.n_parts == n, (r.p_brand, r.abc_class)
        assert abs(r.class_revenue - crev) < 0.02, (r.p_brand, r.abc_class)
        assert abs(r.revenue_share - share) < 1e-5
    # Pareto sanity: within every brand the A share is the largest and
    # the three shares sum to ~1
    for brand, g in got.groupby("p_brand"):
        s = g.set_index("abc_class")["revenue_share"]
        assert abs(s.sum() - 1.0) < 1e-4
        assert s.get("A", 0) >= s.get("C", 0)


def test_js_divergence_oov_bucket_engages_beyond_top_v(spark, tmp_path):
    """The fixture vocabulary (31 words) never overflows JS_TOP_V=64,
    so the OOV completion is invisible there. Construct a corpus with
    > 64 distinct words and verify (a) the result matches the DuckDB
    twin (the driver-gate check on the path the fixtures skip) and
    (b) a pure-Python replay WITH the OOV bucket reproduces js_micro,
    while one WITHOUT it does not — proving the bucket is engaged."""
    import math
    from collections import Counter

    import duckdb as _duck

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        _JS_OOV,
        JS_TOP_V,
        docs_source_js_divergence,
    )

    # 40 shared head words repeated (land in top-V) + 60 rare words
    # split disjointly between the sources (overflow into OOV).
    head = [f"common{i}" for i in range(40)]
    rare_a = [f"alpha{i}" for i in range(30)]
    rare_b = [f"beta{i}" for i in range(30)]
    text_a = " ".join(head * 3 + rare_a)
    text_b = " ".join(head * 3 + rare_b)
    rows = [(0, text_a, "en", "src_a", len(text_a)),
            (1, text_b, "en", "src_b", len(text_b))]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = docs_source_js_divergence(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]

    con = _duck.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    duck = con.execute(QUERIES["docs_source_js_divergence"].oracle).fetchdf()
    assert len(duck) == 1
    assert int(duck["js_micro"].iloc[0]) == r.js_micro

    def replay(with_oov: bool) -> int:
        counts = {"src_a": Counter(text_a.split(" ")),
                  "src_b": Counter(text_b.split(" "))}
        glob = counts["src_a"] + counts["src_b"]
        topv = set(
            t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:JS_TOP_V]
        )
        b = {}
        for s, cnt in counts.items():
            c = Counter()
            for t, n in cnt.items():
                if t in topv:
                    c[t] += n
                elif with_oov:
                    c[_JS_OOV] += n
            b[s] = c
        ta, tb = sum(b["src_a"].values()), sum(b["src_b"].values())
        total = 0
        for t in set(b["src_a"]) | set(b["src_b"]):
            pa = b["src_a"].get(t, 0) / float(ta)
            pb = b["src_b"].get(t, 0) / float(tb)
            term = 0.0
            if b["src_a"].get(t, 0) > 0:
                term += 0.5 * (pa * math.log(2.0 * pa / (pa + pb)))
            if b["src_b"].get(t, 0) > 0:
                term += 0.5 * (pb * math.log(2.0 * pb / (pa + pb)))
            total += int(math.floor(abs(term) * 1e6 + 0.5) * (1 if term >= 0 else -1))
        return total

    assert r.js_micro == replay(with_oov=True)
    assert r.js_micro != replay(with_oov=False), (
        "OOV bucket made no difference — the constructed vocabulary "
        "failed to overflow top-V and this test is vacuous"
    )


def test_filter_agreement_matches_python_replay(spark):
    """Recompute the full contingency table and Cohen's kappa in pure
    Python from the ensemble votes — every cell and both floats must
    reproduce."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_quality_ensemble,
        docs_quality_filter_agreement,
    )

    votes = docs_quality_ensemble(spark, SF_DIR).toPandas()
    got = docs_quality_filter_agreement(spark, SF_DIR).toPandas()
    assert len(got) == 3
    for r in got.itertuples():
        a = votes[f"{r.filter_a}_keep"].to_numpy()
        b = votes[f"{r.filter_b}_keep"].to_numpy()
        n = len(votes)
        bk = int((a & b).sum())
        bd = int((~a & ~b).sum())
        oa = int((a & ~b).sum())
        ob = int((~a & b).sum())
        assert (r.n_docs, r.n_both_keep, r.n_both_drop) == (n, bk, bd)
        assert (r.n_only_a, r.n_only_b) == (oa, ob)
        po = (bk + bd) / n
        pa = (bk + oa) / n
        pb = (bk + ob) / n
        pe = pa * pb + (1.0 - pa) * (1.0 - pb)
        assert r.agreement_rate == round(po, 6)
        if 1.0 - pe == 0.0:
            assert pd.isna(r.cohen_kappa)
        else:
            assert r.cohen_kappa == round((po - pe) / (1.0 - pe), 6)


def test_filter_agreement_degenerate_marginals_yield_null_kappa(
    spark, tmp_path
):
    """A corpus of identical clean docs makes every filter keep
    everything: agreement 1.0, chance agreement 1.0, kappa undefined —
    the report must say NULL, not divide by zero."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        docs_quality_filter_agreement,
    )

    words = ("the quick brown fox and the lazy dog ran over the green "
             "hill with steady pace while birds sang songs of summer "
             "mornings bright")
    rows = [(i, words, "en", "web", len(words)) for i in range(4)]
    spark.createDataFrame(rows, _DOC_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = docs_quality_filter_agreement(spark, str(tmp_path)).toPandas()
    assert len(got) == 3
    assert (got["agreement_rate"] == 1.0).all()
    assert got["cohen_kappa"].isna().all()


def test_gold_ivm_equals_full_recompute_and_kills_empty_groups(spark):
    """The IVM path (stored aggregate ⊕ feed deltas) must equal an
    INDEPENDENT full recompute over the merged table, row for row —
    and any customer whose every order was deleted must vanish from
    the maintained view rather than linger at n=0."""
    from python_nyc_taxi_data_pipeline_spark.operators.merge_into import (
        merge_into_orders,
    )
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        orders_gold_ivm,
    )

    ivm = (
        orders_gold_ivm(spark, SF_DIR)
        .toPandas()
        .sort_values("o_custkey")
        .reset_index(drop=True)
    )
    recompute = (
        merge_into_orders(spark, SF_DIR)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_spend"),
        )
        .toPandas()
        .sort_values("o_custkey")
        .reset_index(drop=True)
    )
    assert len(ivm) == len(recompute)
    assert (ivm["o_custkey"] == recompute["o_custkey"]).all()
    assert (ivm["n_orders"] == recompute["n_orders"]).all()
    assert (ivm["total_spend"] == recompute["total_spend"]).all()

    # group-death: the base aggregate must have MORE groups than the
    # maintained view whenever deletes wiped a customer out entirely
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    base_groups = orders["o_custkey"].nunique()
    survivors = set(ivm["o_custkey"])
    dead = {
        ck
        for ck, g in orders.groupby("o_custkey")
        if all(k % 10 == 7 for k in g["o_orderkey"])
    }
    assert survivors.isdisjoint(dead)
    assert len(survivors) == base_groups - len(dead)


def test_conversion_funnel_matches_python_replay(spark):
    """Replay the windowed funnel semantics per user in pure Python
    (sort events, scan once tracking the latest view / latest
    qualifying click) and compare the step counts — localizes a break
    to the window-frame construction that the oracle hash can only
    flag wholesale."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        FUNNEL_WINDOW_HOURS,
        events_conversion_funnel,
    )

    got = (
        events_conversion_funnel(spark, SF_DIR)
        .toPandas()
        .sort_values("step")
        .reset_index(drop=True)
    )
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    win = pd.Timedelta(hours=FUNNEL_WINDOW_HOURS)
    n1 = n2 = n3 = 0
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        last_view = last_qual_click = None
        r1 = r2 = r3 = False
        for _, row in g.iterrows():
            t, k = row["ts"], row["event_type"]
            if k == "view":
                r1 = True
            elif k == "click" and last_view is not None and t <= last_view + win:
                r2 = True
            elif (
                k == "purchase"
                and last_qual_click is not None
                and t <= last_qual_click + win
            ):
                r3 = True
            # update running state AFTER classifying (strict precedence)
            if k == "view":
                last_view = t
            elif k == "click" and last_view is not None and t <= last_view + win:
                last_qual_click = t
        n1 += r1
        n2 += r2
        n3 += r3
    assert list(got["n_users"]) == [n1, n2, n3]
    # funnel monotonicity is structural: each step requires the prior
    assert n1 >= n2 >= n3 > 0


def test_blocking_pairs_complete_within_window(spark):
    """Brute-force every within-block pair at sf0.001 and check the
    emitted set is EXACTLY the pairs at sorted-rank distance <= W that
    clear the integer Jaccard cut — completeness (no neighbor missed)
    and soundness (no out-of-window or sub-threshold pair) together."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        SNM_DEN,
        SNM_NUM,
        SNM_WINDOW,
        part_blocking_pairs,
    )

    got = part_blocking_pairs(spark, SF_DIR).toPandas()
    parts = pd.read_parquet(f"{SF_DIR}/part.parquet")
    parts["block"] = parts["p_name"].str.split(" ").str[0]
    expected = set()
    for _, g in parts.groupby("block"):
        g = g.sort_values(["p_name", "p_partkey"]).reset_index(drop=True)
        words = [set(n.split(" ")) for n in g["p_name"]]
        for i in range(len(g)):
            for j in range(i + 1, min(i + SNM_WINDOW, len(g) - 1) + 1):
                inter = len(words[i] & words[j])
                union = len(words[i] | words[j])
                if inter * SNM_DEN >= union * SNM_NUM:
                    expected.add(
                        (g["p_partkey"][i], g["p_partkey"][j], inter, union)
                    )
    emitted = {
        (r.a_partkey, r.b_partkey, r.shared_words, r.union_words)
        for r in got.itertuples()
    }
    assert emitted == expected


def test_kneser_ney_matches_python_replay(spark):
    """Recompute the FULL KN table in pure Python at sf0.001 and
    compare the emitted head row-for-row (counts exactly, p_kn to the
    same 6-dp rounding). Also asserts the KN invariant the emitted
    slice can't show on its own: summed over the whole vocabulary,
    P_KN(*|w1) is a probability distribution (≈1 per context)."""
    import math
    from collections import Counter, defaultdict

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        KN_DISCOUNT,
        KN_TOP,
        docs_kneser_ney_bigrams,
    )

    got = docs_kneser_ney_bigrams(spark, SF_DIR).toPandas()
    assert len(got) == KN_TOP
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    bg: Counter = Counter()
    for text in docs["text"]:
        w = text.split(" ")
        for a, b in zip(w, w[1:]):
            bg[(a, b)] += 1
    n_prefix: Counter = Counter()
    n_follow: Counter = Counter()
    n_prec: Counter = Counter()
    for (a, b), n in bg.items():
        n_prefix[a] += n
        n_follow[a] += 1
        n_prec[b] += 1
    n_types = len(bg)

    def p_kn(a: str, b: str) -> float:
        return (max(bg[(a, b)] - KN_DISCOUNT, 0.0) / n_prefix[a]) + (
            (KN_DISCOUNT * n_follow[a] / n_prefix[a]) * (n_prec[b] / n_types)
        )

    head = sorted(bg.items(), key=lambda kv: (-kv[1], kv[0]))[:KN_TOP]
    assert [(a, b) for (a, b), _ in head] == list(zip(got["w1"], got["w2"]))
    for (a, b), n in head:
        row = got[(got["w1"] == a) & (got["w2"] == b)].iloc[0]
        assert row["n_bigram"] == n
        assert row["n_prefix"] == n_prefix[a]
        assert row["n_follow_types"] == n_follow[a]
        assert row["n_prec_types"] == n_prec[b]
        assert math.isclose(row["p_kn"], round(p_kn(a, b), 6), abs_tol=1e-9)

    # distribution check over full contexts: sum_b P_KN(b|a) == 1 when
    # b ranges over the vocabulary — continuation mass must close the
    # discount hole exactly IF sum_b Pcont(b) over observed followers
    # were 1; with Pcont normalized by bigram types it is, by design:
    follows: defaultdict[str, list[str]] = defaultdict(list)
    for a, b in bg:
        follows[a].append(b)
    vocab_prec_total = sum(n_prec.values())
    assert vocab_prec_total == n_types  # each bigram type counted once
    for a in list(follows)[:25]:
        full = sum(p_kn(a, b) for b in n_prec)  # all possible followers
        assert math.isclose(full, 1.0, rel_tol=1e-9), a


def test_k_anonymity_matches_pandas_replay(spark):
    """Recompute the equivalence classes and every per-threshold count
    in pandas; also pin the structural identities (records partition
    across below/at-or-above k; pct_anonymous consistent with counts)."""
    import math

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        KANON_THRESHOLDS,
        customer_k_anonymity,
    )

    got = (
        customer_k_anonymity(spark, SF_DIR)
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    c = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    c["bal_bucket"] = (c["c_acctbal"] / 1000.0).apply(math.floor)
    sizes = c.groupby(
        ["c_nationkey", "c_mktsegment", "bal_bucket"]
    ).size()
    for _, row in got.iterrows():
        k = row["k"]
        assert k in KANON_THRESHOLDS
        below = sizes[sizes < k]
        assert row["n_classes"] == len(sizes)
        assert row["n_classes_below_k"] == len(below)
        assert row["n_records_below_k"] == below.sum()
        assert row["n_records"] == len(c)
        assert row["pct_anonymous"] == round(
            (len(c) - below.sum()) / len(c), 6
        )
    # thresholds are increasing, so at-risk counts are monotone
    assert got["n_records_below_k"].is_monotonic_increasing


def test_interarrival_entropy_matches_python_replay(spark):
    """Replay the gap -> digit-bucket -> quantized-entropy pipeline per
    user in pure Python (pandas timestamps carry the same microsecond
    integers) and compare entropy_micro EXACTLY — the quantization
    contract, not an isclose."""
    import math

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        LOW_ENTROPY_MICRO,
        events_interarrival_entropy,
    )

    got = events_interarrival_entropy(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    expected = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        us = g["ts"].astype("int64")  # ns -> exact integer
        gaps = [(b - a) // 1000 for a, b in zip(us, us[1:])]
        if not gaps:
            continue
        buckets: dict[int, int] = {}
        for gap in gaps:
            buckets[len(str(gap))] = buckets.get(len(str(gap)), 0) + 1
        n = len(gaps)
        ent = 0
        for n_b in buckets.values():
            p = n_b / n
            # decimal HALF_UP at micro, matching F.round/duck round
            t = -p * math.log(p) * 1e6
            ent += int(math.floor(t + 0.5))
        expected[uid] = (n, len(buckets), ent)
    assert len(got) == len(expected)
    for r in got.itertuples():
        n, nb, ent = expected[r.user_id]
        assert (r.n_gaps, r.n_buckets, r.entropy_micro) == (n, nb, ent), (
            r.user_id
        )
        assert r.low_entropy_flag == (ent < LOW_ENTROPY_MICRO)
    # the signal must discriminate at fixture scale: entropy varies
    assert got["entropy_micro"].nunique() > 1


def test_rfm_segments_match_pandas_replay(spark):
    """Recompute RFM metrics, histogram-cut boundaries, and quintile
    scores in pandas with the identical cross-multiplied boundary rule
    and compare every score — plus the structural pins: scores live in
    1..5 and each metric's quintile populations are within one
    histogram bucket of balanced (ties can only overfill)."""
    from decimal import Decimal

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        RFM_MONETARY_BUCKET_CENTS,
        RFM_QS,
        orders_rfm_segments,
    )

    got = orders_rfm_segments(spark, SF_DIR).toPandas()
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    ref = o["o_orderdate"].max()
    g = o.groupby("o_custkey")
    rfm = pd.DataFrame(
        {
            # whole 24 h periods between instants — the timezone-free
            # recency contract (timestampdiff(DAY) / epoch_us DIV)
            "recency_days": (ref - g["o_orderdate"].max()).dt.days,
            "frequency": g.size(),
            "monetary_cents": g["o_totalprice"].apply(
                lambda s: int(
                    sum(round(Decimal(str(x)), 2) for x in s) * 100
                )
            ),
        }
    )
    buckets = {
        "r": rfm["recency_days"],
        "f": rfm["frequency"],
        "m": rfm["monetary_cents"] // RFM_MONETARY_BUCKET_CENTS,
    }

    def quintile(vals: pd.Series) -> pd.Series:
        hist = vals.value_counts().sort_index()
        cum = hist.cumsum()
        n = len(vals)
        bnds = [cum.index[(cum * 5 >= q * n)][0] for q in RFM_QS]
        return vals.apply(lambda v: 1 + sum(v > b for b in bnds))

    r_q, f_q, m_q = (
        quintile(buckets[m]).sort_index() for m in ("r", "f", "m")
    )
    rfm = rfm.sort_index()
    got = got.set_index("o_custkey").sort_index()
    assert (got["recency_days"] == rfm["recency_days"]).all()
    assert (got["frequency"] == rfm["frequency"]).all()
    assert (got["monetary_cents"] == rfm["monetary_cents"]).all()
    assert (got["r_score"] == (6 - r_q)).all()
    assert (got["f_score"] == f_q).all()
    assert (got["m_score"] == m_q).all()
    for col in ("r_score", "f_score", "m_score"):
        assert got[col].between(1, 5).all()
    # quintile balance: boundaries are min buckets crossing q/5, so no
    # quintile's cumulative boundary undershoots its target rank
    n = len(rfm)
    for q_series in (f_q, m_q):
        cum = 0
        for q in (1, 2, 3, 4):
            cum += (q_series == q).sum()
            assert cum * 5 >= q * n


def test_benford_audit_matches_decimal_replay(spark):
    """Recompute the digit histogram from exact Decimal cents in
    pandas, the chi-square terms from the same embedded Benford
    literals, and every emitted column; pin the structural identities
    (9 rows, shares sum to ~1e6 micro, flag consistent with total)."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        BENFORD_CHI2_CRIT_MICRO,
        BENFORD_P,
        orders_benford_audit,
    )

    got = (
        orders_benford_audit(spark, SF_DIR)
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    # mirror the query: filter on DERIVED cents (>= 1), not raw price —
    # a price in (0, 0.005) rounds to 0 cents and must be excluded
    cents = [
        c
        for c in (
            int(Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
            for v in o["o_totalprice"]
        )
        if c >= 1
    ]
    counts = {d: 0 for d in range(1, 10)}
    for c in cents:
        counts[int(str(c)[0])] += 1
    n_total = sum(counts.values())
    assert list(got["digit"]) == list(range(1, 10))
    assert (got["n_total"] == n_total).all()
    chi2_total = 0
    for i, d in enumerate(range(1, 10)):
        row = got.iloc[i]
        assert row["n_obs"] == counts[d]
        e = n_total * BENFORD_P[i]
        term = round((counts[d] - e) * (counts[d] - e) / e * 1e6)
        assert row["chi2_term_micro"] == term
        assert row["exp_share_micro"] == round(BENFORD_P[i] * 1e6)
        assert row["obs_share_micro"] == round(counts[d] / n_total * 1e6)
        chi2_total += term
    assert (got["chi2_total_micro"] == chi2_total).all()
    assert (got["benford_reject"] == (chi2_total > BENFORD_CHI2_CRIT_MICRO)).all()
    # shares are a (quantized) probability distribution
    assert abs(got["obs_share_micro"].sum() - 1_000_000) <= 9


def test_column_profile_matches_pandas_replay(spark):
    """Re-render every column through the same canonicalization in
    pandas and recompute n/null/distinct/min/max/rates."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        PROFILE_COLS,
        orders_column_profile,
    )

    got = orders_column_profile(spark, SF_DIR).toPandas().set_index("col_name")
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")

    def canon(name):
        s = o[name]
        if name in ("o_orderkey", "o_custkey"):
            return s.map(lambda v: str(int(v)))
        if name == "o_totalprice":
            return s.map(
                lambda v: str(
                    Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
                )
            )
        if name == "o_orderdate":
            return s.dt.strftime("%Y-%m-%d %H:%M:%S")
        return s

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        PROFILE_MINMAX,
    )

    orderable = {name for name, _, _, _, _ in PROFILE_MINMAX}
    assert set(got.index) == {name for name, _, _ in PROFILE_COLS}
    for name, _, _ in PROFILE_COLS:
        vals = canon(name)
        row = got.loc[name]
        assert row["n_rows"] == len(o)
        assert row["n_nulls"] == vals.isna().sum()
        assert row["n_distinct"] == vals.dropna().nunique()
        if name in orderable:
            # NATIVE-order min/max, rendered canonically afterwards
            # (string-side lexicographic min/max would differ for
            # variable-width numerics: "999.00" > "10000.00")
            if name in ("o_orderkey", "o_custkey"):
                lo, hi = str(int(o[name].min())), str(int(o[name].max()))
            elif name == "o_totalprice":
                dec = o[name].map(
                    lambda v: Decimal(str(v)).quantize(
                        Decimal("0.01"), ROUND_HALF_UP
                    )
                )
                lo, hi = str(dec.min()), str(dec.max())
            else:
                lo = o[name].min().strftime("%Y-%m-%d %H:%M:%S")
                hi = o[name].max().strftime("%Y-%m-%d %H:%M:%S")
            assert row["min_value"] == lo
            assert row["max_value"] == hi
        else:
            # Deequ's line: free-form strings get cardinality, not
            # min/max (exact string min/max = SortAggregate fallback)
            assert pd.isna(row["min_value"]) and pd.isna(row["max_value"])
        assert row["null_rate"] == round(vals.isna().sum() / len(o), 6)
        assert row["distinct_rate"] == round(
            vals.dropna().nunique() / len(o), 6
        )


def test_mad_outliers_matches_numpy_replay(spark):
    """np.median is the same linear-interpolated quantile both engines
    compute; replay median/MAD/robust-z and the flag row-by-row."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        MAD_CONSISTENCY,
        MAD_Z_CUT,
        customer_mad_outliers,
    )

    got = (
        customer_mad_outliers(spark, SF_DIR)
        .toPandas()
        .set_index("c_custkey")
        .sort_index()
    )
    c = pd.read_parquet(f"{SF_DIR}/customer.parquet").set_index("c_custkey")
    med = float(np.median(c["c_acctbal"]))
    dev = (c["c_acctbal"] - med).abs()
    mad = float(np.median(dev))
    sigma = mad * MAD_CONSISTENCY
    assert len(got) == len(c)
    assert (got["med"] == round(med, 6)).all()
    assert (got["sigma_robust"] == round(sigma, 6)).all()
    expect_z = (dev / sigma).round(6).sort_index()
    assert (got["robust_z"] == expect_z).all()
    assert (
        got["is_outlier"] == (dev > MAD_Z_CUT * sigma).sort_index()
    ).all()
    # uniform-ish fixture balances: no 3-sigma tail, max z bounded by
    # the uniform-distribution ceiling (~1.35)
    assert not got["is_outlier"].any()
    assert got["robust_z"].max() < 2.0


def test_pagerank_matches_python_replay(spark):
    """Replay the full quantized iteration (edge aggregation in exact
    Decimal, pico-integer rank updates) in pure Python and compare
    every emitted column; pin mass conservation and discrimination."""
    from decimal import ROUND_HALF_UP, Decimal

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        PR_DAMP,
        PR_ITERS,
        PR_SCALE,
        nation_trade_pagerank,
    )

    got = (
        nation_trade_pagerank(spark, SF_DIR)
        .toPandas()
        .set_index("nation")
        .sort_index()
    )
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    su = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cu = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    na = pd.read_parquet(f"{SF_DIR}/nation.parquet")

    j = (
        li.merge(su, left_on="l_suppkey", right_on="s_suppkey")
        .merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cu, left_on="o_custkey", right_on="c_custkey")
    )
    edges: dict[tuple[int, int], int] = {}
    for src, dst, ep, disc in zip(
        j["s_nationkey"], j["c_nationkey"], j["l_extendedprice"], j["l_discount"]
    ):
        w = (Decimal(str(ep)) * (1 - Decimal(str(disc)))).quantize(
            Decimal("0.0001"), ROUND_HALF_UP
        )
        k = (int(src), int(dst))
        edges[k] = edges.get(k, 0) + int(w * 10000)
    w_out: dict[int, int] = {}
    w_in: dict[int, int] = {}
    for (s, d), w in edges.items():
        w_out[s] = w_out.get(s, 0) + w
        w_in[d] = w_in.get(d, 0) + w
    nodes = sorted(na["n_nationkey"])
    names = dict(zip(na["n_nationkey"], na["n_name"]))
    nd = float(len(nodes))

    # Spark/DuckDB round() is half-AWAY-FROM-ZERO; Python's built-in
    # round() is banker's (half-to-even). An exact .5 tie in the pico
    # quantization would diverge, so mirror the engines explicitly —
    # same ROUND_HALF_UP line the edge-weight replay above uses.
    def rhu(x: float) -> int:
        return int(Decimal(str(x)).quantize(Decimal("1"), ROUND_HALF_UP))

    pr = {n: rhu(PR_SCALE / nd) for n in nodes}
    for _ in range(PR_ITERS):
        dang = sum(pr[n] for n in nodes if n not in w_out)
        inc = {n: 0 for n in nodes}
        for (s, d), w in edges.items():
            inc[d] += rhu(float(pr[s]) * (w / w_out[s]))
        pr = {
            n: rhu((1.0 - PR_DAMP) * PR_SCALE / nd)
            + rhu(PR_DAMP * (dang / nd + float(inc[n])))
            for n in nodes
        }
    for n in nodes:
        row = got.loc[names[n]]
        assert row["pagerank_pico"] == pr[n], names[n]
        assert row["out_strength_e4"] == w_out.get(n, 0)
        assert row["in_strength_e4"] == w_in.get(n, 0)
        assert bool(row["is_dangling"]) == (n not in w_out)
    # probability mass conserved to within quantization drift: per
    # iteration each node rounds twice (+-0.5 each) AND each edge
    # contribution rounds once before the damped sum — the structural
    # bound is iterations * (2*nodes + edges) half-units
    drift_bound = PR_ITERS * (2 * len(nodes) + len(edges) + 2)
    assert abs(got["pagerank_pico"].sum() - PR_SCALE) <= drift_bound
    # weighted centrality discriminates: ranks are not all equal
    assert got["pagerank_pico"].nunique() > 1


def test_zorder_contract_matches_pandas_replay(spark):
    """Replay buckets, Morton codes, file assignment, zone maps, and
    pruning in pandas; pin the headline structural facts (z-order
    prunes the point predicate to 1/8 of files while linear scans all,
    both layouts prune the aligned day range identically, and no
    selected row is ever pruned — skipping is lossless)."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        L_FILE_SPAN,
        Z_DIM,
        Z_FILE_SPAN,
        ZPRED_CB,
        ZPRED_DB_HI,
        ZPRED_DB_LO,
        orders_zorder_skipping_contract,
    )

    got = (
        orders_zorder_skipping_contract(spark, SF_DIR)
        .toPandas()
        .set_index(["layout", "predicate"])
        .sort_index()
    )
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    day_idx = (o["o_orderdate"] - o["o_orderdate"].min()).dt.days
    max_day = int(day_idx.max())
    cb = (o["o_custkey"] % Z_DIM).astype(int)
    db = (day_idx * Z_DIM // (max_day + 1)).astype(int)

    def morton(c, d):
        z = 0
        for i in range(8):
            z += (((c >> i) & 1) << (2 * i + 1)) + (((d >> i) & 1) << (2 * i))
        return z

    z = pd.Series([morton(c, d) for c, d in zip(cb, db)])
    frames = {
        "zorder": pd.DataFrame({"file": z // Z_FILE_SPAN, "cb": cb, "db": db}),
        "linear": pd.DataFrame(
            {"file": db // L_FILE_SPAN, "cb": cb, "db": db}
        ),
    }
    in_day = db.between(ZPRED_DB_LO, ZPRED_DB_HI)
    selected = {
        "cust_point": int((cb == ZPRED_CB).sum()),
        "day_range": int(in_day.sum()),
        "cust_and_day": int(((cb == ZPRED_CB) & in_day).sum()),
    }
    for layout, f in frames.items():
        zones = f.groupby("file").agg(
            mncb=("cb", "min"),
            mxcb=("cb", "max"),
            mndb=("db", "min"),
            mxdb=("db", "max"),
            nr=("cb", "size"),
        )
        for pred, (cbp, lo, hi) in {
            "cust_point": (ZPRED_CB, None, None),
            "day_range": (None, ZPRED_DB_LO, ZPRED_DB_HI),
            "cust_and_day": (ZPRED_CB, ZPRED_DB_LO, ZPRED_DB_HI),
        }.items():
            surv = zones.index.map(
                lambda fl: (
                    cbp is None
                    or zones.loc[fl, "mncb"] <= cbp <= zones.loc[fl, "mxcb"]
                )
                and (
                    lo is None
                    or (
                        zones.loc[fl, "mxdb"] >= lo
                        and zones.loc[fl, "mndb"] <= hi
                    )
                )
            )
            row = got.loc[(layout, pred)]
            assert row["n_files"] == len(zones)
            assert row["files_scanned"] == int(pd.Series(surv).sum())
            assert row["rows_scanned"] == int(zones.loc[list(surv), "nr"].sum())
            assert row["total_rows"] == len(o)
            assert row["selected_rows"] == selected[pred]
            # losslessness: scanned rows always cover the selected set
            assert row["rows_scanned"] >= row["selected_rows"]
    # the headline contract: multi-dim locality beats single-dim
    # (>=90%: a sparse small-SF zone can exclude the point by luck)
    lin_point = got.loc[("linear", "cust_point")]
    assert lin_point["files_scanned"] >= 0.9 * lin_point["n_files"]
    assert got.loc[("zorder", "cust_point"), "files_scanned"] <= 8
    # the day range aligns with the top 3 db bits, so BOTH layouts
    # prune it to at most 8 of 64 file slots (sparse small-SF z-files
    # can leave some of the 8 empty, hence <=, not ==)
    assert got.loc[("zorder", "day_range"), "files_scanned"] <= 8
    assert got.loc[("linear", "day_range"), "files_scanned"] <= 8
    assert (
        got.loc[("zorder", "cust_and_day"), "rows_scanned"]
        < got.loc[("linear", "cust_and_day"), "rows_scanned"]
    )


def test_triangles_match_python_replay(spark):
    """Rebuild the support-thresholded co-purchase graph in Python and
    count triangles/wedges by direct enumeration."""
    from itertools import combinations

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        TRI_MIN_SUPPORT,
        part_copurchase_triangles,
    )

    got = part_copurchase_triangles(spark, SF_DIR).toPandas().iloc[0]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(
        lambda s: sorted(set(s))
    )
    support: dict[tuple[int, int], int] = {}
    for parts in baskets:
        for a, b in combinations(parts, 2):
            support[(a, b)] = support.get((a, b), 0) + 1
    edges = {p for p, s in support.items() if s >= TRI_MIN_SUPPORT}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for a, b in edges:
        # oriented a<b; close with c>b so each triangle counts once
        tri += sum(
            1 for c in (adj[a] & adj[b]) if c > b and (b, c) in edges
        )
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    assert got["n_nodes"] == len(adj)
    assert got["n_edges"] == len(edges)
    assert got["n_triangles"] == tri
    assert got["n_wedges"] == wedges
    assert got["global_clustering_micro"] == round(3 * tri / wedges * 1e6)
    # sanity: clustering coefficient is a valid ratio
    assert 0 <= got["global_clustering_micro"] <= 1_000_000


def test_phrase_search_matches_python_replay(spark):
    """Replay every battery phrase with a sliding-window scan over the
    raw split words — the definitionally-correct (if unscalable)
    implementation — and compare (phrase, doc, count) sets exactly."""
    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        PHRASE_BATTERY,
        docs_phrase_search,
    )

    got = docs_phrase_search(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    expect: dict[tuple[str, int], int] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = text.split(" ")
        for ph in PHRASE_BATTERY:
            terms = ph.split(" ")
            n = sum(
                1
                for i in range(len(words) - len(terms) + 1)
                if words[i : i + len(terms)] == terms
            )
            if n:
                expect[(ph, doc_id)] = n
    got_map = {
        (r["phrase"], r["doc_id"]): r["n_matches"]
        for _, r in got.iterrows()
    }
    assert got_map == expect
    # every battery phrase hits the fixture (the battery stays
    # meaningful if the fixture is regenerated)
    assert {p for p, _ in got_map} == set(PHRASE_BATTERY)


def test_zorder_layout_prunes_real_parquet_rowgroups(spark, tmp_path):
    """End-to-end layout proof on REAL parquet artifacts: write orders
    once z-ordered and once date-ordered (same row-group size), read
    the actual footer min/max statistics back with pyarrow, and count
    the row groups a stats-pruning reader must touch for the customer
    point predicate. The staged contract simulates file assignment;
    this pins that genuinely-written footers reproduce its headline —
    Morton ordering localizes BOTH dimensions, date ordering only one."""
    import pyarrow.parquet as pq

    from python_nyc_taxi_data_pipeline_spark.llm.staged_r7 import (
        ZPRED_CB,
        zorder_bucketed,
    )

    # the SAME shared frame the staged contract consumes — the test
    # cannot drift from the query it certifies
    rz = zorder_bucketed(spark, SF_DIR)
    layouts = {
        "zorder": rz.orderBy("z"),
        "linear": rz.orderBy("db", "cb"),
    }
    n_rows = rz.count()
    rg_size = max(1, n_rows // 32)  # ~32 row groups either way
    touched = {}
    for name, df in layouts.items():
        path = str(tmp_path / f"{name}.parquet")
        # single file so pruning is purely row-group stats, not luck
        pdf = df.toPandas()
        import pyarrow as pa

        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            path,
            row_group_size=rg_size,
        )
        md = pq.ParquetFile(path).metadata
        cb_idx = md.schema.names.index("cb")
        hit = 0
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(cb_idx).statistics
            assert st.has_min_max
            if st.min <= ZPRED_CB <= st.max:
                hit += 1
        touched[name] = (hit, md.num_row_groups)
    z_hit, z_total = touched["zorder"]
    l_hit, l_total = touched["linear"]
    # date-ordered data scatters customers everywhere: a stats reader
    # touches (almost) every row group for the customer point query
    assert l_hit >= 0.9 * l_total
    # z-ordered data confines the customer bits: at 8 bits/dim and 32
    # row groups, at most ~half the groups can contain the point —
    # measured is ~1/4; assert the conservative bound
    assert z_hit <= 0.5 * z_total
    assert z_hit < l_hit
