"""Distributed BPE merge training (byte-pair encoding, word-level).

The tokenizer-training step of an LLM data pipeline: learn the first
``N_MERGES`` BPE merge rules from the corpus. Classic algorithm
(Sennrich et al. '16): split every word into characters plus an
end-of-word marker, then repeatedly merge the most frequent adjacent
symbol pair. The trained artifact is the ordered merge table.

Scale design (100 TB corpus):
- The corpus compresses to the DISTINCT-WORD frequency table first
  (one groupBy) — Zipf makes this orders of magnitude smaller than the
  corpus, and it is the only state the iteration touches. It is
  re-derived per round from a checkpointed base (symbol arrays stay
  distributed; nothing corpus-sized ever reaches the driver).
- Each round is: explode adjacent symbol pairs weighted by word freq
  (projection), ONE groupBy(a, b) sum shuffle, and a few-row ordered
  ``take`` (argmax with a deterministic ``count DESC, a, b``
  tie-break — a metadata-sized collect, not a corpus collect).
- The chosen rule is applied with a codegen ``aggregate`` lambda (a
  left fold over the symbol array that coalesces adjacent (a, b) into
  ab) — pure JVM expression, no Python, no shuffle.
- Lineage is truncated with an eager ``localCheckpoint`` every 3
  folds and at the end, so the plan does not grow O(rounds) (the same
  pattern as ``llm.clusters.connected_components``).
- One loop, ``bpe_train``, serves every budget. ``batch=1`` (the
  default, and what every registered query uses) is the exact greedy
  trainer. ``batch > 1`` applies the top-``batch`` NON-OVERLAPPING
  pairs per round, the standard fast-BPE approximation: its picks carry
  pre-round counts. Measured at 200 merges (``tools/scale_stress.py
  --bpe-only``, vocabulary-inflated sf0.1 fixture): ~0.19 s a merge at
  batch=1, fixed-overhead-dominated once the distinct-word table is
  small, and 2.4–3.4× faster at batch=8.

Cross-engine exactness: the DuckDB oracle REPLAYS the whole training
run as chained CTEs — same char split (``regexp_extract_all(word,
'.')`` in both engines), same fold (DuckDB ``list_reduce`` over
singleton lists), same argmax tie-break — so the merge table is
hash-checkable, not just shape-checked. Pair counts are exact integer
sums (order-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, local_frame
from ..registry import register

N_MERGES = 6
EOW = "▁"  # end-of-word marker (SentencePiece-style block char)


def _merge_col(left: str, right: str) -> Column:
    """Fold coalescing adjacent (left, right) symbols into one, built
    with the Column API so learned symbols are passed as bound literals
    (``F.lit``) — a symbol containing a quote or backslash can never
    break out of (or inject into) the generated expression."""
    lft, rgt, fused = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        F.col("syms"),
        F.array(F.lit(None).cast("string")),
        lambda acc, x: F.when(
            F.element_at(acc, -1).eqNullSafe(lft) & (x == rgt),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)), F.array(fused)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
        lambda acc: F.slice(acc, F.lit(2), F.size(acc) - F.lit(1)),
    )


# Every trainer call computes from the parquet fixtures: no merge table
# is memoised across calls, or every BPE consumer after the first would
# time a replay, not training. Within ONE query invocation the trained
# words frame is still shared by its own consumers (plan reuse).


def _base_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table with the initial char+EOW split."""
    from ..catalog import load_fanned

    # load_fanned (guide §2.5): the word explode + per-char regexp split
    # below otherwise runs on the fixture's single scan split; the guard
    # makes it a no-op once the corpus scan is wide.
    d = load_fanned(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.regexp_extract_all("word", F.lit("."), 0),
                F.array(F.lit(EOW)),
            ).alias("syms"),
        )
    )


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = N_MERGES,
    batch: int = 1,
    snapshot_rounds: tuple[int, ...] = (),
) -> tuple[list[tuple[int, str, str, int]], DataFrame, dict[int, DataFrame]]:
    """Train up to ``n_merges`` BPE merges; returns ``(merges, words,
    snapshots)``: the ordered merge list ``[(merge, left, right,
    pair_count)]``, the final distinct-word segmentation frame ``(word,
    freq, syms)`` (the vocabulary mapping ``docs_bpe_encode`` joins
    against) and ``{m: words frame after merge m}`` for each requested
    ``snapshot_rounds`` entry that training reached (0 = the char
    baseline).

    Each round runs one pair-count aggregate and one ordered ``take``,
    then applies up to ``batch`` mutually NON-OVERLAPPING pairs (no
    symbol in two picked pairs) in count order. ``batch=1`` is the exact
    greedy trainer — one argmax per merge, what the DuckDB oracles
    replay — and every registered query trains with it. ``batch > 1`` is
    the standard fast-BPE approximation: it amortizes the per-round job
    ~batch× but records every pick at its PRE-round count, and a merge
    can create a pair that would have out-counted a later pick.

    Greedy training is deterministic, so the state after m merges of one
    run IS the result of training to budget m: a budget curve trains one
    trajectory and reads its snapshots. Lineage is truncated with an
    eager ``localCheckpoint`` once 3 folds have accumulated since the
    last pin and when the budget is reached; replaying ≤2 fold
    projections over the pinned table is cheaper than a materialization
    job per merge, and the plan stays bounded."""
    words = _base_words(spark, sf_dir).localCheckpoint(eager=True)
    wanted = set(snapshot_rounds)
    snaps: dict[int, DataFrame] = {}
    merges: list[tuple[int, str, str, int]] = []
    unpinned = 0
    while len(merges) < n_merges:
        pairs = words.select(
            "freq",
            F.explode(
                # size < 2 guard: sequence(1, 0) would generate a
                # DESCENDING [1, 0] in Spark, not an empty array
                F.expr(
                    "case when size(syms) < 2 then"
                    " array() else transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i - 1] as a, syms[i] as b)) end"
                )
            ).alias("p"),
        ).select("freq", "p.a", "p.b")
        # over-fetch so the non-overlap filter can still fill the batch
        # after skipping conflicting pairs
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .take(4 * batch)
        )
        if not top:
            break
        used: set[str] = set()
        picked: list[tuple[str, str, int]] = []
        for row in top:
            a, b = row["a"], row["b"]
            if a in used or b in used:
                continue
            picked.append((a, b, int(row["pair_count"])))
            used.update((a, b, a + b))
            if len(picked) == min(batch, n_merges - len(merges)):
                break
        for a, b, cnt in picked:
            # the state after merge m is recorded as merge m + 1 starts,
            # so a round's last merge is recorded after its pin
            if len(merges) in wanted:
                snaps[len(merges)] = words
            merges.append((len(merges) + 1, a, b, cnt))
            words = words.select("word", "freq", _merge_col(a, b).alias("syms"))
        unpinned += len(picked)
        if unpinned >= 3 or len(merges) == n_merges:
            words = words.localCheckpoint(eager=True)
            unpinned = 0
    if len(merges) in wanted:
        snaps[len(merges)] = words
    return merges, words, snaps


def _duck_merge() -> str:
    """DuckDB fold equivalent of ``_merge_col``: reduce over singleton
    lists so the accumulator type matches the element type. The merge
    pair arrives as row columns ``bl``/``br`` (cross-joined from the
    round's 1-row best CTE — lambdas capture row columns, but not
    scalar subqueries). ``acc[:-2]`` drops the last element: DuckDB
    slice bounds are INCLUSIVE, so ``[:-1]`` would keep it."""
    return (
        "list_reduce(list_transform(syms, s -> [s]), (acc, x) ->"
        " CASE WHEN acc[-1] = bl AND x[1] = br"
        "      THEN acc[:-2] || [acc[-1] || x[1]]"
        "      ELSE acc || x END)"
    )


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    ctes = [
        f"""r0_words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             regexp_extract_all(word, '.') || ['{EOW}'] AS syms
      FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      )
      GROUP BY word
    )"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"r{r - 1}_words"
        ctes.append(
            f"""r{r}_pairs AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM {prev}, unnest(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""r{r}_best AS (
      SELECT a, b, pair_count FROM r{r}_pairs
      ORDER BY pair_count DESC, a, b LIMIT 1
    )"""
        )
        ctes.append(
            f"""r{r}_words AS (
      SELECT word, freq, {_duck_merge()} AS syms
      FROM {prev}, (SELECT a AS bl, b AS br FROM r{r}_best)
    )"""
        )
    return "WITH " + ",\n    ".join(ctes)


def _bpe_merges_oracle(n_merges: int = N_MERGES) -> str:
    finals = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, pair_count"
        f" FROM r{r}_best"
        for r in range(1, n_merges + 1)
    )
    return _bpe_oracle(n_merges) + f"\n    {finals}"


@register(
    "docs_bpe_merges", oracle=_bpe_merges_oracle(), tags=("llm", "tokenizer", "iterative")
)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {N_MERGES} BPE merge rules learned from the corpus: one
    row per round with the merged pair and its exact weighted count
    (see module docstring for the distributed loop)."""
    merges, _, _ = bpe_train(spark, sf_dir)
    return local_frame(
        spark,
        [(r, a, b, c) for r, a, b, c in merges],
        "round int, left_sym string, right_sym string, pair_count long",
    )


def _bpe_encode_oracle(n_merges: int = N_MERGES) -> str:
    return (
        _bpe_oracle(n_merges)
        + f"""
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(len(v.syms)) AS DOUBLE) / count(*), 4)
             AS bpe_per_word
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ) t JOIN r{n_merges}_words v USING (word)
    GROUP BY t.doc_id
    """
    )


def _bpe_fertility_oracle(n_merges: int = N_MERGES) -> str:
    return (
        _bpe_oracle(n_merges)
        + f"""
    SELECT t.source,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(len(v.syms)) AS DOUBLE) / count(*), 4)
             AS fertility,
           round(CAST(sum(len(t.word)) AS DOUBLE) / sum(len(v.syms)), 4)
             AS chars_per_token
    FROM (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ) t JOIN r{n_merges}_words v USING (word)
    GROUP BY t.source
    """
    )


@register(
    "docs_bpe_fertility_report",
    oracle=_bpe_fertility_oracle(),
    tags=("llm", "tokenizer"),
)
def docs_bpe_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per SOURCE under the trained merge table —
    the standard tokenizer-health report a curation pipeline runs
    before committing a vocabulary: sources whose text fragments into
    many tokens per word (high fertility) or few characters per token
    are poorly served by the tokenizer (wrong domain, boilerplate,
    encoding damage) and inflate training cost per useful character.

    Same vocabulary-join shape as ``docs_bpe_encode`` (corpus words
    join the tokenize-once-per-distinct-word table), rolled up by
    source instead of doc: one join + one low-cardinality groupBy with
    map-side combine. Counts are exact integers; the two ratios are
    single IEEE divisions rounded to 4 dp — bit-identical cross-engine."""
    _, vocab, _ = bpe_train(spark, sf_dir)
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        toks.join(vocab.select("word", F.size("syms").alias("n_sym")), "word")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 4
            ).alias("chars_per_token"),
        )
    )


@register("docs_bpe_encode", oracle=_bpe_encode_oracle(), tags=("llm", "tokenizer"))
def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer: per-doc BPE token counts under the
    learned merge table. The corpus is encoded by joining its exploded
    words against the DISTINCT-WORD segmentation the training loop
    already materialized — tokenize-once-per-distinct-word, then a
    corpus join on the word key (the standard vocabulary-join shape; at
    100 TB the join shuffles (doc_id, word) pairs against a
    vocab-sized table, never re-running the merge fold per occurrence).
    One groupBy(doc_id) rollup; counts are exact integers, the only
    float is one division rounded to 4 dp."""
    _, vocab, _ = bpe_train(spark, sf_dir)
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        toks.join(vocab.select("word", F.size("syms").alias("n_sym")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ).alias("bpe_per_word"),
        )
    )
