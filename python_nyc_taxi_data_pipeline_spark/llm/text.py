"""Text analysis operators for training-data curation: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All deterministic and JVM-side; the first three have exact DuckDB
oracles. The rules are intentionally simple, documented functions —
the engineering content is that they run as single-pass, codegen'd
column expressions over 100 TB of documents (no Python in the loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
}


def _words(text: Column) -> Column:
    return F.split(text, " ")


@register(
    "docs_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS regex_tokens,
           n_chars
    FROM documents
    """,
    tags=("llm", "text"),
)
def docs_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letter runs,
    digit runs, single punctuation) per document."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_words(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0)).alias(
            "regex_tokens"
        ),
        "n_chars",
    )


@register(
    "docs_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS chars_per_word,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN {STOPWORDS!r})) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           CASE WHEN len(string_split(text, ' ')) >= 50
                 AND round(CAST(len(list_filter(string_split(text, ' '),
                                                w -> w IN {STOPWORDS!r})) AS DOUBLE)
                           / len(string_split(text, ' ')), 4) BETWEEN 0.01 AND 0.6
                THEN 'keep' ELSE 'drop' END AS quality_bucket
    FROM documents
    """,
    tags=("llm", "text"),
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio quality gates (the classic cheap filters
    used before model-based quality scoring)."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words)
    stop_ratio = F.round(
        F.size(
            F.filter(words, lambda w: w.isin(*STOPWORDS))
        ).cast("double")
        / n_words,
        4,
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(F.col("n_chars").cast("double") / n_words, 4).alias("chars_per_word"),
        stop_ratio.alias("stopword_ratio"),
        F.when(
            (n_words >= 50) & stop_ratio.between(0.01, 0.6), "keep"
        )
        .otherwise("drop")
        .alias("quality_bucket"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), w -> w IN {markers!r}))"
    )


@register(
    "docs_lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_lang_score_sql(LANG_MARKERS['en'])} AS s_en,
             {_lang_score_sql(LANG_MARKERS['es'])} AS s_es,
             {_lang_score_sql(LANG_MARKERS['de'])} AS s_de,
             {_lang_score_sql(LANG_MARKERS['fr'])} AS s_fr
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
             WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
             WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
             WHEN s_de >= s_fr THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM scores
    """,
    tags=("llm", "text"),
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic tie order
    en > es > de > fr; no markers → 'und'). A real deployment swaps the
    marker lists for char-n-gram profiles — the plan shape is identical."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))

    def score(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    s_en = score(LANG_MARKERS["en"])
    s_es = score(LANG_MARKERS["es"])
    s_de = score(LANG_MARKERS["de"])
    s_fr = score(LANG_MARKERS["fr"])
    predicted = (
        F.when(F.greatest(s_en, s_es, s_de, s_fr) == 0, "und")
        .when(s_en >= F.greatest(s_es, s_de, s_fr), "en")
        .when(s_es >= F.greatest(s_de, s_fr), "es")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang")
    )


PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@register(
    "docs_pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_SSN}', '[SSN]', 'g'),
             '{PII_PHONE}', '[PHONE]', 'g') AS redacted,
           len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{PII_SSN}')) AS n_ssns
    FROM documents
    """,
    tags=("llm", "text", "pii"),
)
def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email / SSN / phone patterns replaced with typed
    placeholders, plus per-doc detection counts (the audit side). Order
    matters (SSN before phone — phone's separator class would eat SSN
    prefixes). All JVM regex; patterns chosen to behave identically
    under Java and RE2-style engines."""
    d = load(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_SSN,
            "[SSN]",
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_SSN), 0)).alias("n_ssns"),
    )


def fingerprint_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp array<bigint>, n_fingerprints, n_windows) — the full
    winnowing fingerprint sets plus the structural window count."""
    return fingerprint_sets_of(load(spark, sf_dir, "documents"))


def fingerprint_sets_of(d: DataFrame) -> DataFrame:
    """Winnowing fingerprints over an arbitrary ``(doc_id, text)``
    frame — lets callers pre-filter (e.g. to candidate-pair docs) so
    the char-window transform only runs where fingerprints are
    consumed."""
    # two steps so each shingle hashes once (the naive nested form
    # recomputes xxhash64 w× per sliding window)
    hashes = F.expr(
        "transform(sequence(1, greatest(length(text) - 7, 1)),"
        " i -> xxhash64(substr(text, i, 8)))"
    )
    n_windows = F.greatest(
        F.greatest(F.length("text") - 7, F.lit(1)) - 3, F.lit(1)
    )
    with_h = d.select("doc_id", hashes.alias("h"), n_windows.alias("n_windows"))
    fp = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(h) - 3, 1)),"
        " j -> array_min(slice(h, j, 4))))"
    )
    return with_h.select(
        "doc_id", fp.alias("fp"), F.size(fp).alias("n_fingerprints"), "n_windows"
    )


FP_NEARDUP_OVERLAP = 0.5  # measured fixture near-dup min overlap: 1.0; random-pair max ≈ 0.4


def _fingerprint_oracle() -> str:
    from .dedup import GRAMS_CTE_SQL, JACCARD_PAIRS_SQL

    return f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           TRUE AS overlap_ge_half,
           TRUE AS bounds_ok_a,
           TRUE AS bounds_ok_b
    FROM (
{JACCARD_PAIRS_SQL}
    ) p
    """


@register(
    "docs_fingerprint",
    oracle=_fingerprint_oracle(),
    tags=("llm", "text"),
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract over the winnowing fingerprints:
    xxhash64 has no DuckDB twin, so the registered query asserts
    winnowing's defining guarantee on data the oracle CAN verify — for
    every exact-Jaccard near-dup pair (≥ 0.30, the hash-checked pair
    set), the fingerprint sets overlap by ≥ {FP_NEARDUP_OVERLAP:.0%} of
    the smaller set (measured fixture minimum: 100%; unrelated pairs
    max ≈ 40%), and both documents' fingerprint counts respect the
    exact structural bound 1 ≤ n ≤ n_windows. Raw fingerprints stay
    pinned by the determinism unit tests."""
    from .dedup import docs_ngram_jaccard_pairs

    # Pin the (tiny) pair set once — it feeds BOTH the semi-join filter
    # below and the final join, and pair generation is the dominant cost.
    pairs = docs_ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=True)
    # Fingerprint ONLY the docs that appear in a near-dup pair: the
    # char-window winnowing transform is the expensive step, and the
    # contract consumes fingerprints solely for pair participants —
    # at 100 TB this keeps the fingerprint job proportional to the
    # candidate set, not the corpus.
    pair_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = load(spark, sf_dir, "documents").join(
        pair_ids, "doc_id", "left_semi"
    )
    fps = fingerprint_sets_of(d)
    bounds_ok = (F.col("n_fingerprints") >= 1) & (
        F.col("n_fingerprints") <= F.col("n_windows")
    )
    fa = fps.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fp").alias("fp_a"),
        bounds_ok.alias("bounds_ok_a"),
    )
    fb = fps.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        bounds_ok.alias("bounds_ok_b"),
    )
    overlap = F.size(F.array_intersect("fp_a", "fp_b")) / F.least(
        F.size("fp_a"), F.size("fp_b")
    )
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (overlap >= FP_NEARDUP_OVERLAP).alias("overlap_ge_half"),
            "bounds_ok_a",
            "bounds_ok_b",
        )
    )
