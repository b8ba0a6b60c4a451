"""Multimodal-contract, privacy and distillation queries, each
registered with its DuckDB oracle.

The operators:

- ``docs_frame_sample_contract``: the video frame-sampling plumbing
  (``multimodal.sample_frames`` — the 1→N mapInPandas demuxer stub),
  driver-checked end to end for the first time: a deterministic
  formulaic "video" payload is synthesized per doc, pushed through the
  REAL sampler, and reduced to exact integer frame features whose
  DuckDB oracle replays the synthesis formula in pure SQL — so the
  hash verifies the sampler's chunk geometry (which frames, which
  bytes), not just that rows came back. Completes the multimodal
  oracle story: decode (r5), resize (r7), frame-sample (this).
- ``docs_short_frame_contract``: the frame sampler's SHORT-FINAL-FRAME
  geometry (``include_partial=True``) — payload lengths that are NOT a
  multiple of the frame size, the case the seed contract's docstring
  names as what real demuxers get wrong. The oracle replays ceil-count
  chunking including the remainder frame's exact length and bytes.
- ``docs_audio_window_features``: the audio analog of frame sampling —
  OVERLAPPING windows (hop < window, the STFT/fbank input shape) over
  synthesized PCM-ish byte clips, reduced to exact integer per-window
  energy. Covers the window/hop arithmetic a feature extractor gets
  wrong at clip boundaries (last full window, never a partial hop).
- ``retrieval_distillation_labels``: cross-encoder-style distillation
  labels over the rerank cascade's shortlist — (query, positive, hard
  negative, teacher margin) triples where positive = the cascade's
  stage-2 top-1 and margins are exact integer blended-score gaps (the
  Margin-MSE teacher-label shape, Hofstätter et al. '20). Composes the
  registered ``retrieval_rerank_cascade`` verbatim.
- ``docs_minhash_stream_batch_parity``: the stream↔batch parity
  contract for the incremental MinHash band index — the corpus
  replayed as 4 arrival batches, each probing the index accumulated
  from earlier batches (plus in-batch buckets); the oracle proves the
  union of per-step discoveries equals the one-shot brute-force pair
  set, with every pair discovered exactly at its later member's
  arrival step. This is the invariant that makes the streaming
  near-dup path (``streaming/neardup_stream.py``) trustworthy.
- ``docs_repetition_profile``: degenerate-repetition detector (the
  Gopher/MassiveText repetition family): per doc, the longest
  identical-word run (gaps-and-islands over positions) and the top
  trigram's share of all trigram slots (micro units, integer DIV).
- ``docs_ngram_novelty``: per-doc novel-trigram fraction — the share
  of a doc's distinct trigrams first seen (min doc_id) in THAT doc;
  the corpus-growth novelty curve dedup/mixture design reads.
- ``embeddings_ivf_recall_probe_curve``: the IVF tuning curve —
  recall@5 as a function of nprobe ∈ {1,2,4,8} from ONE exact pass
  (true top-5 by quantized cosine vs the probe-rank of each
  neighbor's assigned centroid). The artifact that decides an ANN
  index's nprobe BEFORE committing it.
- ``customer_t_closeness``: the privacy triad's third rung — per
  QI class (the k-anonymity audit's nation × balance bucket), the
  exact integer EMD (categorical ground distance = total variation)
  between the class's market-segment mix and the global mix, rolled
  up into 5%-wide t buckets (Li, Li & Venkatasubramanian, ICDE'07).
  k-anonymity (r7) certifies size, l-diversity (staged r9) variety,
  t-closeness skew — an l=5 class that is 96% one segment still
  leaks, and this is the table that finds it.
- ``lineitem_salted_distinct_contract``: the skew-mitigation pattern
  as an oracle-pinned contract — exact COUNT(DISTINCT supplier) per
  (3-value, maximally skewed) return flag via salted two-stage
  aggregation (salt = hash(suppkey) % 16, so per-salt distinct sets
  are disjoint and their counts add exactly). Pins the plan shape
  whose exchange width stays bounded when one group holds a third of
  a 100 TB table.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load, local_frame
from ..registry import register


# --------------------------------------------------------------------
# Frame-sample contract (the multimodal demuxer, oracle-checked)
# --------------------------------------------------------------------

FRAME_BYTES = 32
EVERY_NTH = 2
N_VIDEO_DOCS = 200  # bounded synthetic-video block (doc_id < 200)


def _frame_sample_oracle() -> str:
    return f"""
    WITH vids AS (
      SELECT doc_id, 4 + doc_id % 5 AS n_frames
      FROM documents WHERE doc_id < {N_VIDEO_DOCS}
    ), sampled AS (
      SELECT v.doc_id,
             CAST(k.k AS INT) AS frame_idx,
             (v.doc_id * 131 + k.k * 17) % 256 AS v
      FROM vids v, LATERAL (
        SELECT unnest(range(0, v.n_frames, {EVERY_NTH})) AS k
      ) k
    )
    SELECT doc_id, frame_idx,
           CAST({FRAME_BYTES} AS BIGINT) AS n_bytes,
           CAST(v * {FRAME_BYTES} AS BIGINT) AS byte_sum,
           CAST(v AS BIGINT) AS first_byte
    FROM sampled
    """


@register(
    "docs_frame_sample_contract",
    oracle=_frame_sample_oracle(),
    tags=("llm", "multimodal", "contract"),
)
def docs_frame_sample_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling contract for the multimodal demuxer stub: each
    doc (bounded block, doc_id < {N_VIDEO_DOCS}) gets a deterministic
    formulaic "video" — (4 + id%5) fixed-size frames where frame k is
    {FRAME_BYTES} copies of byte (id·131 + k·17) mod 256 — pushed
    through the REAL ``multimodal.sample_frames`` (the 1→N mapInPandas
    demuxer: every {EVERY_NTH}ⁿᵈ frame, Arrow-batched, output length
    decoupled from input length) and reduced to exact integer frame
    features. The oracle replays the synthesis formula in pure SQL, so
    the driver hash pins the sampler's CHUNK GEOMETRY — which frame
    indexes are emitted and exactly which bytes each one carries — the
    part a real demuxer gets subtly wrong (off-by-one strides, short
    final frames).

    Exactness: all features are integers by construction (a constant
    frame is its byte value times its length).

    Scale (100 TB): synthesis + sampling + featurization are three
    chained Arrow map stages with ZERO shuffle (the real pipeline
    shape: payloads never leave the worker as anything bigger than
    their features); closures are self-contained (pickled by value —
    the driver-cwd-independence rule for Python-on-executor code)."""
    from .multimodal import sample_frames

    doc_ids = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < N_VIDEO_DOCS
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    frame_bytes = FRAME_BYTES

    def synth(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_frames = 4 + did % 5
                payloads.append(
                    b"".join(
                        bytes([(did * 131 + k * 17) % 256]) * frame_bytes
                        for k in range(n_frames)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = doc_ids.mapInPandas(synth, synth_schema)
    frames = sample_frames(vids, frame_bytes=FRAME_BYTES, every_nth=EVERY_NTH)

    feat_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("byte_sum", T.LongType()),
            T.StructField("first_byte", T.LongType()),
        ]
    )

    def featurize(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, idx, frame in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame"]
            ):
                p = bytes(frame)
                rows.append(
                    (int(did), int(idx), len(p), sum(p), p[0] if p else -1)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "n_bytes",
                    "byte_sum",
                    "first_byte",
                ],
            )

    return frames.mapInPandas(featurize, feat_schema)


# --------------------------------------------------------------------
# Short-final-frame contract (include_partial geometry)
# --------------------------------------------------------------------

SFC_FRAME_BYTES = 32
SFC_EVERY_NTH = 2
SFC_N_DOCS = 150  # bounded synthetic block (doc_id < 150)


def _short_frame_oracle() -> str:
    return f"""
    WITH vids AS (
      SELECT doc_id,
             3 + doc_id % 4 AS n_full,
             doc_id % {SFC_FRAME_BYTES} AS tail
      FROM documents WHERE doc_id < {SFC_N_DOCS}
    ), sampled AS (
      SELECT v.doc_id,
             CAST(k.k AS INT) AS frame_idx,
             (v.doc_id * 37 + k.k * 11) % 256 AS val,
             CASE WHEN k.k < v.n_full THEN {SFC_FRAME_BYTES}
                  ELSE v.tail END AS nb
      FROM vids v, LATERAL (
        SELECT unnest(range(0,
                 v.n_full + CASE WHEN v.tail > 0 THEN 1 ELSE 0 END,
                 {SFC_EVERY_NTH})) AS k
      ) k
    )
    SELECT doc_id, frame_idx,
           CAST(nb AS BIGINT) AS n_bytes,
           CAST(val * nb AS BIGINT) AS byte_sum,
           CAST(val AS BIGINT) AS first_byte
    FROM sampled
    """


@register(
    "docs_short_frame_contract",
    oracle=_short_frame_oracle(),
    tags=("llm", "multimodal", "contract"),
)
def docs_short_frame_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHORT-FINAL-FRAME geometry of the multimodal demuxer
    (``multimodal.sample_frames`` with ``include_partial=True``): each
    doc in the bounded block gets a deterministic payload of
    (3 + id%4) full {SFC_FRAME_BYTES}-byte frames PLUS a trailing
    remainder of (id % {SFC_FRAME_BYTES}) bytes (zero for 1 in 32 docs
    — the no-tail case must emit no extra frame). Frame k is constant
    byte (id·37 + k·11) mod 256; the remainder frame is frame index
    n_full. The sampler emits every {SFC_EVERY_NTH}ⁿᵈ of
    ceil(len/frame_bytes) frames, so the short frame appears exactly
    when its index is on the sampling grid — and the contract's
    ``n_bytes`` column pins its LENGTH, the off-by-one a byte-count
    demuxer (or an Arrow slice) gets wrong first.

    Exactness: all features are integers by construction (a constant
    frame is its byte value times its length).

    Scale (100 TB): same zero-shuffle three-stage Arrow map chain as
    the seed contract (``docs_frame_sample_contract``); the sampled
    geometry is decided per row inside the worker."""
    from .multimodal import sample_frames

    doc_ids = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < SFC_N_DOCS
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    fb = SFC_FRAME_BYTES

    def synth(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_full = 3 + did % 4
                tail = did % fb
                body = b"".join(
                    bytes([(did * 37 + k * 11) % 256]) * fb
                    for k in range(n_full)
                )
                if tail:
                    body += bytes([(did * 37 + n_full * 11) % 256]) * tail
                payloads.append(body)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    vids = doc_ids.mapInPandas(synth, synth_schema)
    frames = sample_frames(
        vids,
        frame_bytes=SFC_FRAME_BYTES,
        every_nth=SFC_EVERY_NTH,
        include_partial=True,
    )

    feat_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("byte_sum", T.LongType()),
            T.StructField("first_byte", T.LongType()),
        ]
    )

    def featurize(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, idx, frame in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame"]
            ):
                p = bytes(frame)
                rows.append(
                    (int(did), int(idx), len(p), sum(p), p[0] if p else -1)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "n_bytes",
                    "byte_sum",
                    "first_byte",
                ],
            )

    return frames.mapInPandas(featurize, feat_schema)


# --------------------------------------------------------------------
# Audio window features (overlapping hop — the STFT input shape)
# --------------------------------------------------------------------

AUDIO_N_DOCS = 150
AUDIO_WIN = 32
AUDIO_HOP = 16


def _audio_window_oracle() -> str:
    return f"""
    WITH clips AS (
      SELECT doc_id, 64 + (doc_id % 7) * 16 AS len
      FROM documents WHERE doc_id < {AUDIO_N_DOCS}
    ), wins AS (
      SELECT c.doc_id,
             CAST(w.w AS BIGINT) AS win_idx,
             w.w * {AUDIO_HOP} AS s
      FROM clips c, LATERAL (
        SELECT unnest(range(0, 1 + (c.len - {AUDIO_WIN}) // {AUDIO_HOP}))
          AS w
      ) w
    )
    SELECT doc_id, win_idx,
           CAST(s AS BIGINT) AS start_byte,
           CAST(list_reduce(list_transform(range(s, s + {AUDIO_WIN}),
                  t -> ((doc_id * 13 + t * 7) % 256 - 128)
                       * ((doc_id * 13 + t * 7) % 256 - 128)),
                (a, b) -> a + b) AS BIGINT) AS energy,
           CAST((doc_id * 13 + s * 7) % 256 AS BIGINT) AS first_byte
    FROM wins
    """


@register(
    "docs_audio_window_features",
    oracle=_audio_window_oracle(),
    tags=("llm", "multimodal", "audio"),
)
def docs_audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature-extraction plumbing: OVERLAPPING windows (window
    {AUDIO_WIN}, hop {AUDIO_HOP} — hop < window, the STFT/filterbank
    input shape, unlike the video sampler's disjoint chunks) over a
    deterministic PCM-ish byte clip per doc (length 64 + (id%7)·16;
    byte t = (id·13 + t·7) mod 256), reduced to the exact integer
    energy ``sum((byte-128)²)`` per window. Window count is
    1 + (len-win)//hop — LAST FULL WINDOW ONLY, never a partial hop;
    that boundary rule (and the hop arithmetic under it) is what the
    oracle pins, because it is what a frame-extractor implementation
    drifts on first. The real decode (PyAV/soundfile) is out of this
    container — the Spark-side plumbing (synthesize → window →
    featurize as chained Arrow map stages) is the product surface,
    per the multimodal-stub convention (``llm/multimodal.py``).

    Exactness: all integer (centered squares of integer bytes).

    Scale (100 TB): zero shuffle — the windowing fan-out happens
    inside ``mapInPandas`` (numpy ``sliding_window_view`` + hop
    stride), output rows per clip bounded by len/hop; clips stream
    through workers one Arrow batch at a time."""
    doc_ids = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < AUDIO_N_DOCS
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win_idx", T.LongType()),
            T.StructField("start_byte", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("first_byte", T.LongType()),
        ]
    )
    win, hop = AUDIO_WIN, AUDIO_HOP

    def featurize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                length = 64 + (did % 7) * 16
                clip = (did * 13 + np.arange(length, dtype=np.int64) * 7) % 256
                views = np.lib.stride_tricks.sliding_window_view(clip, win)[
                    ::hop
                ]
                energy = ((views - 128) ** 2).sum(axis=1)
                for w in range(views.shape[0]):
                    s = w * hop
                    out.append(
                        (did, w, s, int(energy[w]), int(clip[s]))
                    )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "win_idx", "start_byte", "energy", "first_byte"],
            )

    return doc_ids.mapInPandas(featurize, out_schema)


# --------------------------------------------------------------------
# Distillation labels over the rerank cascade (Margin-MSE shape)
# --------------------------------------------------------------------


def _distillation_oracle() -> str:
    # Compose the registered cascade's oracle verbatim (direct module
    # import, never registry.all_queries() at import time — the
    # re-entrancy rule from staged_r8's PQ composition).
    from .staged_r8 import _rerank_oracle

    return f"""
    WITH cascade AS MATERIALIZED (
{_rerank_oracle()}
    )
    SELECT p.query_doc_id,
           p.train_doc_id AS pos_doc_id,
           n.train_doc_id AS neg_doc_id,
           n.stage2_rank AS neg_rank,
           p.blended_micro - n.blended_micro AS margin_micro
    FROM cascade p
    JOIN cascade n ON n.query_doc_id = p.query_doc_id
                  AND n.stage2_rank > 1
    WHERE p.stage2_rank = 1
    """


@register(
    "retrieval_distillation_labels",
    oracle=_distillation_oracle(),
    tags=("llm", "retrieval", "distillation"),
)
def retrieval_distillation_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder distillation labels mined from the rerank
    cascade: per probe query, the cascade's stage-2 top-1 is the
    POSITIVE and ranks 2..k are HARD NEGATIVES; each (query, positive,
    negative) triple carries the teacher's exact integer score margin
    ``blended(pos) − blended(neg)`` — the Margin-MSE label shape
    (Hofstätter et al. '20: the student regresses the teacher's
    pairwise margin, not its absolute score, so only margins need to
    be exact/stable). Swapping the deterministic blended scorer for a
    real cross-encoder changes the teacher column, not this plan.

    Composes ``retrieval_rerank_cascade`` (registered r8) verbatim —
    Spark side calls the registered fn, oracle side inlines the
    registered oracle as a CTE, so the label contract re-proves the
    composition end to end.

    Exactness: margins are differences of the cascade's integer
    blended_micro scores; ≥ 0 by rank construction (row_number ties
    break on train_doc_id in both engines).

    Scale (100 TB): input is the cascade's output — |probes|·k rows,
    CONSTANT-bounded (never grows with the corpus); the pos/neg
    self-join is driver-trivial and broadcast by AQE."""
    from .staged_r8 import retrieval_rerank_cascade

    cascade = retrieval_rerank_cascade(spark, sf_dir).localCheckpoint(
        eager=True
    )
    pos = cascade.filter(F.col("stage2_rank") == 1).select(
        "query_doc_id",
        F.col("train_doc_id").alias("pos_doc_id"),
        F.col("blended_micro").alias("pos_blended"),
    )
    neg = cascade.filter(F.col("stage2_rank") > 1).select(
        "query_doc_id",
        F.col("train_doc_id").alias("neg_doc_id"),
        F.col("stage2_rank").alias("neg_rank"),
        F.col("blended_micro").alias("neg_blended"),
    )
    return pos.join(neg, "query_doc_id").select(
        "query_doc_id",
        "pos_doc_id",
        "neg_doc_id",
        "neg_rank",
        (F.col("pos_blended") - F.col("neg_blended")).alias("margin_micro"),
    )


# --------------------------------------------------------------------
# Stream <-> batch parity for the incremental MinHash band index
# --------------------------------------------------------------------

N_STREAM_BATCHES = 4  # arrival batches: batch(d) = d % 4, arriving 0..3


def _stream_parity_oracle() -> str:
    from .dedup import GRAMS_CTE_SQL, JACCARD_THRESHOLD

    return f"""
    WITH g AS (
{GRAMS_CTE_SQL}
    ), pairs AS (
      SELECT greatest(a.doc_id % {N_STREAM_BATCHES},
                      b.doc_id % {N_STREAM_BATCHES}) AS batch_id
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / (len(a.grams) + len(b.grams)
                     - len(list_intersect(a.grams, b.grams))),
                  6) >= {JACCARD_THRESHOLD}
    ), per AS (
      SELECT CAST(batch_id AS BIGINT) AS batch_id,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    )
    SELECT batch_id, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY batch_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_pairs_cum
    FROM per
    """


@register(
    "docs_minhash_stream_batch_parity",
    oracle=_stream_parity_oracle(),
    tags=("llm", "dedup", "lsh", "incremental", "streaming"),
)
def docs_minhash_stream_batch_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream↔batch parity contract for the incremental MinHash band
    index: replay the corpus as {N_STREAM_BATCHES} arrival batches
    (batch(d) = d mod {N_STREAM_BATCHES}, arriving in order) and ACTUALLY
    RUN the incremental loop — each arriving batch probes the index
    accumulated from earlier batches (batch↔corpus candidates) plus its
    own in-batch buckets (batch↔batch), exactly the
    ``docs_minhash_incremental_pairs`` step iterated to closure. Each
    discovered pair is tagged with its discovery step; the output is
    the per-step verified-pair ledger (count + cumulative).

    The oracle is the brute-force exact near-dup pair set grouped by
    ``greatest(batch(a), batch(b))`` — i.e. the theorem under the
    streaming path (``streaming/neardup_stream.py``): accumulating the
    append-only band index discovers EVERY qualifying pair exactly once,
    at its later member's arrival, with nothing found early, late,
    twice, or never. (Banding recovers every qualifying pair on the
    fixtures — the established ``docs_minhash_lsh_pairs`` recall
    argument; the same bands are used here.)

    Scale (100 TB): signatures and band rows are computed ONCE and the
    pair emit is one bucket groupBy — the production shape, where the
    index is a persisted artifact and each ingest appends; cost is
    index probes on (band_idx, band_hash) keys, never all-pairs, never
    re-hashing the corpus per step.

    Plan shape (r11 optimization round): the original body REPLAYED the
    {N_STREAM_BATCHES}-step loop literally — 7 branch DataFrames
    (per-step cross joins + in-batch bucket emits) over the checkpointed
    band table, unioned then deduped. Profiled at sf0.1 that spent
    ~10.5 s of a 21.6 s in-suite run materializing the per-step branch
    subtrees (8 separate 32-task jobs) and pushed the plan to 78
    Exchange references. But the loop's discovery step is a CLOSED FORM:
    a pair (a, b) sharing an LSH bucket is found exactly once, at
    ``greatest(batch(a), batch(b))`` — the later member's arrival (the
    theorem this contract pins; the referee test
    ``test_stream_parity_totals_match_one_shot_lsh`` asserts it against
    the one-shot LSH pair set, and the streaming keyed-state mechanics
    stay pytest-covered in ``tests/test_streaming.py``). So the body now
    emits candidates once via the shared bucket-then-combine
    (``_lsh_candidates`` — ONE shuffle of 16-byte band rows) and tags
    each pair with its closed-form discovery step. Output and oracle are
    unchanged (oracle-verified at sf0.001/0.01/0.1); in-suite time
    dropped ~5x and the plan to 10 Exchanges."""
    from .dedup import (
        _lsh_candidates,
        _verify_jaccard,
        hashed_shingle_table,
    )

    d = load(spark, sf_dir, "documents")
    g = hashed_shingle_table(spark, d)
    # A pair's discovery step is unique by construction (= the later
    # member's batch), so tagging the deduped one-shot candidate set is
    # step-preserving — no per-step replay needed.
    cands = _lsh_candidates(g).withColumn(
        "batch_id",
        F.greatest(
            F.pmod(F.col("doc_a"), F.lit(N_STREAM_BATCHES)),
            F.pmod(F.col("doc_b"), F.lit(N_STREAM_BATCHES)),
        ).cast("bigint"),
    )
    verified = _verify_jaccard(
        g, cands.select("doc_a", "doc_b")
    ).join(cands, ["doc_a", "doc_b"])
    per = verified.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    # Cumulative via broadcast triangular join (the corpus_vocab_growth
    # / events_cum_users pattern) — a global ORDER BY window would
    # funnel through one partition; the fleet antipattern net forbids
    # that shape even on a 4-row frame.
    prior = per.select(
        F.col("batch_id").alias("b_id"), F.col("n_pairs").alias("b_n")
    )
    return (
        per.join(F.broadcast(prior), F.col("b_id") <= F.col("batch_id"))
        .groupBy("batch_id", "n_pairs")
        .agg(F.sum("b_n").cast("bigint").alias("n_pairs_cum"))
        .select("batch_id", "n_pairs", "n_pairs_cum")
    )


# --------------------------------------------------------------------
# Degenerate-repetition profile (Gopher/MassiveText repetition family)
# --------------------------------------------------------------------


def _repetition_oracle() -> str:
    return """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), words AS (
      SELECT doc_id, unnest(w) AS word,
             generate_subscripts(w, 1) AS pos
      FROM ws
    ), runs AS (
      SELECT doc_id, word,
             pos - row_number() OVER (PARTITION BY doc_id, word
                                      ORDER BY pos) AS isl
      FROM words
    ), runlen AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS max_run
      FROM (SELECT doc_id, word, isl, count(*) AS c
            FROM runs GROUP BY 1, 2, 3)
      GROUP BY 1
    ), tris AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
      FROM ws
    ), tcnt AS (
      SELECT doc_id,
             CAST(max(c) AS BIGINT) AS top_trigram_count,
             CAST(sum(c) AS BIGINT) AS n_trigrams
      FROM (SELECT doc_id, tri, count(*) AS c FROM tris GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT r.doc_id,
           CAST(len(s.w) AS BIGINT) AS n_words,
           r.max_run,
           t.top_trigram_count,
           t.n_trigrams,
           t.top_trigram_count * 1000000 // t.n_trigrams
             AS top_trigram_share_micro
    FROM runlen r
    JOIN tcnt t ON t.doc_id = r.doc_id
    JOIN ws s ON s.doc_id = r.doc_id
    """


@register(
    "docs_repetition_profile",
    oracle=_repetition_oracle(),
    tags=("llm", "quality", "repetition"),
)
def docs_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector — the Gopher/MassiveText
    repetition-filter family (Rae et al. '21 §A1.1.3 measure duplicate
    line/paragraph/n-gram FRACTIONS; this is the per-doc profile those
    thresholds read): the longest run of identical consecutive words
    (the "word word word" loop artifact) and the most frequent
    trigram's share of all trigram SLOTS (positional, not distinct —
    a looping doc has few distinct trigrams covering many slots).

    Cross-engine notes: max-run is gaps-and-islands (pos −
    row_number() per (doc, word)) — island ids use only RELATIVE
    position arithmetic, so Spark's 0-based posexplode and DuckDB's
    1-based generate_subscripts agree; the share is integer micro DIV
    (positive operands).

    Scale (100 TB): two shuffles, both keyed and combinable — the
    islands pass is one doc_id-partitioned window sort (per-doc state,
    embarrassingly parallel across docs), the trigram counts are a
    (doc, tri) hash aggregate with map-side combine. No corpus-global
    state, no collect."""
    d = load(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    ws = d.select("doc_id", F.split("text", " ").alias("w")).localCheckpoint(
        eager=True
    )
    words = ws.select(
        "doc_id", F.posexplode("w").alias("pos", "word")
    )
    isl = words.select(
        "doc_id",
        "word",
        (
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id", "word").orderBy("pos")
            )
        ).alias("isl"),
    )
    runlen = (
        isl.groupBy("doc_id", "word", "isl")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("max_run"))
    )
    tris = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
            )
        ).alias("tri"),
    )
    tcnt = (
        tris.groupBy("doc_id", "tri")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias("top_trigram_count"),
            F.sum("c").cast("bigint").alias("n_trigrams"),
        )
    )
    return (
        runlen.join(tcnt, "doc_id")
        .join(ws.select("doc_id", F.size("w").cast("bigint").alias("n_words")), "doc_id")
        .select(
            "doc_id",
            "n_words",
            "max_run",
            "top_trigram_count",
            "n_trigrams",
            F.expr("top_trigram_count * 1000000 DIV n_trigrams").alias(
                "top_trigram_share_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# N-gram novelty (corpus-growth novelty curve)
# --------------------------------------------------------------------


def _novelty_oracle() -> str:
    return """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), tris AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
      FROM ws
    ), first_seen AS (
      SELECT tri, min(doc_id) AS first_doc
      FROM tris GROUP BY tri
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
           CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
             AS novelty_micro
    FROM tris t JOIN first_seen f ON f.tri = t.tri
    GROUP BY t.doc_id
    """


@register(
    "docs_ngram_novelty",
    oracle=_novelty_oracle(),
    tags=("llm", "dedup", "novelty"),
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram NOVELTY — the share of a doc's distinct word
    trigrams whose first corpus appearance (min doc_id, the ingestion
    order proxy) is that doc. The corpus-growth novelty curve: near-1
    docs add new content, near-0 docs restate the existing corpus —
    the aggregate view behind dedup ROI and data-mixing decisions
    (cf. the duplicate-text growth analyses in RefinedWeb/Gopher:
    marginal novelty of added web data falls as the crawl grows).

    Exactness: counts + integer micro DIV; trigrams compared as exact
    strings in both engines (same concat with single spaces).

    Scale (100 TB): one (tri → min doc_id) hash aggregate with
    map-side combine (the gram table is Zipf-compressed vs the
    corpus), one join back on the gram key, one per-doc rollup — the
    exact shape of the registered df-ceiling/contamination joins; no
    all-pairs anything."""
    d = load(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    tris = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(w) - 2),"
                        " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
                    )
                )
            ).alias("tri"),
        )
        .localCheckpoint(eager=True)
    )
    first_seen = tris.groupBy("tri").agg(F.min("doc_id").alias("first_doc"))
    return (
        tris.join(first_seen, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_trigrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_distinct_trigrams",
            "n_novel",
            F.expr("n_novel * 1000000 DIV n_distinct_trigrams").alias(
                "novelty_micro"
            ),
        )
    )


# --------------------------------------------------------------------
# IVF recall-vs-nprobe tuning curve
# --------------------------------------------------------------------

IVF_RC_K = 5  # true neighbors per probe
IVF_RC_N_CENTROIDS = 8  # deterministic codebook: vectors with vec_id < 8
IVF_RC_N_PROBES = 10  # bounded probe block (hash-selected)
IVF_RC_NPROBES = (1, 2, 4, 8)

# Quantized cosine in micro units — the established margin-mining /
# rerank-cascade exactness pattern (round to 6 dp, then scale).
_COS_MICRO_SQL = (
    "CAST(round(round("
    "list_reduce(list_transform(list_zip({a}.v, {b}.v), z -> z[1] * z[2]),"
    " (acc, x) -> acc + x) / ({a}.nrm * {b}.nrm), 6) * 1000000.0, 0)"
    " AS BIGINT)"
)


def _ivf_recall_oracle() -> str:
    hh = "substr(md5(CAST(vec_id AS VARCHAR)), 1, 2)"
    cos_pc = _COS_MICRO_SQL.format(a="p", b="c")
    cos_pn = _COS_MICRO_SQL.format(a="p", b="n")
    cos_vc = _COS_MICRO_SQL.format(a="v", b="c")
    return f"""
    WITH e AS (
      SELECT vec_id, {hh} AS hh,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), vecs AS (
      SELECT vec_id, hh, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
                              (a, b) -> a + b)) AS nrm
      FROM e
    ), cents AS (
      SELECT vec_id AS cid, v, nrm FROM vecs
      WHERE vec_id < {IVF_RC_N_CENTROIDS}
    ), probes AS (
      SELECT vec_id AS probe_id, v, nrm FROM vecs
      WHERE hh >= 'e6' ORDER BY vec_id LIMIT {IVF_RC_N_PROBES}
    ), assign AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY {cos_vc} DESC, c.cid) AS rn
      FROM vecs v CROSS JOIN cents c
    ), cluster_of AS (
      SELECT vec_id, cid AS cluster FROM assign WHERE rn = 1
    ), centrank AS (
      SELECT p.probe_id, c.cid,
             CAST(row_number() OVER (PARTITION BY p.probe_id
                                     ORDER BY {cos_pc} DESC, c.cid)
                  AS BIGINT) AS probe_rank
      FROM probes p CROSS JOIN cents c
    ), truth AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY {cos_pn} DESC, n.vec_id) AS rk
      FROM probes p JOIN vecs n ON n.vec_id <> p.probe_id
      QUALIFY rk <= {IVF_RC_K}
    ), found AS (
      SELECT t.probe_id, t.neighbor_id, cr.probe_rank
      FROM truth t
      JOIN cluster_of co ON co.vec_id = t.neighbor_id
      JOIN centrank cr ON cr.probe_id = t.probe_id
                      AND cr.cid = co.cluster
    )
    SELECT CAST(np.np AS BIGINT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN f.probe_rank <= np.np THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(sum(CASE WHEN f.probe_rank <= np.np THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
             AS recall_micro
    FROM found f
    CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in IVF_RC_NPROBES)}])
                AS np) np
    GROUP BY np.np
    """


@register(
    "embeddings_ivf_recall_probe_curve",
    oracle=_ivf_recall_oracle(),
    tags=("llm", "similarity", "ann", "ivf"),
)
def embeddings_ivf_recall_probe_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF tuning curve: recall@{IVF_RC_K} as a function of
    nprobe ∈ {IVF_RC_NPROBES}, from ONE exact pass — for every true
    top-{IVF_RC_K} neighbor (exact quantized cosine over the corpus)
    of every probe, look up the PROBE-RANK of the neighbor's assigned
    centroid (how many inverted lists the query must visit before the
    list holding that neighbor); recall@p is the fraction with rank ≤
    p. One scan prices the whole nprobe ladder — the report an ANN
    deployment reads to pick its latency/recall point BEFORE building
    the index (cf. the IVF sweep methodology of Johnson et al.,
    billion-scale FAISS).

    Deterministic codebook: the vectors with vec_id < {IVF_RC_N_CENTROIDS}
    (the registered PQ-codes seeding convention); probe block
    hash-selected (md5 ≥ 'e6', the established split), bounded at
    {IVF_RC_N_PROBES}.

    Exactness: every comparison is on 6-dp-rounded micro-quantized
    cosines (the margin-mining pattern) with vec_id tie-breaks; recall
    is integer micro DIV.

    Scale (100 TB): the corpus is touched exactly twice, both times
    streaming against BROADCAST constant-size frames — once vs the
    k·d centroid table (assignment: zero shuffle, the SemDeDup-IVF
    shape), once vs the probe block (true-top-k: one
    probe-partitioned top-k aggregate). Everything downstream of
    those two passes is |probes|·k rows."""
    from .similarity import _dot, _norm

    e = load(spark, sf_dir, "embeddings")
    vecs = (
        e.select(
            "vec_id",
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2).alias(
                "hh"
            ),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select("vec_id", "hh", "v", _norm(F.col("v")).alias("nrm"))
    )

    def cos_micro(av, anrm, bv, bnrm) -> Column:
        return F.round(
            F.round(_dot(av, bv) / (anrm * bnrm), 6) * 1e6, 0
        ).cast("bigint")

    cents = vecs.filter(F.col("vec_id") < IVF_RC_N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    probes = (
        vecs.filter(F.col("hh") >= "e6")
        .orderBy("vec_id")
        .limit(IVF_RC_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    # corpus -> nearest centroid (zero-shuffle vs broadcast codebook,
    # then one vec_id-keyed window to take the argmax row)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_micro"), F.asc("cid")
    )
    cluster_of = (
        vecs.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cid",
            cos_micro(
                F.col("v"), F.col("nrm"), F.col("cv"), F.col("cnrm")
            ).alias("c_micro"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster"))
    )
    # probe -> centroid visit order (|probes| x |cents| rows)
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.desc("c_micro"), F.asc("cid")
    )
    centrank = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "probe_id",
            "cid",
            cos_micro(
                F.col("pv"), F.col("pnrm"), F.col("cv"), F.col("cnrm")
            ).alias("c_micro"),
        )
        .withColumn("probe_rank", F.row_number().over(w_rank).cast("bigint"))
        .select("probe_id", "cid", "probe_rank")
    )
    # exact true top-k: corpus streams once vs the broadcast probes
    w_truth = Window.partitionBy("probe_id").orderBy(
        F.desc("c_micro"), F.asc("vec_id")
    )
    truth = (
        vecs.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            cos_micro(
                F.col("pv"), F.col("pnrm"), F.col("v"), F.col("nrm")
            ).alias("c_micro"),
        )
        .withColumn("rk", F.row_number().over(w_truth))
        .filter(F.col("rk") <= IVF_RC_K)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
    )
    found = (
        truth.join(
            cluster_of.select(
                F.col("vec_id").alias("neighbor_id"), "cluster"
            ),
            "neighbor_id",
        )
        .join(
            centrank.select(
                "probe_id", F.col("cid").alias("cluster"), "probe_rank"
            ),
            ["probe_id", "cluster"],
        )
    )
    ladder = local_frame(spark, [(p,) for p in IVF_RC_NPROBES], "nprobe long")
    return (
        found.crossJoin(F.broadcast(ladder))
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum((F.col("probe_rank") <= F.col("nprobe")).cast("int"))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "nprobe",
            "n_true",
            "n_found",
            F.expr("n_found * 1000000 DIV n_true").alias("recall_micro"),
        )
    )


# --------------------------------------------------------------------
# Salted two-stage exact distinct (skew-mitigation contract)
# --------------------------------------------------------------------

SALT_BUCKETS = 16


@register(
    "lineitem_salted_distinct_contract",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_suppliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("tpch", "skew", "contract"),
)
def lineitem_salted_distinct_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact COUNT(DISTINCT supplier) per return flag via SALTED
    two-stage aggregation — the skew-mitigation pattern as an
    oracle-pinned contract. ``l_returnflag`` has 3 values (each group
    ≈ a third of the table — the maximal-skew shape where a naive
    per-group distinct puts a third of a 100 TB table's distinct
    machinery on one reducer). Stage 1 groups by (flag, salt) where
    salt = pmod(xxhash64(l_suppkey), {SALT_BUCKETS}) and counts
    distinct WITHIN the salt bucket; because the salt is a pure
    function of the distinct key, per-salt distinct sets partition the
    group's distinct set, so stage 2's plain SUM over salts is exact —
    no overlap, no approximation. Row counts ride along to prove no
    rows were dropped.

    The contract (vs the direct single-stage oracle) pins the
    EXACTNESS of the decomposition; the plan value is exchange width:
    stage 1's shuffle key space is |flags|·{SALT_BUCKETS} and stage
    2's is |flags| — both constant — while every row-level operation
    stays in the map-side partial aggregate. (Spark plans the direct
    count-distinct as a two-shuffle expand; the salted form is how you
    write it when the skewed key must never own a whole reducer —
    same trick AQE's skew-join split applies to joins but not to
    aggregates.)"""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey")
    salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_suppkey"), F.lit(SALT_BUCKETS))
    )
    stage1 = salted.groupBy("l_returnflag", "salt").agg(
        F.countDistinct("l_suppkey").alias("pd"),
        F.count(F.lit(1)).alias("pn"),
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum("pd").cast("bigint").alias("n_distinct_suppliers"),
        F.sum("pn").cast("bigint").alias("n_rows"),
    )


# --------------------------------------------------------------------
# t-closeness audit (the privacy triad's third rung)
# --------------------------------------------------------------------

TCL_BUCKET_MICRO = 50_000  # 5%-wide t buckets for the report rollup


def _t_closeness_oracle() -> str:
    return f"""
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_bucket,
             c_mktsegment,
             CAST(count(*) AS BIGINT) AS n_cs
      FROM customer GROUP BY 1, 2, 3
    ), class_tot AS (
      SELECT c_nationkey, bal_bucket, CAST(sum(n_cs) AS BIGINT) AS n_c
      FROM cls GROUP BY 1, 2
    ), seg_tot AS (
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS g_s
      FROM customer GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM customer
    ), pairs AS (
      SELECT ct.c_nationkey, ct.bal_bucket, ct.n_c, st.c_mktsegment,
             st.g_s, COALESCE(c.n_cs, 0) AS n_cs
      FROM class_tot ct
      CROSS JOIN seg_tot st
      LEFT JOIN cls c
        ON c.c_nationkey = ct.c_nationkey
       AND c.bal_bucket = ct.bal_bucket
       AND c.c_mktsegment = st.c_mktsegment
    ), emd AS (
      SELECT p.c_nationkey, p.bal_bucket,
             max(p.n_c) AS n_c,
             CAST(sum(abs(p.n_cs * t.n - p.g_s * p.n_c)) AS BIGINT) AS num,
             max(t.n) AS n
      FROM pairs p CROSS JOIN tot t
      GROUP BY 1, 2
    ), tval AS (
      SELECT n_c, (1000000 * num) // (2 * n_c * n) AS t_micro FROM emd
    )
    SELECT CAST(t_micro // {TCL_BUCKET_MICRO} AS BIGINT) AS t_bucket,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n_c) AS BIGINT) AS n_customers,
           CAST(max(t_micro) AS BIGINT) AS max_t_micro
    FROM tval GROUP BY 1
    """


@register(
    "customer_t_closeness",
    oracle=_t_closeness_oracle(),
    tags=("analytics", "privacy", "report"),
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness ladder over the SAME quasi-identifier classes the
    registered k-anonymity audit and the staged l-diversity ladder use
    (nation x 1000-unit balance bucket), sensitive attribute =
    market segment: per class, t = the Earth Mover's Distance between
    the class's segment distribution and the GLOBAL segment
    distribution (categorical ground distance, so EMD = total
    variation = half the L1 gap), rolled up into 5%-wide t buckets
    with exposed-customer counts. Completes the privacy triad (Li,
    Li & Venkatasubramanian, ICDE'07): k-anonymity certifies classes
    are LARGE, l-diversity that they are VARIED, t-closeness that
    their sensitive mix is not SKEWED vs the population - an l=5
    class that is 96% one segment still leaks, and this finds it.

    Exactness: |p_s - q_s| is computed as |n_cs*N - g_s*n_c| over the
    common denominator n_c*N - pure BIGINT arithmetic, one integer
    DIV at the end (micro units). Zero-count (class, segment) cells
    are materialized by the class x segment cross join so the L1 sum
    is over the full segment domain in both engines. (At extreme row
    counts n_cs*N approaches int64 range; promote the numerator to
    DECIMAL(38,0) in both engines - same expression shape.)

    Scale (100 TB): ONE customer scan feeds a hash aggregate to the
    (QI x segment) domain (~7k rows); the segment-total frame
    (|segments| rows) and the scalar total broadcast; every join and
    rollup downstream is QI-domain-sized."""
    c = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_bucket"),
        "c_mktsegment",
    )
    cls = c.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cs")
    )
    class_tot = cls.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n_cs").alias("n_c")
    )
    seg_tot = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("g_s"))
    tot = c.agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        class_tot.crossJoin(F.broadcast(seg_tot))
        .join(cls, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .withColumn("n_cs", F.coalesce("n_cs", F.lit(0)))
    )
    emd = (
        pairs.crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.max("n_c").alias("n_c"),
            F.sum(
                F.abs(F.col("n_cs") * F.col("n") - F.col("g_s") * F.col("n_c"))
            ).alias("num"),
            F.max("n").alias("n"),
        )
    )
    tval = emd.select(
        "n_c", F.expr("(1000000 * num) DIV (2 * n_c * n)").alias("t_micro")
    )
    return (
        tval.groupBy(
            F.expr(f"t_micro DIV {TCL_BUCKET_MICRO}")
            .cast("bigint")
            .alias("t_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("n_c").cast("bigint").alias("n_customers"),
            F.max("t_micro").cast("bigint").alias("max_t_micro"),
        )
    )
