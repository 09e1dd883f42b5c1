"""Streaming training-data pipeline: the document-side operators
(dedup, quality filtering, decontamination) as Structured-Streaming
stages, for corpora that ARRIVE continuously instead of sitting in a
batch store.

Design per stage (all three are the streaming forms of the batch
queries in :mod:`marex_spark.queries.dedup` / ``queries.text``):

- exact dedup: ``dropDuplicatesWithinWatermark`` on a content hash —
  state holds one hash per distinct doc inside the watermark horizon
  and is PRUNED as event time advances (an unbounded
  ``dropDuplicates`` would grow state forever at 100 TB/day rates);
- quality + language scoring: pure column expressions, map-only — no
  stream-side state at all, each micro-batch is a scoring pass;
- decontamination: stream-static broadcast semi-join of exploded
  stream shingles against the DISTINCT benchmark shingle set (the
  benchmark is tiny next to the corpus; the stream pays no shuffle by
  shingle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
    "for", "with", "as", "at", "by", "it", "be",
)


def dedup_exact_stream(
    stream: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first arrival of each content hash within
    the watermark horizon wins; later copies are dropped. State is one
    row per distinct hash and expires with the watermark — the bounded
    streaming analogue of the batch hash-groupBy (queries/dedup.py
    dedup_exact)."""
    hashed = stream.withColumn("content_hash", F.xxhash64(text_col))
    return hashed.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def score_documents_stream(
    stream: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Map-only quality + language scoring (streaming form of
    txt_quality_score + txt_langid + txt_token_count): stateless, so it
    composes with any output mode and adds no watermark requirement."""
    ws = F.split(text_col, " ")
    n = F.size(ws)
    stop = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
    longt = F.size(F.filter(ws, lambda w: F.length(w) >= 6))
    return (
        stream.withColumn("n_tokens", n.cast("long"))
        .withColumn(
            "avg_token_len", F.length(text_col).cast("double") / F.greatest(n, F.lit(1))
        )
        .withColumn(
            "stopword_ratio", stop.cast("double") / F.greatest(n, F.lit(1))
        )
        .withColumn(
            "long_token_ratio", longt.cast("double") / F.greatest(n, F.lit(1))
        )
    )


def quality_filter_stream(
    stream: DataFrame,
    text_col: str = "text",
    min_tokens: int = 8,
    min_stopword_ratio: float = 0.01,
    max_avg_token_len: float = 20.0,
) -> DataFrame:
    """Score + threshold-filter in one stage — the gate a training
    ingestion pipeline applies before a document is ever persisted."""
    scored = score_documents_stream(stream, text_col)
    return scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("avg_token_len") <= max_avg_token_len)
    )


def decontaminate_stream(
    stream: DataFrame,
    benchmark_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Contamination flags for a document stream.

    ``benchmark_shingles`` is a STATIC DataFrame with one ``shingle``
    column (distinct n-gram strings of the held-out eval set — build it
    in batch, exactly as queries/dedup.py decontam_ngram does). Returns
    the stream of ``(id_col, shingle)`` hits: stream-static joins
    broadcast the static side, so this is map-only per micro-batch.
    A streaming per-doc contamination *fraction* would need a stateful
    aggregation; the hit stream is the append-mode-safe primitive —
    ``dropDuplicatesWithinWatermark([id_col])`` downstream yields the
    contaminated-doc-id stream."""
    ws = F.split(text_col, " ")
    sh = stream.select(
        id_col,
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
                    lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
                ),
                lambda s: F.size(F.split(s, " ")) >= n,
            )
        ).alias("shingle"),
    )
    return sh.join(F.broadcast(benchmark_shingles.select("shingle")), "shingle").select(
        id_col, "shingle"
    )


def doc_band_keys(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document MinHash-LSH band keys, map-only — no groupBy, so
    it runs on a stream without stateful aggregation: every input
    column passes through, plus ``(band, band_key)``, one row per band.

    The SAME kernel as the batch banding (queries/dedup.py _lsh_bands:
    operators/lsh.py ``minhash_bands_batch`` in one ``mapInArrow``), so
    stream keys equal the batch corpus index's keys by construction
    (pinned in tests/test_streaming.py). Documents too short to
    shingle produce no rows."""
    from marex_spark.operators.lsh import minhash_band_rows

    return minhash_band_rows(df, text_col, df.columns)


def near_dup_stream(
    stream: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_index: bool = False,
) -> DataFrame:
    """Streaming near-dup detection against an EXISTING corpus: the
    "is this incoming document a near-duplicate of our training set"
    gate.

    ``corpus_bands`` is the static LSH band index built in batch
    (queries/dedup.py _lsh_bands over the archived corpus — at 100 TB
    it lives as a parquet table keyed by (band, band_key)). The stream
    side computes its band keys map-only (:func:`doc_band_keys`) and
    stream-static joins. Set ``broadcast_index=True`` only when the
    index genuinely fits in executor memory (small/sampled corpus);
    the default lets Spark pick the join strategy, since force-
    broadcasting a 100 TB corpus's index would OOM every executor.
    Returns (stream doc id, matched corpus doc_id, band) hits; dedupe
    downstream per doc id for a boolean flag."""
    sb = doc_band_keys(stream, text_col, id_col)
    idx = corpus_bands.select(
        F.col("doc_id").alias("corpus_doc_id"), "band", "band_key"
    )
    if broadcast_index:
        idx = F.broadcast(idx)
    return sb.join(idx, ["band", "band_key"]).select(
        id_col, "corpus_doc_id", "band"
    )


def sessionize_stream(
    stream: DataFrame,
    key_col: str = "doc_id",
    time_col: str = "ts",
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization with the built-in ``session_window``:
    per-key sessions close after ``gap`` of inactivity and EMIT once
    the watermark passes their end — the streaming form of the batch
    lag-gap + running-sum sessionizer (queries/windows.py
    sess_sessionize). State per open session only, pruned by the
    watermark; output (key, session_start, session_end, n_events)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def bloom_decontaminate_stream(
    stream: DataFrame,
    bloom_bits: "bytes | list",
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Bloom-filter contamination gate for a document stream — the
    ZERO-state, zero-join form of :func:`decontaminate_stream`.

    ``bloom_bits`` is the m-length bitset built in batch from the
    benchmark's shingles — pass operators/dedup.bloom_fit's ``bytes``
    (b"0"/b"1" per bit) directly, or any boolean sequence (normalised
    to the same bytes form here) — and ``k`` the probe count that
    built it (pass the same k; a mismatched k changes the flag set).

    Every micro-batch runs operators/dedup.bloom_probe — the SAME
    per-batch kernel as the batch operator, so a doc flagged here is
    flagged there by construction: one ``mapInArrow`` with the bitset
    packed 8:1 in a broadcast variable, no stream-static join, no
    exchange, no watermark requirement — the cheapest possible first
    gate in front of the exact decontamination join. Emits
    ``(id_col, n_shingles, n_flagged)`` for EVERY input doc, including
    ``(id, 0, 0)`` for NULL or sub-``n``-word text (append-safe)."""
    from marex_spark.operators.dedup import bloom_probe

    if isinstance(bloom_bits, (bytes, bytearray)):
        bits = bytes(bloom_bits)
    else:
        bits = bytes(bytearray(49 if v else 48 for v in bloom_bits))
    return bloom_probe(stream, bits, k, text_col, id_col, n)


def theta_profile_stream(
    stream_docs: DataFrame,
    scale: int = 16,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Streaming theta-sketch vocabulary profile: per micro-batch,
    emit the (group, h) SURVIVOR rows of the fixed-threshold distinct
    sketch over the batch's n-gram shingles (operators/sketch.py —
    the streaming form of the batch query ``sketch_theta_distinct``).

    The sketch's mergeability is exactly what makes it streaming-
    correct with ZERO stream state: survivor sets union, so appending
    each micro-batch's survivors to a sink and running
    ``theta_estimate`` over the accumulated table yields the SAME
    estimate as one batch pass over everything seen. Duplicate
    survivors (a shingle recurring within or across batches) collapse
    in the merge's distinct, so the stream side needs NO
    dropDuplicates — which on a stream would be an unbounded state
    store, the exact anti-pattern this module exists to avoid. The
    per-batch plan is a pure map pass: per-row array_distinct
    shingling, hash, threshold filter. Sink growth is bounded by the
    batch's survivor multiplicity (~1/scale of its shingle mass)."""
    from marex_spark.operators.dedup import shingle_array
    from marex_spark.operators.sketch import theta_hash, theta_threshold

    t = theta_threshold(scale)
    sh = stream_docs.select(
        group_col,
        F.explode(shingle_array(F.col(text_col), n)).alias("shingle"),
    )
    h = theta_hash(F.col("shingle"))
    return sh.select(group_col, h.alias("h")).filter(F.col("h") < t)


def simhash_near_dup_stream(
    stream: DataFrame,
    corpus_fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    band_bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_index: bool = False,
) -> DataFrame:
    """Streaming SimHash near-dup gate against an archived corpus:
    "is this incoming document within hamming ``max_hamming`` of
    anything we already hold?" — the fuzzy sibling of
    :func:`near_dup_stream` (LSH gates shingle-set Jaccard; this gates
    bit-level fingerprint distance, Manku 2007's crawler setting).

    The stream side fingerprints through operators/simhash.py
    ``simhash_fingerprints`` — the batch operator's map-only Arrow
    kernel, so no per-doc aggregation and no state — and slices its
    band keys with ``simhash_bands``, the same sign-safe layout as the
    static band index over the corpus fingerprints (at 100 TB a
    parquet table keyed by (band, key)). It then stream-static joins
    that index; candidates are verified with one xor+bit_count.
    NULL-text docs carry no fingerprint and never hit. Zero stream
    state; every micro-batch is append-safe.

    Returns (stream id, corpus_doc_id, hamming, band) hits — a pair
    matching in several bands emits one row per matching band (a
    stream-side distinct would be a state store; dedupe downstream)."""
    from marex_spark.operators.simhash import (
        _check_banding,
        simhash_bands,
        simhash_fingerprints,
    )

    _check_banding(bands, band_bits, max_hamming)
    sb = simhash_bands(
        simhash_fingerprints(stream, text_col, id_col),
        bands,
        band_bits,
        id_col,
    ).select(
        F.col("doc_id").alias(id_col), F.col("fp").alias("_fp"), "band", "key"
    )
    idx = simhash_bands(corpus_fps, bands, band_bits).select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.col("fp").alias("_cfp"),
        "band",
        "key",
    )
    if broadcast_index:
        idx = F.broadcast(idx)
    hamming = F.bit_count(F.col("_fp").bitwiseXOR(F.col("_cfp")))
    return (
        sb.join(idx, ["band", "key"])
        .filter(F.col(id_col) != F.col("corpus_doc_id"))
        .select(
            id_col,
            "corpus_doc_id",
            hamming.cast("long").alias("hamming"),
            "band",
        )
        .filter(F.col("hamming") <= max_hamming)
    )
