"""Streaming embedding scorers.

Everything here is a MAP-ONLY expression over the micro-batch: the
index (PQ codebooks + a query's distance LUTs) ships as plan literals,
so scoring adds no stream-side state, no watermark requirement, and no
shuffle — the ingest-time "how close is this new vector to the query /
the index" gate costs one codegen pass per micro-batch, identical to
the batch expression (parity pinned in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pq_score_stream(
    stream: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
    vec_col: str = "embedding",
    out_col: str = "adc_dist2",
) -> DataFrame:
    """Score a vector stream against a query with the PQ asymmetric
    distance estimate (queries/similarity.ann_pq_adc's scoring half):
    encode each arriving vector and sum the per-subspace LUT lookups.
    Stateless map-only — at ingest scale this is the cheap "near the
    watchlist?" gate before any exact re-rank."""
    from marex_spark.queries.similarity import _dec_dist2_col

    m = len(books)
    sd = len(books[0][0])
    adc = None
    for j in range(m):
        sl = F.slice(vec_col, j * sd + 1, sd)
        from marex_spark.operators.embed import kmeans_assign_cols

        code, _ = kmeans_assign_cols(sl, books[j])
        qsub = F.array(*[F.lit(float(v)) for v in query[j * sd : (j + 1) * sd]])
        lut = F.array(*[_dec_dist2_col(qsub, c) for c in books[j]])
        term = F.element_at(lut, code + F.lit(1))
        adc = term if adc is None else adc + term
    return stream.withColumn(out_col, adc.cast("double"))


def ivfpq_residual_score_stream(
    stream: DataFrame,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    query: list[float],
    probe_ids: list[int] | None = None,
    vec_col: str = "embedding",
    out_col: str = "adc_dist2",
    list_col: str = "ivf_list",
) -> DataFrame:
    """Residual IVF-PQ gate (the streaming half of
    queries/similarity.ann_ivfpq_residual_topk): each arriving vector
    coarse-assigns to its IVF list, its RESIDUAL to that list's
    centroid encodes against the pooled residual codebooks, and the
    ADC estimate uses the query's LUT for THAT list (q − centroid_c).

    Stateless map-only — every table (centroids, codebooks, one LUT
    per list) is a plan literal, so the gate is a pure per-row codegen
    expression at any ingest rate. ``probe_ids`` limits scoring to the
    query's probed lists (vectors landing elsewhere emit NULL — the
    definitely-not-near fast path); None scores every list."""
    from marex_spark.operators.embed import kmeans_assign_cols
    from marex_spark.queries.similarity import _dec_dist2_col

    m = len(books)
    sd = len(books[0][0])
    gcode, _ = kmeans_assign_cols(vec_col, coarse)
    cents_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in coarse]
    )
    resid = F.zip_with(
        F.col(vec_col),
        F.element_at(cents_arr, gcode + F.lit(1)),
        lambda x, cm: x.cast("double") - cm,
    )
    lists = (
        range(len(coarse)) if probe_ids is None else [int(c) for c in probe_ids]
    )
    adc = None
    for c in lists:
        qr = [float(query[i]) - float(coarse[c][i]) for i in range(len(query))]
        total = None
        for j in range(m):
            sl = F.slice(resid, j * sd + 1, sd)
            code, _ = kmeans_assign_cols(sl, books[j])
            qsub = F.array(*[F.lit(v) for v in qr[j * sd : (j + 1) * sd]])
            lut = F.array(*[_dec_dist2_col(qsub, b) for b in books[j]])
            term = F.element_at(lut, code + F.lit(1))
            total = term if total is None else total + term
        branch = total.cast("double")
        adc = (
            F.when(gcode == c, branch)
            if adc is None
            else adc.when(gcode == c, branch)
        )
    return stream.withColumn(list_col, gcode).withColumn(out_col, adc)


def srp_probe_stream(
    stream: DataFrame,
    corpus: DataFrame,
    corpus_fps: DataFrame,
    tau: float = 0.9,
    bands: int = 4,
    band_bits: int = 16,
    probe_1bit: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_index: bool = False,
) -> DataFrame:
    """Streaming embedding near-dup / retrieval gate at the r9
    scale-safe SRP geometry: "is this incoming vector within cosine
    ``tau`` of anything in the archived corpus?" — the vector sibling
    of documents.simhash_near_dup_stream, serving the ingest-time
    semantic-decontamination check without a brute-force corpus scan
    per micro-batch.

    Stream side: ONE stateless mapInArrow projection computes the
    64-bit SRP fingerprint (operators/embed.srp_fingerprints_fast,
    ``keep_cols`` carries the vector through for the rerank), then
    band keys + hamming-1 multi-probe fan out map-only (17 keys per
    band at the default 4×16 geometry — candidates ~n/964 of the
    corpus, the ann_srp16_topk serving shape). Candidates stream-static
    join the band index (``simhash_bands`` over the corpus fingerprints
    joined to the corpus vectors; at 100 TB a parquet table keyed by
    (band, key)) and only candidates pay the exact cosine, computed as
    a zip_with/aggregate map expression. Zero stream state; every
    micro-batch is append-safe.

    Returns (stream id, corpus_vec_id, cosine, band) hits at cosine >=
    tau — a pair matching in several band probes emits one row per
    matching (band, key) path; dedupe downstream (a stream-side
    distinct would be a state store).
    """
    from marex_spark.operators.embed import srp_fingerprints_fast
    from marex_spark.operators.simhash import _check_banding, simhash_bands

    if bands * band_bits > 64:
        raise ValueError(f"{bands} bands × {band_bits} bits exceeds 64")
    _ = _check_banding  # document the shared banding family
    mask = (1 << band_bits) - 1
    sfp = srp_fingerprints_fast(
        stream, vec_col=vec_col, id_col=id_col, keep_cols=[vec_col]
    )
    sb = sfp.select(
        F.col(id_col),
        F.col(vec_col).alias("_s_emb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("srp"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_s_emb", F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))
    if probe_1bit:
        keys = F.array(
            F.col("key"),
            *[F.col("key").bitwiseXOR(F.lit(1 << i)) for i in range(band_bits)],
        )
        sb = sb.select(
            id_col, "_s_emb", "band", F.explode(keys).alias("key")
        )
    idx = simhash_bands(
        corpus_fps, bands=bands, band_bits=band_bits,
        id_col=id_col, fp_name="srp",
    ).select(F.col("doc_id").alias("corpus_vec_id"), "band", "key").join(
        corpus.select(
            F.col(id_col).alias("corpus_vec_id"),
            F.col(vec_col).alias("_c_emb"),
        ),
        "corpus_vec_id",
    )
    if broadcast_index:
        idx = F.broadcast(idx)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    nrm = lambda a: F.sqrt(dot(a, a))  # noqa: E731
    joined = sb.join(idx, ["band", "key"]).filter(
        F.col(id_col) != F.col("corpus_vec_id")
    )
    cosine = dot(F.col("_s_emb"), F.col("_c_emb")) / (
        nrm(F.col("_s_emb")) * nrm(F.col("_c_emb"))
    )
    return (
        joined.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= F.lit(float(tau)))
        .select(id_col, "corpus_vec_id", "cosine", "band")
    )
