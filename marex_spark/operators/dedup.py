"""Bloom-filter benchmark decontamination — parameterised operator tier.

The registered query ``decontam_bloom`` (queries/dedup.py) and the
streaming gate ``bloom_decontaminate_stream`` (streaming/documents.py)
are thin pins over these functions, so batch, stream, and any
user-parameterised call share ONE geometry rule, ONE probe family and
ONE per-batch kernel (:func:`bloom_counts`) — a bitset built by one is
probed identically by the others.

Scale shape: the benchmark side is small by definition (an eval set),
so it collapses to an (m,k)-derived bitset on the driver in two Spark
jobs (:func:`bloom_fit`: one kernel pass emitting distinct shingles
and their md5 halves, a ``distinct``, one ``toArrow``); the corpus
side is one ``mapInArrow`` pass (:func:`bloom_probe`) — zero-copy
shingle spans over the Arrow text buffer, vectorised md5, k probes
against the bitset packed 8:1 into a broadcast variable, and per-doc
counts, all inside the task. Zero joins and zero exchanges at any
corpus or benchmark size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

# Geometry: m = next power of two ≥ 10·n (10 bits/element ≈ the
# −ln p/ln²2 optimum at p=1% FP), k = round(m/n·ln 2) clamped to
# [1, _BLOOM_K_MAX]. Deriving from the benchmark size matters: a fixed
# m saturates on a real 10^6-shingle benchmark and flags everything.
_BLOOM_K_MAX = 14  # static probe-branch count in the replay oracle SQL
_BLOOM_M_MIN = 1024
_LN2 = 0.6931471805599453


def bloom_geometry(n: int) -> tuple[int, int]:
    """(m, k) for a benchmark with ``n`` distinct shingles — integer-
    exact and replicated verbatim by the oracle's bloom_geom CTE:
    ``m = 2^ceil(log2(max(10n, 1024)))``, ``k = floor(m·ln2/n + 0.5)``
    clamped to [1, 14]. 10 bits/element holds the false-positive rate
    ≈ 0.8% before the power-of-two round-up improves it further."""
    v = max(10 * max(n, 1), _BLOOM_M_MIN)
    m = 1 << (v - 1).bit_length()
    k = min(_BLOOM_K_MAX, max(1, math.floor(m * _LN2 / max(n, 1) + 0.5)))
    return m, k


def bloom_pos(col, i: int, m: int):
    """Probe i's bit position for a shingle — Kirsch–Mitzenmacher
    double hashing: ``(h1 + i·h2) mod m`` where h1/h2 are the two
    60-bit halves of ONE md5 (hex chars 1-15 and 17-31, the md5/conv
    convention every cross-engine hash in queries/dedup.py uses),
    each reduced mod m first so ``i·h2`` stays far from int64
    overflow. K-M (2006) shows two hashes preserve the Bloom
    false-positive asymptotics; one md5 instead of k salted md5s is
    ~12× fewer hash evaluations on the corpus hot path (measured: the
    k-salted form spent 43 s of the 5M-doc row's 56 s computing md5).
    THE single definition of the probe family — the benchmark-side
    fit, the corpus kernel (:func:`bloom_counts`) and the oracle
    replay all derive from it. Callers
    probing k positions should materialise h1/h2 as projected columns
    once via :func:`bloom_hash_cols` (HOF lambdas and repeated array
    elements re-evaluate subtrees), then combine with
    :func:`bloom_pos_from_hashes`."""
    h1, h2 = bloom_hash_cols(col, m)
    return bloom_pos_from_hashes(h1, h2, i, m)


def bloom_hash_cols(col, m: int):
    """(h1 mod m, h2 mod m) from one md5 of ``col`` — the two halves
    every probe position derives from."""
    h = F.md5(col)
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long") % m
    return h1, h2


def bloom_pos_from_hashes(h1, h2, i: int, m: int):
    """Probe i from pre-reduced hash halves: ``(h1 + i·h2) mod m``.
    i ≤ 14 and h2 < m ≤ 2^31, so the product stays in int64."""
    return (h1 + F.lit(i) * h2) % m


def shingle_array(text_col, n: int = 5):
    """Distinct n-word shingles of one document as an ARRAY column —
    per-row (map-only, no shuffle) shingling; the exploded form equals
    queries/dedup._shingles' distinct table row-for-row."""
    ws = F.split(text_col, " ")
    # Document-level short-doc guard instead of a per-shingle
    # re-split filter: every shingle from a ≥n-word doc has exactly n
    # words (words cannot contain the separator), so the old filter
    # only ever dropped the single short-doc shingle — but charged
    # every corpus shingle a split+size to find out. NULL text yields
    # [] in both forms (greatest(NULL, 0) = 0 made the old sequence
    # produce one NULL shingle, which the filter dropped).
    return F.array_distinct(
        F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes(text, n: int = 5):
    """The benchmark-side kernel of :func:`bloom_fit`: ``(shingles,
    h1, h2)`` for the pyarrow string array ``text`` — the distinct
    n-word shingles of ``split(text, ' ')`` across the whole batch
    (byte-exact, :func:`dedup_spans` over one group) as a pyarrow
    large_string array gathered from their spans, and the two 60-bit
    md5 halves of each (int64, not yet reduced mod m). Spark-free."""
    import numpy as np
    import pyarrow as pa

    from marex_spark.operators.md5np import (
        dedup_spans,
        halves60,
        md5_words,
        shingle_spans,
        string_spans,
    )

    data, offsets, valid = string_spans(text)
    _, starts, lens = shingle_spans(data, offsets, valid, n)
    w = md5_words(data, starts, lens)
    keep = dedup_spans(data, np.zeros(len(lens), dtype=np.int64), starts, lens, w)
    starts, lens = starts[keep], lens[keep]
    h1, h2 = halves60(w[keep])
    out_off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    gather = np.arange(out_off[-1]) + np.repeat(starts - out_off[:-1], lens)
    shingles = pa.Array.from_buffers(
        pa.large_string(),
        len(lens),
        [None, pa.py_buffer(out_off), pa.py_buffer(data[gather])],
    )
    return shingles, h1, h2


def bloom_fit(
    bench_docs: DataFrame, text_col: str = "text", n: int = 5
) -> tuple[bytes, int, int]:
    """Fold a benchmark corpus into a Bloom bitset: distinct n-gram
    shingles → derived (m, k) → k probes per shingle → one m-byte
    '0'/'1' bitset. Returns ``(bits, m, k)`` — ``bits`` is a plain
    bytes value handed to :func:`bloom_probe` (batch) or to the
    streaming gate. The corpus is never touched.

    Plan: ONE ``mapInArrow`` (:func:`shingle_hashes`) emits each
    batch's distinct shingles with their md5 halves, a ``distinct`` on
    the shingle keeps n exact, and one ``toArrow`` brings the (h1, h2)
    pairs to the driver — two Spark jobs. The driver derives
    :func:`bloom_geometry` from n and sets the k positions
    ``(h1 + i·h2) mod m`` in numpy.

    Size: m is the power of two ≥ 10n, so m ≤ 20n. The driver holds
    the m-byte '0'/'1' form and 16 bytes of hashes per shingle;
    :func:`bloom_probe` broadcasts m/8 bytes (≤ 2.5 bytes per benchmark
    shingle). At n = 10^7: m = 2^27, k = 9, a 128 MiB bitset on the
    driver and a 16 MiB broadcast. Nothing clamps m: past ~10^8
    shingles (m = 2^30, a 1 GiB driver bitset, 128 MiB per executor)
    the benchmark no longer fits the small-side design and should be
    probed by a shingle join instead."""
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    def _shingles(batches) -> Iterator:
        for batch in batches:
            sh, h1, h2 = shingle_hashes(batch.column(text_col), n)
            if len(sh):
                yield pa.RecordBatch.from_arrays(
                    [sh, pa.array(h1), pa.array(h2)], names=["shingle", "h1", "h2"]
                )

    hs = (
        bench_docs.select(text_col)
        .mapInArrow(_shingles, schema="shingle string, h1 long, h2 long")
        .distinct()
        .select("h1", "h2")
        .toArrow()
    )
    m, k = bloom_geometry(hs.num_rows)
    h1 = hs.column("h1").to_numpy() % m
    h2 = hs.column("h2").to_numpy() % m
    bits = np.full(m, ord("0"), dtype=np.uint8)
    for i in range(k):
        bits[(h1 + i * h2) % m] = ord("1")
    return bits.tobytes(), m, k


def bloom_counts(text, packed, m: int, k: int, n: int = 5):
    """The per-batch Bloom kernel: ``(n_shingles, n_flagged)`` int64
    arrays, one entry per row of the pyarrow string array ``text``.
    ``packed`` is the m-bit bitset packed 8:1 little-endian (a uint8
    array). Shingles are the distinct n-word windows of
    ``split(text, ' ')`` (empty tokens kept, the Spark split
    semantics); NULL text and docs under n words count (0, 0). A
    shingle is flagged iff all k probe positions ``(h1 + i·h2) mod m``
    of its md5 halves are set (:func:`bloom_pos`). Spark-free, so the
    batch operator, the streaming gate and the property tests run the
    same code."""
    import numpy as np

    from marex_spark.operators.md5np import (
        dedup_spans,
        halves60,
        md5_words,
        shingle_spans,
        string_spans,
    )

    data, offsets, valid = string_spans(text)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, n)
    w = md5_words(data, starts, lens)
    keep = dedup_spans(data, row_idx, starts, lens, w)
    ri = row_idx[keep]
    h1, h2 = halves60(w[keep])
    h1 %= m
    h2 %= m
    flag = np.ones(len(ri), dtype=bool)
    for i in range(k):
        p = (h1 + i * h2) % m
        flag &= ((packed[p >> 3] >> (p & 7).astype(np.uint8)) & 1) == 1
    nrows = len(valid)
    return (
        np.bincount(ri, minlength=nrows).astype(np.int64),
        np.bincount(ri[flag], minlength=nrows).astype(np.int64),
    )


def bloom_probe(
    docs: DataFrame,
    bits: bytes,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``(id_col, n_shingles, n_flagged)`` for EVERY row of ``docs``
    (batch or streaming) against the '0'/'1' bitset ``bits`` (m =
    ``len(bits)``) — one ``mapInArrow`` running :func:`bloom_counts`
    per Arrow batch. The bitset ships packed 8:1 once as a broadcast
    variable (m/8 bytes, 16 MiB at n = 10^7 benchmark shingles; see
    :func:`bloom_fit` for the ceiling); the plan has no join, no
    exchange and no state, so on a stream every micro-batch is
    append-safe."""
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    m = len(bits)
    packed = np.packbits(
        np.frombuffer(bits, dtype=np.uint8) == 0x31, bitorder="little"
    )
    bc = docs.sparkSession.sparkContext.broadcast(packed.tobytes())
    id_type = docs.schema[id_col].dataType.simpleString()

    def _probe(batches) -> Iterator:
        pb = np.frombuffer(bc.value, dtype=np.uint8)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cnt, hit = bloom_counts(batch.column(text_col), pb, m, k, n)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(cnt), pa.array(hit)],
                names=[id_col, "n_shingles", "n_flagged"],
            )

    return docs.select(id_col, text_col).mapInArrow(
        _probe, schema=f"{id_col} {id_type}, n_shingles long, n_flagged long"
    )


def bloom_decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    out_col: str = "contamination_bloom",
) -> DataFrame:
    """Per-document Bloom contamination over ``docs`` against the
    ``bench_docs`` benchmark: ``(id_col, n_shingles, n_flagged,
    out_col)`` with flagged ⊇ exact containment (false positives
    bounded by the derived geometry, false negatives impossible — the
    property that makes Bloom the right gate before an exact check).
    Docs with no shingle (NULL text, fewer than ``n`` words) are
    absent, like the exploded-shingle form the oracle replays.

    Plan: :func:`bloom_fit` on the benchmark side, then ONE
    :func:`bloom_probe` pass over the corpus and a map-side
    ``n_shingles > 0`` filter — zero joins, zero exchanges, no
    exploded corpus rows. The JVM literal-bitset form this kernel
    replaced is kept as the equality reference in tests/reference
    (a phase decomposition measured its shingle construction at
    ~15 s and the k-probe forall at ~5 s of the 5M-doc row's 30 s,
    vs ~0.3 s for md5 itself — the strings were the cost, not the
    hash)."""
    bits, _, k = bloom_fit(bench_docs, text_col=text_col, n=n)
    out = bloom_probe(docs, bits, k, text_col, id_col, n)
    return out.filter(F.col("n_shingles") > 0).withColumn(
        out_col, F.col("n_flagged") / F.col("n_shingles").cast("double")
    )
