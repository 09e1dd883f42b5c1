"""MinHash-LSH banding and the banded-bucket pair expansion.

- :func:`minhash_bands_batch` is the per-batch MinHash kernel,
  Spark-free like ``bloom_counts`` and ``simhash_batch``: zero-copy
  3-word shingle spans over the Arrow text buffer, one vectorised md5
  per shingle, h1 (hex chars 1-15) mod ``_MH_P``, the ``_N_HASH``
  universal-hash permutations ``(s·a + b) mod _MH_P`` and their
  per-doc minima, then one band key per ``_BAND_ROWS`` minima:
  ``md5("m_{2b},m_{2b+1}")`` as lowercase hex, the decimal strings
  built and hashed in numpy too. Values equal the JVM expression form
  kept in tests/reference/minhash.py and the DuckDB replay in
  queries/dedup.py.
- :func:`minhash_band_rows` runs it as one ``mapInArrow``: no
  exchange, so the batch banding (``queries.dedup._lsh_bands``) and the
  streaming gate (``streaming.documents.doc_band_keys``) share it.
- :func:`bucket_pairs` turns any banded table (MinHash band keys,
  SimHash fingerprint slices) into candidate pairs with ONE grouping
  exchange: each ``(band, key)`` bucket's members are collected in id
  order and expanded in place, the full clique or, above
  ``star_cap`` members, only hub→member pairs (hub = min id). A hot
  bucket of d members holds O(d) memory in one task, never O(d²):
  the expansion is two nested generators that stream their pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SHINGLE_WORDS = 3
_N_HASH = 8
_BAND_ROWS = 2  # 4 bands × 2 rows
# Universal-hash family over a Mersenne prime: one md5 per shingle
# (parsed to int64), then the 8 permutations are integer multiply-adds —
# 8× cheaper than 8 salted md5s of the shingle STRING, and the same
# arithmetic evaluates identically in numpy, Spark and DuckDB (operands
# stay under 2^62, so no engine's overflow behaviour is reached).
_MH_P = 2_147_483_647  # 2^31 - 1
_MH_A = [1_103_515_245, 22_695_477, 214_013, 69_069, 75, 1_664_525, 48_271, 16_807]
_MH_B = [12_345, 1, 2_531_011, 362_437, 74, 1_013_904_223, 37, 17]

# powers of ten, most significant first: every value here is < 10^10
_POW10 = 10 ** np.arange(9, -1, -1, dtype=np.int64)
_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _decimal_csv(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each row of the non-negative int64 matrix ``vals`` (N, r), all
    values < 10^10, as the ASCII string ``"v0,v1,..."`` (Spark's
    ``concat_ws(",", cast(v as string)...)``): returns ``(data, starts,
    lens)`` spans over one zero-padded byte buffer, row i at i·11r."""
    n, r = vals.shape
    width = 11 * r
    digits = (vals[:, :, None] // _POW10) % 10  # (N, r, 10)
    ndig = 1 + (vals[:, :, None] >= _POW10[:-1]).sum(axis=2)  # (N, r)
    skip = 10 - ndig  # leading zeros of the 10-digit form
    field0 = np.zeros((n, r), dtype=np.int64)
    field0[:, 1:] = np.cumsum(ndig + 1, axis=1)[:, :-1]
    j = np.arange(10)
    keep = j >= skip[:, :, None]
    pos = field0[:, :, None] + j - skip[:, :, None]
    row = np.broadcast_to(np.arange(n)[:, None, None], keep.shape)
    out = np.zeros((n, width), dtype=np.uint8)
    out[row[keep], pos[keep]] = digits[keep] + ord("0")
    out[np.arange(n)[:, None], field0[:, 1:] - 1] = ord(",")
    return out.ravel(), np.arange(n, dtype=np.int64) * width, ndig.sum(axis=1) + r - 1


def _hex_strings(words: np.ndarray):
    """md5 digest words (N, 4) → a pyarrow string array of N
    lowercase 32-char hex digests (Spark ``md5()``)."""
    import pyarrow as pa

    b = np.ascontiguousarray(words).view(np.uint8).reshape(-1, 16)
    hx = np.empty((len(b), 32), dtype=np.uint8)
    hx[:, 0::2] = _HEX[b >> 4]
    hx[:, 1::2] = _HEX[b & 15]
    offsets = np.arange(len(b) + 1, dtype=np.int32) * 32
    return pa.Array.from_buffers(
        pa.string(), len(b), [None, pa.py_buffer(offsets), pa.py_buffer(hx)]
    )


def minhash_bands_batch(text):
    """The per-batch MinHash-LSH kernel: ``(rows, keys)`` for the
    pyarrow string array ``text``. ``rows`` (int64) are the indices of
    the docs with at least one 3-word shingle of ``split(text, ' ')``
    (empty tokens kept; NULL and shorter docs have none); ``keys`` is a
    pyarrow string array of ``len(rows) · _N_HASH / _BAND_ROWS`` band
    keys, doc-major (doc 0's bands 0..3, then doc 1's, ...). Band b's
    key is the md5 hex of the decimal minima ``"m_{2b},m_{2b+1}"``,
    where ``m_h = min over shingles of (s·a_h + b_h) mod _MH_P`` and
    ``s`` = hex chars 1-15 of the shingle's md5 mod ``_MH_P``.
    Duplicate shingles need no dedup: min is idempotent. Spark-free."""
    import pyarrow as pa

    from marex_spark.operators.md5np import (
        halves60,
        md5_words,
        shingle_spans,
        string_spans,
    )

    data, offsets, valid = string_spans(text)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, _SHINGLE_WORDS)
    if not len(row_idx):
        return np.empty(0, dtype=np.int64), pa.array([], pa.string())
    h1, _ = halves60(md5_words(data, starts, lens))
    s = h1 % _MH_P
    # row_idx is non-decreasing (row-major spans): each doc is one run
    first = np.flatnonzero(np.r_[True, row_idx[1:] != row_idx[:-1]])
    mins = np.empty((len(first), _N_HASH), dtype=np.int64)
    for h in range(_N_HASH):
        mins[:, h] = np.minimum.reduceat((s * _MH_A[h] + _MH_B[h]) % _MH_P, first)
    band_in = _decimal_csv(mins.reshape(-1, _BAND_ROWS))
    return row_idx[first], _hex_strings(md5_words(*band_in))


def minhash_band_rows(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """The ``keep`` columns of ``df`` plus ``(band long, band_key
    string)``: one row per band of every doc with at least one shingle
    (:func:`minhash_bands_batch`). One ``mapInArrow``, zero exchanges,
    no state, so it runs on a batch table or a stream alike."""
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n_bands = _N_HASH // _BAND_ROWS
    cols = list(keep) + ([text_col] if text_col not in keep else [])
    schema = StructType(
        [df.schema[c] for c in keep]
        + [StructField("band", LongType()), StructField("band_key", StringType())]
    )

    def _bands(batches) -> Iterator:
        for batch in batches:
            rows, keys = minhash_bands_batch(batch.column(text_col))
            if not len(rows):
                continue
            take = pa.array(np.repeat(rows, n_bands))
            band = pa.array(np.tile(np.arange(n_bands, dtype=np.int64), len(rows)))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(take) for c in keep] + [band, keys],
                names=[*keep, "band", "band_key"],
            )

    return df.select(*cols).mapInArrow(_bands, schema=schema)


def bucket_pairs(
    banded: DataFrame,
    bucket: list[str],
    member: list[str],
    star_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs ``(a, b)`` of ``banded`` — two structs of the
    ``member`` columns, whose first column is the doc id — for every
    two members of one ``bucket`` group with ``a.id < b.id``.

    ONE grouping exchange: ``collect_list`` (map-side partial) of each
    bucket's members, sorted by id, then two nested generators expand
    member i against members i+1.. in place. Buckets of more than
    ``star_cap`` members expand only from member 0 (the hub, the
    bucket's minimum id): hub→member pairs, a subset of the clique
    that connects the same component. Pairs are not deduplicated
    across buckets; the caller's ``distinct`` does that."""
    g = (
        banded.groupBy(*bucket)
        .agg(F.array_sort(F.collect_list(F.struct(*member))).alias("_m"))
        .filter(F.size("_m") > 1)
    )
    e = g.select("_m", F.posexplode("_m").alias("_i", "a"))
    if star_cap is not None:
        e = e.filter((F.size("_m") <= star_cap) | (F.col("_i") == 0))
    rest = F.slice("_m", F.col("_i") + 2, F.size("_m") - F.col("_i") - 1)
    return e.select("a", F.explode(rest).alias("b"))
