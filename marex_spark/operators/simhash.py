"""SimHash fingerprinting + banded near-dup pair generation — the
parameterised tier (the registered queries in queries/dedup.py pin
constants).

Reference shape: Manku, Jain & Das Sarma, "Detecting Near-Duplicates
for Web Crawling" (WWW 2007) — the Google production setting is 64-bit
fingerprints with a hamming-distance gate of 3 and candidate
generation by exact match on fingerprint SLICES (their permuted-table
scheme; here the equivalent pigeonhole band buckets). The r7 verdict
flagged the previous 16-bit/4-bit-band geometry as quadratic at scale
(every 4-bit band bucket goes corpus-hot); this module is the 64-bit
rebuild.

Determinism across engines: one md5 per word, split into two 32-bit
halves parsed as integers — Spark ``conv(substr(md5(w),…),16,10)`` ==
DuckDB ``CAST('0x'||substr(md5(w),…) AS BIGINT)`` — so fingerprints,
band keys and hamming distances replay bit-for-bit in any md5-capable
engine. Bit 63 makes the BIGINT fingerprint negative; band extraction
therefore uses ``shiftright + AND-mask`` (sign-safe), never modulo.

Scale shape:
- Fingerprinting: ONE ``mapInArrow`` pass (:func:`simhash_batch` per
  Arrow batch) — token spans over the batch's string buffer, one
  vectorised md5 per word, exact per-doc vote counts. Zero exchanges
  and no word explode; batch and stream run the same kernel.
- Pair generation: one grouping of the band slices by their 16-bit
  keys (65,536 values per band × 4 bands), each bucket expanded in id
  order in place — ONE exchange, then the hamming gate and a
  ``distinct`` across bands. Buckets are only hot where the corpus
  really contains mass near-duplicates; for those, ``star_cap``
  switches the bucket from clique expansion (O(d²) pairs) to
  hub→member star expansion (O(d) pairs, hub = min id) — union-find
  canonicalisation connects the identical component either way. The
  cap condition is ``n <= cap OR a.id = hub``: since the hub is the
  bucket's minimum id and every pair has ``a.id < b.id``, star pairs
  are the hub-anchored subset of the clique, so the capped output is
  always a subset of the uncapped one. A bucket of d members holds
  O(d) memory in one task whichever form it takes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.operators.lsh import bucket_pairs


def simhash_batch(text, bits: int = 64):
    """The per-batch SimHash kernel: ``(rows, fp)`` for the pyarrow
    string array ``text`` — the indices of its non-NULL rows and their
    ``bits``-wide fingerprints (int64; bit 63 makes it negative).
    Tokens are ``split(text, ' ')`` with empties kept (an empty or
    all-space text still votes); each word's md5 gives a 64-bit hash
    ``(hi << 32) | lo`` from hex chars 9-16 and 1-8, every word votes
    ±1 per bit (term frequency weights the vote), and bit b is set iff
    ``2·ones_b > n_words``. Counts are exact integers, so documents of
    any length fingerprint correctly. Spark-free."""
    import numpy as np

    from marex_spark.operators.md5np import (
        halves32,
        md5_words,
        shingle_spans,
        string_spans,
    )

    data, offsets, valid = string_spans(text)
    # n=1 "shingles" = the split tokens themselves
    row_idx, starts, lens = shingle_spans(data, offsets, valid, 1)
    if not len(row_idx):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    lo, hi = halves32(md5_words(data, starts, lens))
    h64 = (hi.astype(np.uint64) << np.uint64(32)) | lo.astype(np.uint64)
    # docs appear as contiguous row_idx runs (row-major spans).
    # Per-bit 1-D reduceat: the (ntok × 64) bit matrix with an axis-0
    # reduceat was 17× slower (strided reduction over a 40 MB
    # temporary vs 64 cache-resident passes).
    rows, first = np.unique(row_idx, return_index=True)
    ones = np.empty((len(first), bits), dtype=np.int64)
    for b in range(bits):
        bit_b = ((h64 >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        ones[:, b] = np.add.reduceat(bit_b, first)
    nw = np.diff(np.append(first, len(row_idx)))
    fp_bits = (2 * ones) > nw[:, None]
    weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)
    fp = (fp_bits.astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    return rows, fp.view(np.int64)


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    fp_name: str = "simhash",
) -> DataFrame:
    """``(id_col, fp_name)`` — one ``bits``-wide SimHash per document
    of ``df`` (batch or streaming): one ``mapInArrow`` running
    :func:`simhash_batch` per Arrow batch. NULL-text documents are
    absent, like the exploded form the oracle replays
    (:func:`simhash_fingerprints_sql`). The plan adds ZERO exchanges
    and no word explode: the phase decomposition of the explode+groupBy
    form it replaced measured its aggregate+combine at ~4.2 s of the
    1M-doc row vs ~0.7 s for md5 itself. That form is kept as the
    equality reference in tests/reference."""
    from collections.abc import Iterator

    import pyarrow as pa

    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    id_type = df.schema[id_col].dataType.simpleString()

    def _fp(batches) -> Iterator:
        for batch in batches:
            rows, fp = simhash_batch(batch.column(text_col), bits)
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [batch.column(id_col).take(pa.array(rows)), pa.array(fp)],
                    names=[id_col, fp_name],
                )

    return df.select(id_col, text_col).mapInArrow(
        _fp, schema=f"{id_col} {id_type}, {fp_name} long"
    )


def simhash_fingerprints_sql(
    source: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    fp_name: str = "simhash",
) -> str:
    """DuckDB replay of :func:`simhash_fingerprints` — generated from
    the same geometry so query and oracle can never drift."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    votes = ", ".join(
        "SUM(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}".format(
            src="lo" if b < 32 else "hi", sh=b % 32, b=b
        )
        for b in range(bits)
    )
    terms = [
        "(CASE WHEN s{b} > 0 THEN {v} ELSE 0 END)".format(
            b=b, v="(-9223372036854775807 - 1)" if b == 63 else (1 << b)
        )
        for b in range(bits)
    ]
    combine = " + ".join(terms)
    return f"""SELECT {id_col}, CAST({combine} AS BIGINT) AS {fp_name} FROM (
          SELECT {id_col}, {votes} FROM (
            SELECT {id_col},
                   CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS lo,
                   CAST('0x' || substr(md5(word), 9, 8) AS BIGINT) AS hi
            FROM (SELECT {id_col}, t.w AS word
                  FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws
                        FROM {source}), UNNEST(ws) AS t(w)))
          GROUP BY {id_col})"""


def _check_banding(bands: int, band_bits: int, max_hamming: int) -> None:
    if bands * band_bits > 64:
        raise ValueError(f"{bands} bands × {band_bits} bits exceeds 64")
    if max_hamming >= bands:
        # pigeonhole: a pair at hamming h differs in at most h bands, so
        # it matches exactly on >= bands - h of them; completeness needs
        # bands > max_hamming (Manku 2007 §3: 4 slices for hamming 3).
        raise ValueError(
            f"banding incomplete: max_hamming {max_hamming} needs "
            f"> {max_hamming} bands, got {bands}"
        )


def simhash_bands(
    fps: DataFrame,
    bands: int = 4,
    band_bits: int = 16,
    id_col: str = "doc_id",
    fp_name: str = "simhash",
) -> DataFrame:
    """``(doc_id, fp, band, key)`` — one row per fingerprint slice,
    keys extracted sign-safely (shift + AND-mask; bit 63 makes the
    BIGINT negative). This is both the pair-bucket input and the static
    corpus INDEX layout the streaming gate probes (at 100 TB it lives
    as a parquet table keyed by (band, key))."""
    mask = (1 << band_bits) - 1
    return fps.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_name).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(fp_name), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "fp", F.col("bb.band").alias("band"), F.col("bb.key").alias("key")
    )


def simhash_band_pairs(
    fps: DataFrame,
    bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    star_cap: int | None = None,
    id_col: str = "doc_id",
    fp_name: str = "simhash",
) -> DataFrame:
    """``(doc_a, doc_b, hamming)`` — all pairs at hamming distance ≤
    ``max_hamming``, generated from the pigeonhole band buckets
    (complete by construction when ``bands > max_hamming``) and
    verified with one xor+bit_count per candidate. ``star_cap`` bounds
    hot-bucket blowup: buckets above the cap emit only hub-anchored
    pairs (see module docstring for why the capped output is a subset).

    Plan: the band slices, ONE grouping exchange by ``(band, key)``
    that expands each bucket in id order (operators/lsh.py
    ``bucket_pairs``; the cap is applied in the same pass, no
    bucket-size join), the hamming gate, then the ``distinct`` across
    bands. The fingerprints are read once, so they need no
    checkpoint."""
    _check_banding(bands, band_bits, max_hamming)
    banded = simhash_bands(fps, bands, band_bits, id_col, fp_name)
    pairs = bucket_pairs(banded, ["band", "key"], ["doc_id", "fp"], star_cap)
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_band_pairs_sql(
    fp_cte: str,
    bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 3,
    star_cap: int | None = None,
    id_col: str = "doc_id",
    fp_name: str = "simhash",
) -> str:
    """DuckDB replay of :func:`simhash_band_pairs`. ``fp_cte`` is the
    SQL producing ``(id_col, fp_name)`` (usually
    :func:`simhash_fingerprints_sql` with matching geometry)."""
    _check_banding(bands, band_bits, max_hamming)
    mask = (1 << band_bits) - 1
    cap_join, cap_where = "", ""
    if star_cap is not None:
        cap_join = (
            "\n          JOIN bsize s ON s.band = a.band AND s.key = a.key"
        )
        cap_where = f"\n          WHERE s.n <= {star_cap} OR a.{id_col} = s.hub"
    bsize_cte = (
        f""",
        bsize AS (
          SELECT band, key, COUNT(*) AS n, MIN({id_col}) AS hub
          FROM bands GROUP BY 1, 2)"""
        if star_cap is not None
        else ""
    )
    return f"""WITH sh AS ({fp_cte}),
        bands AS (
          SELECT {id_col}, {fp_name}, t.b AS band,
                 ({fp_name} >> (t.b * {band_bits})) & {mask} AS key
          FROM sh, UNNEST(generate_series(0, {bands - 1})) AS t(b)){bsize_cte},
        cand AS (
          SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
                 a.{fp_name} AS ha, b.{fp_name} AS hb
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.key = b.key
                       AND a.{id_col} < b.{id_col}{cap_join}{cap_where})
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= {max_hamming}"""
