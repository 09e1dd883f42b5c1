"""JVM Bloom fit and literal-bitset probe — the references for
``marex_spark.operators.dedup.bloom_fit`` and ``bloom_probe``.

The fit explodes the benchmark's distinct shingles
(``shingle_array``), counts them for the geometry, and collects the
distinct k probe positions.

Shingles are exploded per document (``shingle_array``), each gets ONE
md5 whose two 60-bit halves are materialised as plain columns, and
the k probe positions ``(h1 + i·h2) mod m`` are tested against the
bitset riding the plan as ONE binary literal (byte-indexed O(1)
``substring``), then a per-doc groupBy counts shingles and hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from marex_spark.operators.dedup import (
    bloom_geometry,
    bloom_hash_cols,
    bloom_pos_from_hashes,
    shingle_array,
)


def bloom_fit_jvm(
    bench_docs: DataFrame, text_col: str = "text", n: int = 5
) -> tuple[bytes, int, int]:
    """``(bits, m, k)`` as ``bloom_fit`` returns them."""
    import numpy as np

    sh = (
        bench_docs.select(F.explode(shingle_array(F.col(text_col), n)).alias("shingle"))
        .distinct()
        .localCheckpoint()
    )
    m, k = bloom_geometry(sh.count())
    h1, h2 = bloom_hash_cols(F.col("shingle"), m)
    hs = sh.select(h1.alias("_h1"), h2.alias("_h2"))
    pos = hs.select(
        F.explode(
            F.array(
                *[bloom_pos_from_hashes(F.col("_h1"), F.col("_h2"), i, m) for i in range(k)]
            )
        ).alias("p")
    ).distinct()
    bits = np.full(m, ord("0"), dtype=np.uint8)
    bits[pos.toPandas()["p"].to_numpy(dtype=np.int64)] = ord("1")
    return bits.tobytes(), m, k


def bloom_flag_from_hashes(bits: bytes, k: int, h1, h2):
    """Boolean Column: all k probe bits of the '0'/'1' bitset ``bits``
    are set, from pre-materialised hash halves. Referenced once via
    ``forall`` over the k-position array, not k literal copies."""
    m = len(bits)
    bitset = F.lit(bits)
    pos_arr = F.array(
        *[
            (bloom_pos_from_hashes(h1, h2, i, m) + 1).cast("int")
            for i in range(k)
        ]
    )
    return F.forall(
        pos_arr, lambda p: F.substring(bitset, p, F.lit(1)) == F.lit(b"1")
    )


def bloom_counts_literal(
    docs: DataFrame,
    bits: bytes,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """``(id_col, n_shingles, n_flagged)`` for every doc with at least
    one shingle (docs with none are absent)."""
    h1, h2 = bloom_hash_cols(F.col("shingle"), len(bits))
    probed = docs.select(
        id_col, F.explode(shingle_array(F.col(text_col), n)).alias("shingle")
    ).select(id_col, h1.alias("_h1"), h2.alias("_h2"))
    flagged = bloom_flag_from_hashes(bits, k, F.col("_h1"), F.col("_h2"))
    return probed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(flagged.cast("long")).cast("long").alias("n_flagged"),
    )


def bloom_decontaminate_literal(
    docs: DataFrame,
    bench_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    out_col: str = "contamination_bloom",
) -> DataFrame:
    """Reference for ``bloom_decontaminate``: JVM fit, same output
    columns, literal-bitset probe."""
    bits, _, k = bloom_fit_jvm(bench_docs, text_col=text_col, n=n)
    return bloom_counts_literal(docs, bits, k, text_col, id_col, n).withColumn(
        out_col, F.col("n_flagged") / F.col("n_shingles").cast("double")
    )
