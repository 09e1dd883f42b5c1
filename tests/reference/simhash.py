"""Explode+groupBy SimHash — the reference for
``marex_spark.operators.simhash.simhash_fingerprints``.

Every word of ``split(text, ' ')`` gets one md5 split into 32-bit
halves (``lo`` = hex chars 1-8 for bits 0-31, ``hi`` = chars 9-16 for
bits 32-63); a per-doc groupBy sums each bit (one 32-bit-wide count
per bit, so no document length can overflow it) and bit b is set iff
``2·ones_b > n_words`` — exactly ``Σ±1 > 0``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

_MIN_LONG = -(1 << 63)


def simhash_fingerprints_groupby(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    fp_name: str = "simhash",
) -> DataFrame:
    """``(id_col, fp_name)`` per non-NULL-text document."""
    tok = df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    m = F.md5("word")
    wh = tok.select(
        id_col,
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("lo"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("hi"),
    )

    def bit_of(b):
        src = F.col("lo") if b < 32 else F.col("hi")
        return F.shiftright(src, b % 32).bitwiseAND(F.lit(1))

    agg = wh.groupBy(id_col).agg(
        *[F.sum(bit_of(b)).alias(f"o{b}") for b in range(bits)],
        F.count("*").alias("__nw"),
    )
    terms = [
        F.when(
            F.col(f"o{b}") * 2 > F.col("__nw"),
            F.lit(_MIN_LONG if b == 63 else (1 << b)),
        ).otherwise(F.lit(0))
        for b in range(bits)
    ]
    combine = reduce(lambda a, c: a + c, terms)
    return agg.select(id_col, combine.cast("long").alias(fp_name))
