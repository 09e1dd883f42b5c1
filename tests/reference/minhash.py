"""JVM-expression MinHash banding — the reference for
``marex_spark.operators.lsh.minhash_bands_batch`` (run by
``queries.dedup._lsh_bands``).

3-word shingles are exploded per document with ``split`` +
``element_at`` + ``concat_ws``, each gets one md5 whose hex chars 1-15
become an int64 mod ``_MH_P``, one ``groupBy(doc_id)`` takes the
``_N_HASH`` permutation minima as columns, and band b's key is
``md5(concat_ws(",", m_{2b}, m_{2b+1}))``. Duplicate shingles are not
removed: ``min`` is idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from marex_spark.operators.lsh import _BAND_ROWS, _MH_A, _MH_B, _MH_P, _N_HASH


def lsh_bands_jvm(docs: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, band, band_key)`` for every doc with a shingle."""
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    parts = [F.element_at(F.col("w"), F.col("i") + j) for j in range(n)]
    sh = docs.select("doc_id", words.alias("w"), F.explode(idx).alias("i")).select(
        "doc_id", F.concat_ws(" ", *parts).alias("shingle")
    )
    si = sh.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % _MH_P
        ).alias("s"),
    )
    mins = si.groupBy("doc_id").agg(
        *[
            F.min((F.col("s") * _MH_A[h] + _MH_B[h]) % _MH_P).alias(f"m{h}")
            for h in range(_N_HASH)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{b * _BAND_ROWS + r}").cast("string")
                            for r in range(_BAND_ROWS)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(_N_HASH // _BAND_ROWS)
        ]
    )
    return mins.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )
