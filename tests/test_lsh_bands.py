"""The Arrow MinHash banding kernel behind ``_lsh_bands`` must equal
the JVM expression form (tests/reference/minhash.py) on arbitrary
corpora — same minima, same md5 band-key strings — and the one-exchange
bucket expansion must equal the band self-join it replaced."""

from pyspark.sql import functions as F

from marex_spark.operators.lsh import _BAND_ROWS, _N_HASH, bucket_pairs
from marex_spark.queries.dedup import _lsh_bands
from tests.reference.minhash import lsh_bands_jvm


def _corpus(spark, n=240):
    """Deterministic corpus with planted dups, short docs, a
    sub-shingle-length doc (2 words → zero shingles), NULL text and
    empty tokens."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.col("id") * (7 + j) + j * j, F.lit(50)),
                )
                for j in range(12)
            ],
        ).alias("text"),
    )
    dup = base.filter(F.pmod("doc_id", F.lit(10)) == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    edge = spark.createDataFrame(
        [
            (200000, "a b"),
            (200001, None),
            (200002, " lead  double  x "),
            (200003, "é❄ ünd é❄ ünd é❄"),
            (200004, "a b c"),
        ],
        "doc_id long, text string",
    )
    return base.unionByName(dup).unionByName(edge)


def test_kernel_bands_equal_jvm_reference(spark):
    docs = _corpus(spark)
    got = sorted(map(tuple, _lsh_bands(docs).collect()))
    want = sorted(map(tuple, lsh_bands_jvm(docs).collect()))
    assert got == want
    # zero-shingle and NULL docs contribute no band rows
    assert not any(d in (200000, 200001) for d, _, _ in got)
    # every banded doc carries all N_HASH/BAND_ROWS bands
    per_doc = {}
    for d, b, _ in got:
        per_doc.setdefault(d, set()).add(b)
    assert all(v == set(range(_N_HASH // _BAND_ROWS)) for v in per_doc.values())


def test_bucket_expansion_equals_band_self_join(spark):
    """Clique and star-capped bucket expansion against the join forms
    they replaced: ``a.id < b.id`` on a shared bucket, and with a cap
    only ``a.id = hub`` in buckets above it. The corpus repeats every
    text with period 50, so its buckets hold 4, 5, 8 or 10 docs; caps
    4 and 5 sit on a bucket size (``n == cap`` keeps the clique)."""
    bands = _lsh_bands(_corpus(spark)).localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    size = bands.groupBy("band", "band_key").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("hub")
    )
    sized = joined.join(
        size.alias("s"),
        (F.col("s.band") == F.col("a.band")) & (F.col("s.band_key") == F.col("a.band_key")),
    )

    def pairs(df):
        return {(r[0], r[1]) for r in df.select("a.doc_id", "b.doc_id").distinct().collect()}

    def expanded(cap):
        out = bucket_pairs(bands, ["band", "band_key"], ["doc_id"], cap)
        return {(r[0], r[1]) for r in out.select("a.doc_id", "b.doc_id").distinct().collect()}

    clique = expanded(None)
    assert clique == pairs(joined) and clique
    stars = []
    for cap in (3, 4, 5):
        star = expanded(cap)
        capped = sized.filter((F.col("s.n") <= cap) | (F.col("a.doc_id") == F.col("s.hub")))
        assert star == pairs(capped), cap
        stars.append(star)
    assert stars[0] < stars[1] < stars[2] < clique  # every cap fires
