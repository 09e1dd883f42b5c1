"""LSH skew guard: star expansion on hot band buckets must preserve
the connected components (canonicalisation answer) of the clique
expansion — the property that lets the O(d) form replace the O(d²)
form at scale."""

import pytest
from pyspark.sql import functions as F

from marex_spark.operators.components import connected_components_driver
from marex_spark.queries.dedup import (
    _STAR_CAP,
    _lsh_bands,
    dedup_lsh_star_capped,
    dedup_minhash_lsh,
)
from marex_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _clusters(spark, pairs):
    docs = load_table(spark, SF, "documents").select("doc_id")
    comp = connected_components_driver(
        pairs.select(
            F.col("doc_a").alias("id_t"), F.col("doc_b").alias("id_next")
        ),
        docs,
        id_col="doc_id",
        compact=False,
    )
    return {
        (r.doc_id, r.event_id) for r in comp.collect()
    }


def test_star_cap_fires_and_preserves_clusters(spark):
    clique = dedup_minhash_lsh(spark, SF)
    star = dedup_lsh_star_capped(spark, SF)
    n_clique, n_star = clique.count(), star.count()
    # the cap actually engages on this corpus (otherwise the test is vacuous)
    bands = _lsh_bands(load_table(spark, SF, "documents"))
    big = (
        bands.groupBy("band", "band_key")
        .count()
        .filter(F.col("count") > _STAR_CAP)
        .count()
    )
    assert big > 0
    assert n_star <= n_clique
    assert _clusters(spark, clique) == _clusters(spark, star)


def test_substring_spans_planted_copy(spark, tmp_path):
    """A verbatim 16-token span copied between two docs is flagged at
    every window position it covers; unrelated docs and short docs
    report zero with ratio 0.0."""
    import marex_spark.queries.dedup as dq

    span = " ".join(f"tok{i}" for i in range(16))
    docs = [
        (0, "alpha " + span + " omega", "en", "s0", 0),
        (1, "prefix words here " + span, "en", "s1", 0),
        (2, " ".join(f"other{i}" for i in range(30)), "en", "s0", 0),
        (3, "too short", "en", "s1", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r.doc_id: r
        for r in dq.dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    # doc0: 18 tokens -> 3 windows; only the exact copied alignment
    # (positions covering the span with identical 16-token content)
    # is shared with doc1 -> the 'alpha..'-shifted windows differ
    assert out[0].n_windows == 3 and out[0].n_dup_windows == 1
    assert out[1].n_windows == 4 and out[1].n_dup_windows == 1
    assert out[2].n_windows == 15 and out[2].n_dup_windows == 0
    assert out[3].n_windows == 0 and out[3].dup_ratio == 0.0


class TestBloomGeometry:
    def test_known_geometries(self):
        from marex_spark.queries.dedup import bloom_geometry

        # n=475 (the sf0.01 fixture's benchmark): 4750 → m=2^13, k=12
        assert bloom_geometry(475) == (8192, 12)
        # floor kicks in for tiny benchmarks, k capped at 14
        assert bloom_geometry(1) == (1024, 14)
        assert bloom_geometry(100) == (1024, 7)
        # a real 10^6-shingle benchmark (the r6 verdict's saturation
        # case): m grows to 2^24 — no longer saturating
        m, k = bloom_geometry(1_000_000)
        assert m == 1 << 24 and k == 12

    def test_bitset_size_at_ten_million_shingles(self):
        """The documented ceiling figures of bloom_fit/bloom_probe,
        from the geometry alone (no bitset is built): at n = 10^7
        benchmark shingles m = 2^27 bits, k = 9, and the packed
        broadcast is m/8 = 16 MiB — at most 2.5 bytes per shingle."""
        from marex_spark.queries.dedup import bloom_geometry

        n = 10**7
        m, k = bloom_geometry(n)
        assert (m, k) == (1 << 27, 9)
        assert m // 8 == 16 * 2**20
        assert m // 8 <= 2.5 * n

    def test_oracle_sql_derives_same_geometry(self):
        """The bloom_geom CTE must compute the exact (m, k) that
        bloom_geometry() computes, for a range of benchmark sizes —
        the contract that keeps the driver's hash gate green at any
        SF."""
        import duckdb

        from marex_spark.queries.dedup import (
            _BLOOM_K_MAX,
            _BLOOM_M_MIN,
            _LN2,
            bloom_geometry,
        )

        con = duckdb.connect()
        for n in [1, 7, 100, 102, 103, 475, 4096, 65536, 10**6, 10**9]:
            m, k = bloom_geometry(n)
            row = con.execute(
                f"""SELECT
                 CAST(POWER(2, CAST(CEIL(LOG2(GREATEST(10 * CAST({n} AS BIGINT), {_BLOOM_M_MIN}))) AS INT)) AS BIGINT) AS m,
                 LEAST({_BLOOM_K_MAX}, GREATEST(1, CAST(FLOOR(
                   POWER(2, CAST(CEIL(LOG2(GREATEST(10 * CAST({n} AS BIGINT), {_BLOOM_M_MIN}))) AS INT))
                   * {_LN2!r} / GREATEST({n}, 1) + 0.5) AS INT))) AS k"""
            ).fetchone()
            assert (m, k) == (int(row[0]), int(row[1])), (n, (m, k), row)

    @pytest.mark.slow
    def test_false_positive_rate_bounded(self, spark):
        """Probe 2000 shingles DISJOINT from a 500-shingle benchmark:
        with derived geometry the expected FP rate is <1%; assert the
        observed rate stays under 3% (loose enough to never flake,
        tight enough to catch a saturated bitset — the fixed-m bug
        this geometry replaces would flag ~100%)."""
        from marex_spark.queries.dedup import _bloom_pos, bloom_geometry

        bench = spark.createDataFrame(
            [(f"bench shingle number {i} words",) for i in range(500)],
            "shingle string",
        )
        m, k = bloom_geometry(500)
        pos = {
            int(r[0])
            for r in bench.select(
                F.explode(
                    F.array(
                        *[_bloom_pos(F.col("shingle"), i, m) for i in range(k)]
                    )
                ).alias("p")
            )
            .distinct()
            .collect()
        }
        bits = [i in pos for i in range(m)]
        probe = spark.createDataFrame(
            [(f"train shingle number {i} words",) for i in range(2000)],
            "shingle string",
        )
        flagged = None
        for i in range(k):
            p = F.element_at(
                F.lit(bits), (_bloom_pos(F.col("shingle"), i, m) + 1).cast("int")
            )
            flagged = p if flagged is None else (flagged & p)
        n_fp = probe.filter(flagged).count()
        assert n_fp / 2000 < 0.03, n_fp


def test_bloom_fit_equals_jvm_fit(spark):
    """The one-pass Arrow fit returns the same (bits, m, k) as the JVM
    explode + distinct + count + positions form, on the fixture's
    benchmark and on edge-case text (NULL, short, repeated shingles,
    empty tokens, multibyte)."""
    from marex_spark.operators.dedup import bloom_fit
    from tests.reference.bloom import bloom_fit_jvm

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("source") == "src0")
    fit = bloom_fit(bench)
    assert fit == bloom_fit_jvm(bench)
    assert fit[0].count(b"1") > 0
    edge = spark.createDataFrame(
        [
            (None,), ("a b",), ("a b c d e",), ("a b c d e a b c d e",),
            (" lead  double  space x y z ",), ("é❄ ünd é❄ ünd x y z w",),
        ],
        "text string",
    )
    assert bloom_fit(edge) == bloom_fit_jvm(edge)


def test_decontam_bloom_all_tiers_agree(spark):
    """The Arrow probe kernel behind decontam_bloom and the JVM
    literal-bitset reference (tests/reference/bloom.py) must produce
    exactly the same rows on the same benchmark/training split — the
    guarantee that the kernel is a plan change, not a semantics
    change."""
    import marex_spark.queries.dedup as dq
    from marex_spark.queries.registry import round6
    from tests.reference.bloom import bloom_decontaminate_literal

    kern = {tuple(r) for r in dq.decontam_bloom(spark, SF).collect()}
    docs = load_table(spark, SF, "documents")
    ref = bloom_decontaminate_literal(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=5,
    ).select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        round6(F.col("contamination_bloom")).alias("contamination_bloom"),
    )
    lit = {tuple(r) for r in ref.collect()}
    assert kern == lit
    assert any(r[2] > 0 for r in kern), "fixture must flag some docs"
