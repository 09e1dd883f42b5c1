"""dedup_simhash_pairs: the banding pigeonhole must be COMPLETE — the
banded candidate join may generate extra candidates (verified away by
the hamming gate) but can never lose a qualifying pair. Brute-force
all-pairs hamming on the fixture's fingerprints is the ground truth.

The star-capped variant must bound hot band buckets to O(d)
hub-anchored pairs while staying a subset of the clique form."""

from itertools import combinations

import pytest

from pyspark.sql import functions as F

from marex_spark.operators.simhash import simhash_band_pairs
from marex_spark.queries.dedup import (
    _SH_MAX_HAMMING,
    _SH_STAR_CAP,
    dedup_simhash,
    dedup_simhash_pairs,
    dedup_simhash_star_capped,
)

SF = "/root/testdata/sf0.001"

_M64 = (1 << 64) - 1


def _ham(a, b):
    # fingerprints are signed 64-bit longs (bit 63 set => negative);
    # mask the xor to 64 bits so Python's bin() counts real bits.
    return bin((a ^ b) & _M64).count("1")


@pytest.mark.slow
def test_banded_pairs_equal_brute_force(spark):
    fps = {r.doc_id: r.simhash for r in dedup_simhash(spark, SF).collect()}
    truth = {
        (a, b, _ham(fps[a], fps[b]))
        for a, b in combinations(sorted(fps), 2)
        if _ham(fps[a], fps[b]) <= _SH_MAX_HAMMING
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup_simhash_pairs(spark, SF).collect()
    }
    assert got == truth
    assert truth, "fixture must contain qualifying (near-dup) pairs"


def test_star_capped_is_subset_and_connects_components(spark):
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup_simhash_pairs(spark, SF).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup_simhash_star_capped(spark, SF).collect()
    }
    assert capped <= full
    assert capped, "cap must not empty the fixture's pairs"


def test_star_cap_bounds_hot_bucket_pairs(spark):
    # plant a corpus-hot band: 40 identical fingerprints collide in
    # EVERY band bucket; clique form would emit C(40,2)=780 pairs, the
    # star form must emit exactly hub->member = 39 (hamming 0 all).
    n = 40
    fps = spark.createDataFrame(
        [(i, 0x1234_5678_9ABC_DEF0 - (1 << 63)) for i in range(n)],
        "doc_id long, simhash long",
    )
    out = simhash_band_pairs(
        fps, bands=4, band_bits=16, max_hamming=3, star_cap=_SH_STAR_CAP
    )
    rows = out.collect()
    assert len(rows) == n - 1
    hub = min(r.doc_a for r in rows)
    assert all(r.doc_a == hub and r.hamming == 0 for r in rows)
    # uncapped clique form really is quadratic on the same input
    clique = simhash_band_pairs(fps, bands=4, band_bits=16, max_hamming=3)
    assert clique.count() == n * (n - 1) // 2


def test_banding_geometry_guards():
    import pytest

    from marex_spark.operators.simhash import _check_banding

    with pytest.raises(ValueError):
        _check_banding(4, 17, 3)  # > 64 bits
    with pytest.raises(ValueError):
        _check_banding(3, 16, 3)  # incomplete: hamming 3 needs > 3 bands
    _check_banding(4, 16, 3)


def test_negative_fingerprint_band_keys(spark):
    # bit 63 set => negative long; band extraction must be sign-safe
    # (shift + mask, never modulo). Verify against Python bit math.
    fp = (0xDEAD_BEEF_CAFE_F00D) - (1 << 64)  # negative two's complement
    df = spark.createDataFrame([(1, fp)], "doc_id long, simhash long")
    got = (
        df.select(
            *[
                F.shiftright("simhash", b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias(f"k{b}")
                for b in range(4)
            ]
        )
        .collect()[0]
    )
    want = [((fp & _M64) >> (b * 16)) & 0xFFFF for b in range(4)]
    assert [got[f"k{b}"] for b in range(4)] == want


def test_kernel_fingerprints_equal_groupby_form(spark):
    """The Arrow fingerprint kernel must be bit-identical to the
    explode+groupBy reference (tests/reference/simhash.py), including
    negative fingerprints (bit 63), empty/whitespace edge texts and
    NULL-text drops — and it must add ZERO exchanges."""
    from marex_spark.operators.simhash import simhash_fingerprints
    from marex_spark.plans import exchange_count
    from marex_spark.sources.parquet import load_table
    from tests.reference.simhash import simhash_fingerprints_groupby

    docs = load_table(spark, SF, "documents").limit(200)
    edge = spark.createDataFrame(
        [(90001, ""), (90002, "x"), (90003, "a a a"), (90004, "  "),
         (90005, None), (90006, " lead"), (90007, "trail ")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    a = {
        r.doc_id: r.simhash
        for r in simhash_fingerprints_groupby(both).collect()
    }
    b = {r.doc_id: r.simhash for r in simhash_fingerprints(both).collect()}
    assert a == b
    assert 90005 not in b, "NULL-text doc must be dropped by both forms"
    assert any(v < 0 for v in b.values()), "fixture should exercise bit 63"
    plain = load_table(spark, SF, "documents")
    assert exchange_count(simhash_fingerprints(plain)) == 0


def test_banding_completeness_property(spark):
    """Property: over ARBITRARY 64-bit fingerprints (not just the
    fixture's), the banded join finds exactly the brute-force pairs at
    hamming <= 3 — including adversarial sets built by flipping <= 3
    bits of a base pattern across band boundaries and around bit 63.
    One Spark job over all generated sets (hypothesis would re-enter
    Spark per example; deterministic construction covers the same
    space)."""
    import itertools
    import random

    rng = random.Random(42)
    rows = []
    doc = 0
    for s in range(6):
        base = rng.getrandbits(64)
        members = [base]
        # neighbours at hamming 1..3, biased to straddle band edges
        for k in (1, 2, 3):
            for _ in range(3):
                bits = rng.sample(
                    [0, 15, 16, 31, 32, 47, 48, 63]
                    + [rng.randrange(64) for _ in range(4)],
                    k,
                )
                v = base
                for b in set(bits):
                    v ^= 1 << b
                members.append(v)
        # plus pure-random strangers
        members += [rng.getrandbits(64) for _ in range(6)]
        for v in members:
            signed = v - (1 << 64) if v >= (1 << 63) else v
            rows.append((doc + s * 1000, signed))
            doc += 1
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_band_pairs(
            fps, bands=4, band_bits=16, max_hamming=3
        ).collect()
    }
    unsigned = {d: (v & _M64) for d, v in ((r[0], r[1]) for r in rows)}
    want = {
        (a, b, _ham(unsigned[a], unsigned[b]))
        for a, b in itertools.combinations(sorted(unsigned), 2)
        if _ham(unsigned[a], unsigned[b]) <= 3
    }
    assert got == want
    assert len(want) > 50, f"adversarial set too thin: {len(want)}"


def test_kernel_equals_reference_on_long_docs(spark):
    """The kernel counts votes in exact integers, so documents far
    past any fixed-width vote lane (256 words = one past an 8-bit
    lane; 40,000 words) must fingerprint exactly like the reference."""
    from marex_spark.operators.simhash import simhash_fingerprints
    from tests.reference.simhash import simhash_fingerprints_groupby

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 256)),
            (2, " ".join(f"t{i % 97}" for i in range(40_000))),
        ],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, simhash_fingerprints(docs).collect()))
    assert got == sorted(
        map(tuple, simhash_fingerprints_groupby(docs).collect())
    )
    assert len(got) == 2


def test_documented_word_envelope_no_ansi_overflow(spark):
    """A 40,000-repeated-word document (once an ANSI overflow in a
    lane-packed vote sum) must fingerprint cleanly, and the
    fingerprint must equal the term-frequency math (all-same-word doc
    => fingerprint == the word's own bit pattern under the sign rule,
    i.e. same as the 1-word doc)."""
    from marex_spark.operators.simhash import simhash_fingerprints

    big = spark.createDataFrame(
        [(1, " ".join(["q"] * 40_000)), (2, "q")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(big).collect()}
    assert fps[1] == fps[2]
