"""Property tests for the per-batch text kernels (Spark-free):
``operators/dedup.bloom_counts`` and ``operators/simhash.simhash_batch``
against a plain ``str.split(" ")`` + ``hashlib.md5`` reference, over
every shape Arrow can hand them — NULL and empty text, leading,
trailing and double spaces, multibyte UTF-8, sliced arrays, large
strings, and long duplicate shingles next to short ones at the end of
the data buffer."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from marex_spark.operators.dedup import bloom_counts, bloom_geometry
from marex_spark.operators.simhash import simhash_batch

_VOCAB = ["", "x", "y", "a", "the", "é❄", "ünd", "alpha" * 20, "beta" * 20]

_word = st.one_of(st.sampled_from(_VOCAB), st.text(max_size=5))
# repeating a word list makes duplicate shingles, long and short
_doc = st.one_of(
    st.none(),
    st.builds(
        lambda ws, reps: " ".join(ws * reps),
        st.lists(_word, max_size=6),
        st.integers(1, 4),
    ),
)


@st.composite
def _batches(draw):
    """(texts, arrow array): ``texts`` are the rows the kernel sees;
    the array may be a slice of a longer one, so its buffers carry
    rows before and after them."""
    texts = draw(st.lists(_doc, max_size=10))
    before = draw(st.lists(_doc, max_size=2))
    after = draw(st.lists(_doc, max_size=2))
    typ = draw(st.sampled_from([pa.string(), pa.large_string()]))
    arr = pa.array(before + texts + after, type=typ)
    return texts, arr.slice(len(before), len(texts))


def _ref_shingles(text, n):
    ws = text.split(" ")
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _ref_bloom_pos(shingle, i, m):
    hx = hashlib.md5(shingle.encode()).hexdigest()
    return (int(hx[0:15], 16) % m + i * (int(hx[16:31], 16) % m)) % m


def _ref_simhash(text, bits):
    ws = text.split(" ")
    ones = [0] * bits
    for w in ws:
        hx = hashlib.md5(w.encode()).hexdigest()
        h = (int(hx[8:16], 16) << 32) | int(hx[0:8], 16)
        for b in range(bits):
            ones[b] += (h >> b) & 1
    fp = sum(1 << b for b in range(bits) if 2 * ones[b] > len(ws))
    return fp - (1 << 64) if fp >= 1 << 63 else fp


_REPRO = [" ".join(["alpha" * 20, "beta" * 20] * 6), "x y x y"]


@settings(max_examples=150, deadline=None)
@given(_batches(), st.sampled_from([1, 2, 3, 5]), st.randoms())
@example((_REPRO, pa.array(_REPRO)), 2, random.Random(0))
def test_bloom_counts_match_reference(batch, n, rnd):
    texts, arr = batch
    shingles = [set() if t is None else _ref_shingles(t, n) for t in texts]
    # the benchmark: a random half of the batch's own shingles, so
    # flags fire
    bench = {s for s in sorted(set().union(*shingles)) if rnd.random() < 0.5}
    m, k = bloom_geometry(len(bench))
    bitset = np.zeros(m, dtype=bool)
    for s in bench:
        for i in range(k):
            bitset[_ref_bloom_pos(s, i, m)] = True
    packed = np.packbits(bitset, bitorder="little")

    cnt, hit = bloom_counts(arr, packed, m, k, n)

    def flagged(s):
        return all(bitset[_ref_bloom_pos(s, i, m)] for i in range(k))

    want = [(len(sh), sum(flagged(s) for s in sh)) for sh in shingles]
    assert list(zip(cnt.tolist(), hit.tolist())) == want


_EDGES = ["a b c", None, " lead", "trail ", "", "  ", "é❄ ünd"]


@settings(max_examples=150, deadline=None)
@given(_batches(), st.sampled_from([64, 17]))
@example((_EDGES, pa.array(_EDGES)), 64)  # "a b c" sets bit 63
def test_simhash_batch_matches_reference(batch, bits):
    texts, arr = batch
    rows, fp = simhash_batch(arr, bits)
    got = dict(zip(rows.tolist(), fp.tolist()))
    want = {i: _ref_simhash(t, bits) for i, t in enumerate(texts) if t is not None}
    assert got == want

