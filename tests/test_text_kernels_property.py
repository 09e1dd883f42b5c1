"""Property tests for the per-batch text kernels (Spark-free):
``operators/dedup.bloom_counts``, ``operators/simhash.simhash_batch``
and ``operators/lsh.minhash_bands_batch`` against a plain
``str.split(" ")`` + ``hashlib.md5`` reference, over every shape Arrow
can hand them — NULL and empty text, leading, trailing and double
spaces, multibyte UTF-8, sliced and chunked arrays, large strings,
long duplicate shingles next to short ones at the end of the data
buffer, and a monster document of over 40k words."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from marex_spark.operators.dedup import bloom_counts, bloom_geometry
from marex_spark.operators.lsh import (
    _BAND_ROWS,
    _MH_A,
    _MH_B,
    _MH_P,
    _N_HASH,
    minhash_bands_batch,
)
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


_MONSTER_WORDS = 40_000


def _monster(seed: int) -> str:
    """A document of 40k+ words over a 3k-word vocabulary, so its
    shingles repeat."""
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(3000)] + _VOCAB
    return " ".join(rnd.choice(vocab) for _ in range(_MONSTER_WORDS + rnd.randrange(100)))


@st.composite
def _batches(draw):
    """(texts, arrow array): ``texts`` are the rows the kernel sees;
    the array may be a slice of a longer one, so its buffers carry
    rows before and after them, and may be chunked. About one batch in
    ten carries a monster document."""
    texts = draw(st.lists(_doc, max_size=10))
    if draw(st.sampled_from([False] * 9 + [True])):
        texts.insert(draw(st.integers(0, len(texts))), _monster(draw(st.integers(0, 2**16))))
    before = draw(st.lists(_doc, max_size=2))
    after = draw(st.lists(_doc, max_size=2))
    typ = draw(st.sampled_from([pa.string(), pa.large_string()]))
    rows = before + texts + after
    if draw(st.booleans()):
        cuts = sorted(draw(st.lists(st.integers(0, len(rows)), max_size=3)))
        bounds = [0, *cuts, len(rows)]
        arr = pa.chunked_array(
            [pa.array(rows[a:b], type=typ) for a, b in zip(bounds, bounds[1:])], type=typ
        )
    else:
        arr = pa.array(rows, type=typ)
    return texts, arr.slice(len(before), len(texts))


_MONSTER_BATCH = ["a b c", _monster(0), None, "x y z"]
_MONSTER_EXAMPLE = (
    _MONSTER_BATCH,
    pa.chunked_array([pa.array(_MONSTER_BATCH[:2]), pa.array(_MONSTER_BATCH[2:])]),
)


def _ref_shingles(text, n):
    ws = text.split(" ")
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _ref_bloom_pos(shingle, i, m):
    hx = hashlib.md5(shingle.encode()).hexdigest()
    return (int(hx[0:15], 16) % m + i * (int(hx[16:31], 16) % m)) % m


def _ref_simhash(text, bits):
    ws = text.split(" ")
    hs = []
    for w in ws:
        hx = hashlib.md5(w.encode()).hexdigest()
        hs.append((int(hx[8:16], 16) << 32) | int(hx[0:8], 16))
    h = np.array(hs, dtype=np.uint64)
    ones = [int(((h >> np.uint64(b)) & np.uint64(1)).sum()) for b in range(bits)]
    fp = sum(1 << b for b in range(bits) if 2 * ones[b] > len(ws))
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def _ref_minhash_bands(text):
    """Band keys of one doc, or None when it has no 3-word shingle."""
    sh = _ref_shingles(text, 3)
    if not sh:
        return None
    s = [int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % _MH_P for x in sh]
    m = [min((v * _MH_A[h] + _MH_B[h]) % _MH_P for v in s) for h in range(_N_HASH)]
    return [
        hashlib.md5(",".join(map(str, m[b : b + _BAND_ROWS])).encode()).hexdigest()
        for b in range(0, _N_HASH, _BAND_ROWS)
    ]


_REPRO = [" ".join(["alpha" * 20, "beta" * 20] * 6), "x y x y"]


@settings(max_examples=150, deadline=None)
@given(_batches(), st.sampled_from([1, 2, 3, 5]), st.randoms())
@example((_REPRO, pa.array(_REPRO)), 2, random.Random(0))
@example(_MONSTER_EXAMPLE, 5, random.Random(0))
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
@example(_MONSTER_EXAMPLE, 64)
def test_simhash_batch_matches_reference(batch, bits):
    texts, arr = batch
    rows, fp = simhash_batch(arr, bits)
    got = dict(zip(rows.tolist(), fp.tolist()))
    want = {i: _ref_simhash(t, bits) for i, t in enumerate(texts) if t is not None}
    assert got == want



@settings(max_examples=150, deadline=None)
@given(_batches())
@example((_EDGES, pa.array(_EDGES)))
@example(_MONSTER_EXAMPLE)
def test_minhash_bands_match_reference(batch):
    texts, arr = batch
    rows, keys = minhash_bands_batch(arr)
    nb = _N_HASH // _BAND_ROWS
    flat = keys.to_pylist()
    got = {r: flat[i * nb : (i + 1) * nb] for i, r in enumerate(rows.tolist())}
    want = {}
    for i, t in enumerate(texts):
        if t is not None and (ref := _ref_minhash_bands(t)) is not None:
            want[i] = ref
    assert got == want
