"""Pins for the vectorised MD5 / shingle-span kernels (md5np.py):
bit-identical to hashlib.md5 and to the Spark split/array_join/
array_distinct semantics the oracle replays."""
import hashlib

import numpy as np
import pyarrow as pa
import pytest

from marex_spark.operators.md5np import (
    dedup_spans,
    halves32,
    halves60,
    md5_words,
    shingle_spans,
    string_spans,
)


def _spans_of(strs):
    data = np.frombuffer(b"".join(strs), dtype=np.uint8)
    starts = np.zeros(len(strs), dtype=np.int64)
    lens = np.array([len(s) for s in strs], dtype=np.int64)
    if len(strs):
        starts[1:] = np.cumsum(lens)[:-1]
    return data, starts, lens


def test_md5_words_matches_hashlib_every_length_class():
    rng = np.random.default_rng(11)
    strs = [bytes(rng.integers(0, 256, size=L, dtype=np.uint8)) for L in range(200)]
    data, starts, lens = _spans_of(strs)
    w = md5_words(data, starts, lens)
    for i, s in enumerate(strs):
        assert w[i].copy().view(np.uint8).tobytes() == hashlib.md5(s).digest(), (
            i,
            len(s),
        )


def test_md5_words_overlapping_spans():
    data = np.frombuffer(b"the quick brown fox jumps over it", dtype=np.uint8)
    starts = np.array([0, 4, 4, 10], dtype=np.int64)
    lens = np.array([9, 11, 11, 5], dtype=np.int64)
    w = md5_words(data, starts, lens)
    for i in range(4):
        s = data[starts[i] : starts[i] + lens[i]].tobytes()
        assert w[i].copy().view(np.uint8).tobytes() == hashlib.md5(s).digest()


def test_halves_match_hex_substring_convention():
    rng = np.random.default_rng(3)
    strs = [bytes(rng.integers(32, 127, size=30, dtype=np.uint8)) for _ in range(256)]
    data, starts, lens = _spans_of(strs)
    w = md5_words(data, starts, lens)
    h1, h2 = halves60(w)
    lo, hi = halves32(w)
    for i, s in enumerate(strs):
        hx = hashlib.md5(s).hexdigest()
        assert h1[i] == int(hx[0:15], 16)  # SUBSTRING(h, 1, 15)
        assert h2[i] == int(hx[16:31], 16)  # SUBSTRING(h, 17, 15)
        assert lo[i] == int(hx[0:8], 16)  # SUBSTRING(h, 1, 8)
        assert hi[i] == int(hx[8:16], 16)  # SUBSTRING(h, 9, 8)


def _ref_shingles(text, n):
    """Spark semantics: split(text, ' ') keeps empties (incl.
    trailing); shingle i = array_join of n consecutive tokens with
    ' ' = verbatim substring."""
    if text is None:
        return []
    ws = text.split(" ")
    if len(ws) < n:
        return []
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


@pytest.mark.parametrize("n", [3, 5])
def test_shingle_spans_match_split_join_semantics(n):
    texts = [
        "a b c d e f g",
        "one two three four five",
        "",
        " ",
        "  ",
        "a  b c d e f",  # double space → empty token
        " leading space a b c d",
        "trailing space a b c d ",
        "short doc",
        None,
        "exactly five words here now",
        "unicodé wörds ünd ❄ mixed bytes here",
        "x " * 40,
    ]
    arr = pa.array(texts, type=pa.string())
    data, offsets, valid = string_spans(arr)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, n)
    got: dict[int, list[str]] = {i: [] for i in range(len(texts))}
    for r, s, ln in zip(row_idx, starts, lens):
        got[int(r)].append(data[s : s + ln].tobytes().decode("utf-8"))
    for i, t in enumerate(texts):
        assert got[i] == _ref_shingles(t, n), (i, t, got[i])


def test_dedup_spans_is_per_row_distinct():
    texts = [
        "a b a b a b a b",  # heavy duplication at n=3
        "c d e c d e c d e",
        "a b a b a b a b",  # same text, different row — independent
        "u v w x y z",
    ]
    arr = pa.array(texts, type=pa.string())
    data, offsets, valid = string_spans(arr)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, 3)
    w = md5_words(data, starts, lens)
    keep = dedup_spans(data, row_idx, starts, lens, w)
    got: dict[int, list[str]] = {i: [] for i in range(len(texts))}
    for k, r, s, ln in zip(keep, row_idx, starts, lens):
        if k:
            got[int(r)].append(data[s : s + ln].tobytes().decode())
    for i, t in enumerate(texts):
        ref = list(dict.fromkeys(_ref_shingles(t, 3)))
        assert sorted(got[i]) == sorted(ref), (i, got[i], ref)


def test_shingle_spans_random_fuzz_vs_reference():
    rng = np.random.default_rng(99)
    vocab = ["a", "bb", "ccc", "", "dddd", "é❄"]
    texts = []
    for _ in range(300):
        k = int(rng.integers(0, 12))
        texts.append(" ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), k)))
    texts += [None, "", " "]
    arr = pa.array(texts, type=pa.string())
    data, offsets, valid = string_spans(arr)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, 5)
    w = md5_words(data, starts, lens)
    keep = dedup_spans(data, row_idx, starts, lens, w)
    got: dict[int, list[bytes]] = {i: [] for i in range(len(texts))}
    kept: dict[int, list[bytes]] = {i: [] for i in range(len(texts))}
    for k, r, s, ln in zip(keep, row_idx, starts, lens):
        got[int(r)].append(data[s : s + ln].tobytes())
        if k:
            kept[int(r)].append(data[s : s + ln].tobytes())
    for i, t in enumerate(texts):
        ref = [x.encode() for x in _ref_shingles(t, 5)]
        assert got[i] == ref, (i, t)
        assert sorted(kept[i]) == sorted(set(ref)), (i, t)


def test_dedup_spans_short_duplicate_at_buffer_end():
    """A short duplicate shingle ending the Arrow data buffer next to
    long duplicate shingles in an earlier row: the byte verification
    must read only each span's own bytes (it once gathered the longest
    duplicate's width from every pair and indexed past the buffer)."""
    texts = [" ".join(["alpha" * 20, "beta" * 20] * 6), "x y x y"]
    arr = pa.array(texts)
    data, offsets, valid = string_spans(arr)
    row_idx, starts, lens = shingle_spans(data, offsets, valid, 2)
    w = md5_words(data, starts, lens)
    keep = dedup_spans(data, row_idx, starts, lens, w)
    for i, t in enumerate(texts):
        kept = {
            data[s : s + ln].tobytes().decode()
            for k, r, s, ln in zip(keep, row_idx, starts, lens)
            if k and r == i
        }
        assert kept == set(_ref_shingles(t, 2))
        assert int((keep & (row_idx == i)).sum()) == len(kept)


def test_dedup_spans_sort_key_collision_stays_exact():
    """dedup_spans sorts on one key of the row and 40 digest bits. Fake
    digests that share those 40 bits but differ below — interleaved so
    the sort can split a run of equal spans (A, B, A) — must not lose
    a duplicate: the full-digest sort takes over."""
    data = np.frombuffer(b"AAAA BBBB", dtype=np.uint8)
    starts = np.array([0, 5, 0, 5, 0], dtype=np.int64)
    lens = np.full(5, 4, dtype=np.int64)
    row_idx = np.zeros(5, dtype=np.int64)
    a = [7, 0x11000000, 1, 2]
    b = [7, 0x11000000, 9, 9]  # same row and top 40 bits as a
    w = np.array([a, b, a, b, a], dtype=np.uint32)
    keep = dedup_spans(data, row_idx, starts, lens, w)
    assert sorted(bytes(data[s : s + 4]) for s in starts[keep]) == [b"AAAA", b"BBBB"]
    # two rows: equal spans in different rows are both kept
    keep2 = dedup_spans(data, np.array([0, 0, 1, 1, 1]), starts, lens, w)
    assert keep2.sum() == 4
