"""Vectorised MD5 and zero-copy shingle slicing for Arrow batches.

The cross-engine hash convention every dedup/sketch query replays is
``md5(string)`` → hex → integer fields (``conv(substring(...), 16, 10)``
in Spark, ``CAST('0x' || substr(...) AS BIGINT)`` in DuckDB). The JVM
expression chain is exact but allocation-heavy on wide corpora: a
phase decomposition of the JVM decontam plan measured the 5M-doc row
at scan 0.7 s / shingle +15.0 s / md5 +0.3 s / conv +1.2 s / k-probe
+5.4 s / agg +1.8 s — the string *construction* and the per-probe
substring dominate, not md5 itself. This module
computes the same bytes with no per-row objects:

- ``shingle_spans``: n-word shingles as (start, len) spans over the
  Arrow string data buffer. A shingle joined with single spaces is a
  verbatim substring of the original text (split on ' ' + rejoin with
  ' ' is the identity on every segment), so shingling is pure offset
  arithmetic over the existing buffer — zero string copies (guide
  §4.2's offsets-over-the-same-buffer property).
- ``md5_words``: standard MD5 of N variable-length byte spans at once,
  numpy uint32 lane arithmetic, lane-chunked so every per-step
  temporary stays cache-resident under 32 concurrent tasks (the same
  residency rule as the detect kernels). Bit-identical to hashlib.md5
  for every length (pinned in tests).
- ``halves60`` / ``halves32``: the hex-substring integer fields used
  by the Bloom (60-bit) and simhash (32-bit) families, derived from
  the digest words exactly as ``conv(substring(hex, a, b), 16, 10)``.
"""
from __future__ import annotations

import numpy as np

# ---- MD5 constants (RFC 1321)
_S = np.array(
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)
_K = np.array(
    [int(abs(np.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32,
)
_G_IDX = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16)]
    + [(3 * i + 5) % 16 for i in range(16)]
    + [(7 * i) % 16 for i in range(16)]
)
_INIT = (0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476)

# Lane-chunk so the whole per-step working set (4 state vectors, ~4
# step temporaries, the 16-word message block: ~1.6 MB at 16384 lanes)
# stays cache-resident per task — the unchunked form was 8× slower,
# pure DRAM traffic on full-width temporaries.
_LANE_CHUNK = 16384
# Byte budget of one dedup_spans verification gather (per side).
_VERIFY_BYTES = 1 << 22


def _compress(
    state: np.ndarray, M: np.ndarray, bufs: tuple | None = None
) -> None:
    """One MD5 block for every lane. ``state``: (4, g) uint32, mutated
    in place; ``M``: (16, g) uint32 little-endian words of the block.
    ``bufs``: three scratch uint32 arrays of width g — every step then
    runs allocation-free via ufunc ``out=`` (+23% measured; the naive
    expression form allocates ~8 temporaries per step)."""
    A = state[0].copy()
    B = state[1].copy()
    C = state[2].copy()
    D = state[3].copy()
    if bufs is None:
        g = state.shape[1]
        bufs = (
            np.empty(g, np.uint32),
            np.empty(g, np.uint32),
            np.empty(g, np.uint32),
        )
    f, t, free = bufs
    for i in range(64):
        if i < 16:
            np.bitwise_and(B, C, out=f)
            np.bitwise_not(B, out=t)
            t &= D
            f |= t
        elif i < 32:
            np.bitwise_and(D, B, out=f)
            np.bitwise_not(D, out=t)
            t &= C
            f |= t
        elif i < 48:
            np.bitwise_xor(B, C, out=f)
            f ^= D
        else:
            np.bitwise_not(D, out=f)
            f |= B
            f ^= C
        f += A
        f += _K[i]
        f += M[_G_IDX[i]]
        s = int(_S[i])
        np.right_shift(f, np.uint32(32 - s), out=t)
        f <<= np.uint32(s)
        f |= t
        # (A,B,C,D) ← (D, B+rot(F), B, C); the old A's buffer is free —
        # new B lands there, so the whole step allocates nothing
        np.add(B, f, out=free)
        A, B, C, D, free = D, free, B, C, A
    state[0] += A
    state[1] += B
    state[2] += C
    state[3] += D


def md5_words(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """MD5 digests of N byte spans of ``data`` → (N, 4) uint32 words
    (the digest's little-endian 4-byte groups: ``w.view(uint8)`` per
    row is exactly ``hashlib.md5(span).digest()``). Spans may overlap
    arbitrarily — shingles of one document share their word bytes."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    n = len(lens)
    out = np.empty((n, 4), dtype=np.uint32)
    if n == 0:
        return out
    outT = np.empty((4, n), dtype=np.uint32)
    # group rows by padded block count: nblocks = (len + 9 + 63) // 64
    nblocks = (lens + 72) // 64
    # every span's padded message starts as the ``width`` bytes at its
    # start: one row gather from a sliding-window view over the data
    # (zero-extended so the window never reads past it), then the bytes
    # past the span are zeroed — 3× cheaper than a boolean-mask gather
    ext = np.zeros(len(data) + int(nblocks.max()) * 64, dtype=np.uint8)
    ext[: len(data)] = data
    for nb in np.unique(nblocks):
        sel_all = np.flatnonzero(nblocks == nb)
        width = int(nb) * 64
        cols = np.arange(width)
        windows = np.lib.stride_tricks.sliding_window_view(ext, width)
        for c0 in range(0, len(sel_all), _LANE_CHUNK):
            sel = sel_all[c0 : c0 + _LANE_CHUNK]
            ls = lens[sel]
            g = len(sel)
            pad = windows[starts[sel]]
            pad *= cols[None, :] < ls[:, None]
            pad[np.arange(g), ls] = 0x80
            bitlen = ls.astype("<u8") * 8
            pad[:, -8:] = bitlen.view(np.uint8).reshape(g, 8)
            state = np.tile(np.array(_INIT, dtype=np.uint32)[:, None], (1, g))
            w = pad.view("<u4").reshape(g, int(nb), 16)
            bufs = (
                np.empty(g, np.uint32),
                np.empty(g, np.uint32),
                np.empty(g, np.uint32),
            )
            for b in range(int(nb)):
                _compress(state, np.ascontiguousarray(w[:, b, :].T), bufs)
            outT[:, sel] = state
    out[:] = outT.T
    return out


def _be64(words: np.ndarray, first: int) -> np.ndarray:
    """Big-endian uint64 of digest bytes [4*first, 4*first+8) — i.e.
    hex chars [8*first, 8*first+16) of the hex digest."""
    b = words[:, first : first + 2].copy().view(np.uint8).reshape(-1, 8)
    out = np.zeros(len(words), dtype=np.uint64)
    for i in range(8):
        out = (out << np.uint64(8)) | b[:, i].astype(np.uint64)
    return out


def halves60(words: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) int64 = ``conv(substring(hex, 1, 15), 16, 10)`` and
    ``conv(substring(hex, 17, 15), 16, 10)``: hex chars 1-15 are the
    top 60 bits of bytes 0..7, chars 17-31 the top 60 of bytes 8..15."""
    h1 = (_be64(words, 0) >> np.uint64(4)).astype(np.int64)
    h2 = (_be64(words, 2) >> np.uint64(4)).astype(np.int64)
    return h1, h2


def halves32(words: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) int64 = ``conv(substring(hex, 1, 8), 16, 10)`` and
    ``conv(substring(hex, 9, 8), 16, 10)``: hex chars 1-8 = big-endian
    bytes 0..3, chars 9-16 = big-endian bytes 4..7."""
    be = _be64(words, 0)
    lo = (be >> np.uint64(32)).astype(np.int64)
    hi = (be & np.uint64(0xFFFFFFFF)).astype(np.int64)
    return lo, hi


def string_spans(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(data, offsets, valid)`` of a pyarrow String/LargeString
    array — the zero-copy view every kernel here slices: the uint8
    data buffer, the ``len(arr) + 1`` int64 offsets into it (slice
    offset applied) and the boolean validity mask."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    if bufs[0] is None:
        valid = np.ones(len(arr), dtype=bool)
    else:
        valid = np.asarray(arr.is_valid())
    return data, offsets, valid


def shingle_spans(
    data: np.ndarray, offsets: np.ndarray, valid: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All n-word shingles of every row as spans over ``data``:
    returns (row_idx, starts, lens), one entry per shingle, in
    row-major left-to-right order (= the exploded order of
    ``shingle_array`` BEFORE array_distinct). A row with t tokens
    (split on single space, empties kept, trailing empty kept) has
    max(t - n + 1, 0) shingles; null rows have none. Each shingle is
    the verbatim substring from token i's first byte to token
    i+n-1's last byte."""
    nrows = len(offsets) - 1
    sp = np.flatnonzero(data[offsets[0] : offsets[-1]] == 0x20) + offsets[0]
    # token starts: every row start + every space+1, merged in
    # row-major token order. A trailing-empty token's start (space+1)
    # can EQUAL the next row's start — the earlier row's token must
    # sort first, so key = 2·pos + (1 if row start else 0).
    tstarts = np.sort(
        np.concatenate([offsets[:-1] * 2 + 1, (sp + 1) * 2])
    ) // 2
    # token ends: every space + every row end; a row end can equal the
    # NEXT row's first space (text starting with ' ') — the row end
    # sorts first: key = 2·pos + (1 if space else 0).
    tends = np.sort(np.concatenate([sp * 2 + 1, offsets[1:] * 2])) // 2
    # spaces per row → tokens per row
    row_of_sp = np.searchsorted(offsets, sp, side="right") - 1
    nsp = np.bincount(row_of_sp, minlength=nrows)
    ntok = nsp + 1
    tok_base = np.concatenate([[0], np.cumsum(ntok)])[:-1]
    nsh = np.where(valid, np.maximum(ntok - n + 1, 0), 0)
    total = int(nsh.sum())
    if total == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e
    row_idx = np.repeat(np.arange(nrows), nsh)
    # within-row shingle index 0..nsh_r-1
    first = np.concatenate([[0], np.cumsum(nsh)])[:-1]
    j = np.arange(total) - np.repeat(first, nsh)
    tok0 = np.repeat(tok_base, nsh) + j
    starts = tstarts[tok0]
    ends = tends[tok0 + n - 1]
    return row_idx, starts, ends - starts


def _key_order(row_idx: np.ndarray, words: np.ndarray) -> np.ndarray | None:
    """An order that puts equal (row, digest) spans next to each other,
    from ONE uint64 sort key: the row in the top 24 bits, 40 digest
    bits below (2.5× cheaper than the 5-key lexsort). If two adjacent
    spans share the key but not the whole digest, a 40-bit collision
    may have split a run of equal spans, so it returns None and the
    caller sorts on every word instead; so does a row index ≥ 2^24."""
    if int(row_idx.max()) >= 1 << 24:
        return None
    key = (row_idx.astype(np.uint64) << np.uint64(40)) | (
        words[:, 0].astype(np.uint64) << np.uint64(8)
    ) | (words[:, 1] >> np.uint32(24)).astype(np.uint64)
    order = np.argsort(key)
    sk = key[order]
    so_w = words[order]
    split = (sk[1:] == sk[:-1]) & np.any(so_w[1:] != so_w[:-1], axis=1)
    return None if split.any() else order


def dedup_spans(
    data: np.ndarray,
    row_idx: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    words: np.ndarray,
) -> np.ndarray:
    """Boolean keep-mask implementing per-row ``array_distinct`` over
    span values: for each row, keep one representative per distinct
    BYTE STRING. Grouping is by the full 128-bit digest (sorted per
    row), with byte-exact verification of every adjacent hash-equal
    pair; a verified-unequal pair (an md5 collision inside one row)
    falls back to an exact per-row scan for that row, so the result
    is exact regardless."""
    m = len(row_idx)
    if m == 0:
        return np.zeros(0, dtype=bool)
    order = _key_order(row_idx, words)
    if order is None:
        order = np.lexsort(
            (words[:, 3], words[:, 2], words[:, 1], words[:, 0], row_idx)
        )
    so_row = row_idx[order]
    so_w = words[order]
    same = np.zeros(m, dtype=bool)
    same[1:] = (so_row[1:] == so_row[:-1]) & np.all(
        so_w[1:] == so_w[:-1], axis=1
    )
    dup_pos = np.flatnonzero(same)
    if len(dup_pos):
        # byte-verify each adjacent hash-equal pair (these are real
        # duplicate shingles in practice; the check keeps it exact)
        a = order[dup_pos - 1]
        b = order[dup_pos]
        bytes_eq = lens[a] == lens[b]
        # verify per length class: every gather reads exactly the
        # span's own bytes (never past the data buffer's end) and the
        # temporary is bounded by _VERIFY_BYTES, not by pairs × the
        # longest duplicate in the batch
        eq_idx = np.flatnonzero(bytes_eq)
        L = lens[b[eq_idx]]
        for ln in np.unique(L):
            cls = eq_idx[L == ln]
            cols = np.arange(int(ln))
            step = max(1, _VERIFY_BYTES // max(int(ln), 1))
            for c0 in range(0, len(cls), step):
                sel = cls[c0 : c0 + step]
                av = data[starts[a[sel]][:, None] + cols[None, :]]
                bv = data[starts[b[sel]][:, None] + cols[None, :]]
                bytes_eq[sel] = np.all(av == bv, axis=1)
        if not bytes_eq.all():  # pragma: no cover - md5 collision
            return _dedup_exact_fallback(data, row_idx, starts, lens)
        same[dup_pos] = bytes_eq
    keep = np.ones(m, dtype=bool)
    keep[order[same]] = False
    return keep


def _dedup_exact_fallback(
    data, row_idx, starts, lens
):  # pragma: no cover - md5 collision within one row
    keep = np.ones(len(row_idx), dtype=bool)
    seen: dict[tuple, int] = {}
    for i in range(len(row_idx)):
        key = (int(row_idx[i]), bytes(data[starts[i] : starts[i] + lens[i]]))
        if key in seen:
            keep[i] = False
        else:
            seen[key] = i
    return keep
