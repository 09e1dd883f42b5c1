"""Seeded input generators for the benchmark (numpy + pyarrow only).

The engine under test never generates its own benchmark inputs: every
fixture here is a pure function of ``(seed, shape)``, written once to
parquet and reused while its manifest matches. Nothing in this module
imports ``marex_spark``.

Three input families:

- ``sst``: a coherent sea-surface-temperature grid in the engine's
  packed layout ``(time, y, vals array<float>)``. The anomaly is an
  AR(1) process in time whose innovations are Gaussian-smoothed white
  noise in space (FFT, periodic in x), advected eastwards, so extremes
  form moving, growing and merging blobs rather than white noise.
- ``cells``: archived extreme cells ``(time, y, x, extreme)`` taken by
  thresholding the same anomaly field at its 95th percentile.
- ``docs``: a ``(doc_id, source, text)`` corpus with planted exact
  duplicates, planted near duplicates (last word replaced) and planted
  contamination (training documents that copy a held-out ``src0``
  benchmark document).
"""

from __future__ import annotations

import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when any generator's output changes for a given (seed, shape)
GENERATOR_VERSION = 1
EPOCH = np.datetime64("1990-01-01", "D")
Z95 = 1.6448536269514722  # standard-normal 95th percentile
TS_TYPE = pa.timestamp("us", tz="UTC")  # tz-aware: Spark reads TimestampType
KEEP_FIXTURES = 2  # most recent fixtures kept per kind; older ones pruned


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose), stable across runs."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([int(seed), key])


# anomaly field: lag-1 autocorrelation, smoothing radius (cells) and
# eastward drift (cells/day); days generated per FFT batch
PHI, SIGMA, DRIFT, CHUNK = 0.92, 2.5, 0.35, 256


def anomaly_field(seed: int, n_days: int, ny: int, nx: int) -> np.ndarray:
    """Unit-variance anomaly ``(n_days, ny, nx)`` float32.

    Innovations are white noise low-passed by a Gaussian of ``SIGMA``
    cells; the state follows ``A_t = PHI * shift(A_{t-1}, DRIFT) +
    sqrt(1 - PHI^2) * S_t`` in Fourier space, where ``shift`` moves the
    field ``DRIFT`` cells east per day (periodic x, periodic y)."""
    rng = _rng(seed, "anomaly")
    ky = np.fft.fftfreq(ny)[:, None]
    kx = np.fft.rfftfreq(nx)[None, :]
    gain = np.exp(-2.0 * np.pi**2 * SIGMA**2 * (ky**2 + kx**2))
    full = np.exp(
        -2.0 * np.pi**2 * SIGMA**2
        * (np.fft.fftfreq(ny)[:, None] ** 2 + np.fft.fftfreq(nx)[None, :] ** 2)
    )
    # irfft2 of (white spectrum * gain) has variance mean(|gain|^2)
    gain = gain / np.sqrt(np.mean(full**2))
    step = PHI * np.exp(-2j * np.pi * kx * DRIFT)
    innov = np.sqrt(1.0 - PHI**2)
    out = np.empty((n_days, ny, nx), dtype=np.float32)
    state = None
    for t0 in range(0, n_days, CHUNK):
        n = min(CHUNK, n_days - t0)
        spec = np.fft.rfft2(rng.standard_normal((n, ny, nx))) * gain
        for i in range(n):
            state = spec[i] if state is None else state * step + innov * spec[i]
            spec[i] = state
        out[t0 : t0 + n] = np.fft.irfft2(spec, s=(ny, nx))
    return out


def day_times(n_days: int) -> pa.Array:
    days = EPOCH + np.arange(n_days).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]")).cast(TS_TYPE)


def sst_packed(seed: int, n_years: int, ny: int, nx: int) -> pa.Table:
    """Packed SST ``(time, y, vals)``, one row per (day, latitude band),
    rows ordered by (time, y)."""
    n_days = 365 * n_years
    anom = anomaly_field(seed, n_days, ny, nx)
    lat = np.linspace(-60.0, 60.0, ny)
    t = np.arange(n_days)
    base = 28.0 - 0.25 * np.abs(lat)
    season = 3.0 * np.cos(2 * np.pi * (t - 40) / 365.25)[:, None] * np.sign(lat)[None, :]
    trend = (0.02 / 365.25) * t[:, None]
    level = (base[None, :] + season + trend).astype(np.float32)
    vals = anom * np.float32(0.8) + level[:, :, None]
    flat = pa.array(vals.reshape(-1), type=pa.float32())
    return pa.table(
        {
            "time": day_times(n_days).take(pa.array(np.repeat(t, ny))),
            "y": pa.array(np.tile(np.arange(ny, dtype=np.int32), n_days)),
            "vals": pa.FixedSizeListArray.from_arrays(flat, nx).cast(pa.list_(pa.float32())),
        }
    )


def extreme_cells(seed: int, n_years: int, ny: int, nx: int) -> pa.Table:
    """``(time, y, x, extreme)`` cells where the anomaly field exceeds its
    95th percentile, ordered by (time, y, x)."""
    anom = anomaly_field(seed, 365 * n_years, ny, nx)
    tt, yy, xx = np.nonzero(anom > Z95)
    times = day_times(365 * n_years)
    return pa.table(
        {
            "time": times.take(pa.array(tt)),
            "y": pa.array(yy.astype(np.int32)),
            "x": pa.array(xx.astype(np.int32)),
            "extreme": pa.array(np.ones(len(tt), dtype=bool)),
        }
    )


# corpus: words per document, vocabulary size, and the shares of
# documents that are exact copies, near copies, src0 benchmark documents
# and contaminated training documents
WORDS, VOCAB = 32, 16384
EXACT_FRAC, NEAR_FRAC, BENCH_FRAC, CONTAM_FRAC = 0.01, 0.01, 0.002, 0.001


def documents(seed: int, n_docs: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """Corpus ``(doc_id, source, text)`` and its planted truth.

    Truth arrays hold (lower id, higher id) pairs: ``exact`` for verbatim
    copies, ``near`` for copies with the last word replaced, and
    ``contam`` for training documents that copy a ``src0`` document
    (also listed in ``exact``). Copies always copy an original, so
    planted pairs never chain."""
    rng = _rng(seed, "docs")
    tok = rng.integers(0, VOCAB, size=(n_docs, WORDS), dtype=np.int64)
    src = 1 + rng.integers(0, 4, size=n_docs)
    n_bench = max(1, int(n_docs * BENCH_FRAC))
    n_exact = max(1, int(n_docs * EXACT_FRAC))
    n_near = max(1, int(n_docs * NEAR_FRAC))
    n_contam = max(1, int(n_docs * CONTAM_FRAC))
    order = rng.permutation(n_docs)
    bench = order[:n_bench]
    cut = n_bench
    contam_dst = order[cut : cut + n_contam]
    cut += n_contam
    exact_dst = order[cut : cut + n_exact]
    cut += n_exact
    near_dst = order[cut : cut + n_near]
    cut += n_near
    originals = order[cut:]  # never overwritten: copies cannot chain
    src[bench] = 0
    exact_src = rng.choice(originals, size=n_exact, replace=False)
    near_src = rng.choice(originals, size=n_near, replace=False)
    contam_src = rng.choice(bench, size=n_contam, replace=True)
    tok[exact_dst] = tok[exact_src]
    tok[contam_dst] = tok[contam_src]
    tok[near_dst] = tok[near_src]
    # a replacement word never equals the word it replaces
    tok[near_dst, -1] = (tok[near_src, -1] + 1 + rng.integers(0, VOCAB - 1, size=n_near)) % VOCAB
    vocab_arr = pa.array([f"w{i}" for i in range(VOCAB)])
    offsets = pa.array(np.arange(0, n_docs * WORDS + 1, WORDS, dtype=np.int32))
    word_list = pa.ListArray.from_arrays(offsets, vocab_arr.take(pa.array(tok.reshape(-1))))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "source": pa.array(np.char.add("src", src.astype(str))),
            "text": pc.binary_join(word_list, " "),
        }
    )

    def pairs(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        p = np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1).astype(np.int64)
        return p[np.lexsort((p[:, 1], p[:, 0]))]

    exact = pairs(np.concatenate([exact_src, contam_src]), np.concatenate([exact_dst, contam_dst]))
    truth = {
        "exact": exact,
        "near": pairs(near_src, near_dst),
        "contam": np.sort(contam_dst).astype(np.int64),
    }
    return table, truth


# -------------------------------------------------------------- fixtures


def _write(table: pa.Table, path: Path, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files under directory ``path``
    (contiguous row ranges), so Spark scans it with parallel splits."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


def _build(kind: str, seed: int, shape: dict, out: Path) -> dict:
    if kind == "sst":
        table = sst_packed(seed, **shape)
        _write(table, out / "packed.parquet", parts=8)
        return {"rows": table.num_rows, "items": table.num_rows * shape["nx"]}
    if kind == "cells":
        table = extreme_cells(seed, **shape)
        _write(table, out / "cells.parquet", parts=8)
        return {"rows": table.num_rows, "items": table.num_rows}
    if kind == "docs":
        table, truth = documents(seed, **shape)
        _write(table, out / "documents.parquet", parts=8)
        np.savez(out / "truth.npz", **truth)
        return {"rows": table.num_rows, "items": table.num_rows}
    raise ValueError(f"unknown fixture kind {kind!r}")


def ensure_fixture(root: Path, kind: str, seed: int, shape: dict) -> tuple[Path, dict]:
    """Directory holding the ``kind`` fixture for ``(seed, shape)`` and its
    manifest. Reuses an existing directory only when its manifest names
    the same generator version, kind, seed and shape; otherwise builds
    it (into a temporary directory renamed into place, so an interrupted
    build is never reused) and prunes older fixtures of the same kind."""
    want = {"version": GENERATOR_VERSION, "kind": kind, "seed": int(seed), "shape": shape}
    tag = hashlib.sha256(json.dumps(want, sort_keys=True).encode()).hexdigest()[:12]
    final = root / f"{kind}-{seed}-{tag}"
    manifest = final / "manifest.json"
    if manifest.is_file():
        have = json.loads(manifest.read_text())
        if {k: have.get(k) for k in want} == want:
            final.touch()
            return final, have
    shutil.rmtree(final, ignore_errors=True)
    tmp = root / f".tmp-{kind}-{seed}-{tag}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    have = {**want, **_build(kind, seed, shape, tmp)}
    (tmp / "manifest.json").write_text(json.dumps(have, sort_keys=True))
    tmp.rename(final)
    olds = sorted(
        (p for p in root.glob(f"{kind}-*") if p != final),
        key=lambda p: p.stat().st_mtime,
    )
    for p in olds[: max(0, len(olds) - (KEEP_FIXTURES - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return final, have
