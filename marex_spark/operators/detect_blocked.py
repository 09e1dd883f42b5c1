"""Blocked (dense-array) detect fast path.

The relational detect (operators/detect.py) is the semantic reference —
every stage oracle-checked, fully declarative. For dense regular grids
its long-format rows pay per-row engine overhead that the reference's
per-chunk numpy kernels (detect.py:2365-2373, 2887-2915 vectorised over
dask chunks) never see. This module is the same chunk model expressed
Spark-natively: hash-partition by latitude band (one shuffle — the same
layout the relational path uses), then run the entire
climatology→anomaly→threshold→compare chain as ONE vectorised numpy
kernel per band inside ``applyInPandas``. Arrow moves each band's
(time × nx) block in a single batch; output is only the sparse extreme
cells, which is exactly what tracking consumes.

Semantics match ``preprocess_data`` across all four anomaly methods
(fixed_baseline, shifting_baseline, detrend_harmonic,
detrend_fixed_baseline) × both threshold families (global, hobday),
each in exact and count-interpolated-histogram form — asserted
cell-for-cell against the relational operators in
tests/test_detect_blocked.py, dense and gappy.

Scale: a 0.25° global decade is 720 bands × (3650 × 1440) floats
≈ 21 MB per band — hundreds of independent 20 MB kernels across the
cluster, the same arithmetic the reference runs per dask chunk.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.operators.timeblocks import (
    time_from_int64,
    time_to_int64,
    time_unit,
)


def _band_shuffle(df: DataFrame, key: str, parallelism: int) -> DataFrame:
    """The ONE exchange of the blocked detect path: place every row of a
    band ``key`` in a single task, balanced across the cluster.

    Hash-partitions into ``f × parallelism`` partitions, with the
    over-partitioning factor ``f = clamp(est_bytes / 512 MiB, 1, 8)``
    derived from the optimizer's size estimate of the child. Rationale
    (measured same-box r9, interleaved reps, min): murmur3 over a
    handful of consecutive band ints is clumpy at ``parallelism``
    partitions (40 bands → max 4/partition at 32; 240 → ~12), a
    straggler that sets the stage makespan when per-band kernel cost is
    large — on the 4.8 GB band_100x input 8× over-partitioning cut the
    row from 23.7 s to 12.5 s by dropping max load to 1-2 bands and
    letting the scheduler bin-pack the surplus tasks. But each surplus
    task also costs an Arrow stream setup (~10-20 ms), a flat ~2 s at
    256 partitions that DOMINATES small inputs (37 MB shifting-hobday
    row: 3.2 s at 8× vs 1.2 s at 1×). Deriving f from input size picks
    the right factor at both ends (guide §2: derive partition counts
    from input size, not a constant). ``repartitionByRange`` is not an
    option: its boundary sampling executes the child twice, 70 s on a
    multi-GB packed scan.

    ``MAREX_BAND_SHUFFLE_FACTOR=<1..8>`` pins the factor directly
    (deployment knob; also skips the size-estimate read).
    """
    # explicit factor override first (documented scale knob): skips the
    # size-estimate read entirely, so deployments pinned by it are
    # immune to private-API drift AND skip its extra analysis pass
    fenv = os.environ.get("MAREX_BAND_SHUFFLE_FACTOR")
    if fenv:
        return df.repartition(max(1, min(8, int(fenv))) * parallelism, key)
    factor = _band_factor(_plan_size_estimate(df))
    return df.repartition(factor * parallelism, key)


def _plan_size_estimate(df) -> int:
    """Optimizer size estimate of ``df``'s plan in bytes. No public
    PySpark API exposes plan statistics, so this reads the JVM handle
    directly; ANY failure (private-API drift across Spark versions, a
    detached plan) falls back to a mid-scale default (2 GiB → factor 4)
    rather than raising — pinned in tests/test_detect_blocked.py."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable — the safe middle
        return 2 << 30


def _band_factor(est_bytes: int) -> int:
    """Over-partitioning factor from the input size estimate:
    clamp(est_bytes / 512 MiB, 1, 8) — the r9-measured best arm at both
    the 4.8 GB and ≤138 MB ends (see :func:`_band_shuffle`)."""
    return max(1, min(8, est_bytes >> 29))


def _time_parts(
    ut: np.ndarray, unit: str, is_date: bool, tz: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doy0, year, epoch_day) per unique time ``ut`` (int64 in the
    unit of :func:`timeblocks.time_unit`), matching the relational
    path's F.dayofyear / F.year / functions.temporal.epoch_day:
    timestamps are UTC instants interpreted in the SESSION timezone
    (Spark extracts date parts in spark.sql.session.timeZone — raw
    epoch math would shift samples near midnight into the wrong day for
    non-UTC sessions); dates are timezone-free. doy0 is 0-based."""
    idx = pd.DatetimeIndex(
        ut.astype(f"datetime64[{unit}]").astype("datetime64[us]")
    )
    if not is_date and tz and tz.upper() != "UTC":
        idx = idx.tz_localize("UTC").tz_convert(tz).tz_localize(None)
    doy0 = idx.dayofyear.to_numpy() - 1
    years = idx.year.to_numpy().astype(np.int64)
    days = idx.to_numpy().astype("datetime64[D]").astype(np.int64)
    return doy0, years, days


_N_DOY = 366  # circular doy modulus, fixed like the relational mod-366
# uint16 head-room for the spatial-hobday count tensors (65535 minus
# slack); tests pin that the int32 fallback path is value-identical by
# forcing this to 0
_U16_BUDGET = 65000
# widest x-chunk of the hobday threshold sweeps (values are chunk-width
# invariant: per-column integer counts with an exact ±s halo); the cap
# keeps the (366 × chunk+2s × bins) count tensors cache-sized. The old
# 256 bounded FOOTPRINT only — under 32 concurrent band tasks each
# chunk's ~180 MB of count tensors became pure DRAM traffic and the
# kernel wave's makespan swung 3-22 s with ambient pressure; at 32 the
# tensors stay near-cache-sized and the same wave holds ~0.9-1.9 s flat
# (tools/ab_spatial_chunk_mp.py, checksums identical across widths).
# The 32 default assumes ~32 concurrent single-thread tasks sharing one
# L3 (the measured host profile); hosts with fewer task slots or larger
# caches can widen it via MAREX_THR_CHUNK_MAX (values are chunk-width
# invariant — tests pin this — so any width is safe).
_THR_CHUNK_MAX = int(os.environ.get("MAREX_THR_CHUNK_MAX", "32"))


def _anomaly_fixed(
    m: np.ndarray,
    valid: np.ndarray,
    doy0: np.ndarray,
    ref_mask: np.ndarray | None = None,
) -> np.ndarray:
    """Fixed-baseline anomaly (detect.py:2365-2373): value − doy
    group-mean climatology of the available samples. NaN at the gaps.
    ``ref_mask`` (per-timestep boolean) restricts which rows feed the
    climatology — the reference_period knob (detect.py:358-362) — while
    every row is still scored."""
    T, NX = m.shape
    n_doy = int(doy0.max()) + 1
    contributes = valid if ref_mask is None else valid & ref_mask[:, None]
    sums = np.zeros((n_doy, NX))
    counts = np.zeros((n_doy, NX))
    np.add.at(sums, doy0, np.where(contributes, m, 0.0))
    np.add.at(counts, doy0, contributes.astype(np.float64))
    with np.errstate(invalid="ignore"):
        clim = np.where(counts > 0, sums / np.maximum(counts, 1.0), np.nan)
    return m - clim[doy0]


def _anomaly_shifting(
    m: np.ndarray,
    valid: np.ndarray,
    doy0: np.ndarray,
    years: np.ndarray,
    days: np.ndarray,
    window_year_baseline: int,
    smooth_days: int,
) -> np.ndarray:
    """Shifting-baseline anomaly, the dense mirror of
    climatology.anomaly_shifting_baseline (reference detect.py:1617-1669,
    1839-1844): 21-day centred rolling mean on the calendar-day axis,
    per-(cell, doy) mean of the smoothed series over the previous N
    years, anomaly = raw − clim, with the first N years (per cell,
    from that cell's first valid year) dropped to NaN."""
    T, NX = m.shape
    half = smooth_days // 2
    W = window_year_baseline

    # --- rolling smoother over a dense day grid (rangeBetween(-h, h)
    # on epoch_day: calendar gaps shrink the window, never shift it)
    d0 = int(days.min())
    span = int(days.max()) - d0 + 1
    di = (days - d0).astype(np.int64)
    day_sum = np.zeros((span, NX))
    day_cnt = np.zeros((span, NX))
    np.add.at(day_sum, di, np.where(valid, m, 0.0))
    np.add.at(day_cnt, di, valid.astype(np.float64))
    cs = np.vstack([np.zeros((1, NX)), np.cumsum(day_sum, axis=0)])
    cc = np.vstack([np.zeros((1, NX)), np.cumsum(day_cnt, axis=0)])
    lo = np.maximum(np.arange(span) - half, 0)
    hi = np.minimum(np.arange(span) + half + 1, span)
    with np.errstate(invalid="ignore", divide="ignore"):
        sm_day = (cs[hi] - cs[lo]) / (cc[hi] - cc[lo])  # NaN where no samples
    sm = sm_day[di]  # per-row smoothed value (finite wherever row valid)

    # --- per-(target_year, doy, cell) mean of sm over years [y-W, y-1]
    yr0 = int(years.min())
    n_years = int(years.max()) - yr0 + 1
    yi = (years - yr0).astype(np.int64)
    g_sum = np.zeros((n_years, _N_DOY, NX))
    g_cnt = np.zeros((n_years, _N_DOY, NX))
    np.add.at(g_sum, (yi, doy0), np.where(valid, sm, 0.0))
    np.add.at(g_cnt, (yi, doy0), valid.astype(np.float64))
    pc_sum = np.concatenate(
        [np.zeros((1, _N_DOY, NX)), np.cumsum(g_sum, axis=0)], axis=0
    )
    pc_cnt = np.concatenate(
        [np.zeros((1, _N_DOY, NX)), np.cumsum(g_cnt, axis=0)], axis=0
    )
    ylo = np.maximum(np.arange(n_years) - W, 0)
    yhi = np.arange(n_years)  # pc_sum[y] sums year indices [0, y-1]
    win_sum = pc_sum[yhi] - pc_sum[ylo]  # years [y-W, y-1]
    win_cnt = pc_cnt[yhi] - pc_cnt[ylo]
    with np.errstate(invalid="ignore", divide="ignore"):
        clim_y = win_sum / win_cnt  # (n_years, 366, NX); NaN where empty

    anom = m - clim_y[yi, doy0]

    # --- drop the first W years per cell (cell's own first valid year)
    ybig = np.where(valid, years[:, None], np.iinfo(np.int64).max)
    y0 = ybig.min(axis=0)  # (NX,) — int64 max where the column is empty
    with np.errstate(over="ignore"):
        anom[years[:, None] < y0[None, :] + W] = np.nan
    return anom


def _decimal_year(doy0: np.ndarray, years: np.ndarray) -> np.ndarray:
    """functions.temporal.decimal_year: year + (doy-1)/days_in_year."""
    leap = ((years % 4 == 0) & ((years % 100 != 0) | (years % 400 == 0)))
    return years + doy0 / np.where(leap, 366.0, 365.0)


def _anomaly_detrend(
    m: np.ndarray,
    valid: np.ndarray,
    doy0: np.ndarray,
    years: np.ndarray,
    n_harmonics: int,
    detrend_orders: tuple[int, ...] = (1,),
    force_zero_mean: bool = False,
) -> np.ndarray:
    """Harmonic + linear detrend, the dense mirror of
    climatology.anomaly_detrend_harmonic (reference detect.py:2143-2220):
    least-squares fit of [1, t−t̄, sin/cos(2πht)] per cell via the
    design-matrix pseudo-inverse, fitted value removed per sample.
    Missing samples contribute zero to the normal equations — exactly
    the relational path's skipped rows. NOTE: the time axis (and hence
    the pinv) is band-local; it equals the relational path's global
    time list whenever every timestep has at least one valid cell in
    the band (always true for dense grids)."""
    t = _decimal_year(doy0, years)
    cols = [np.ones_like(t)]
    for order in detrend_orders:
        cols.append((t - t.mean()) ** order)
    for h in range(1, n_harmonics + 1):
        cols.append(np.sin(2 * np.pi * h * t))
        cols.append(np.cos(2 * np.pi * h * t))
    X = np.stack(cols, axis=1)  # (T, k)
    pinv = np.linalg.pinv(X)  # (k, T)
    coef = pinv @ np.where(valid, m, 0.0)  # (k, NX)
    anom = m - X @ coef
    if force_zero_mean:
        with np.errstate(invalid="ignore"):
            cnt = valid.sum(axis=0)
            mean = np.where(
                cnt > 0, np.nansum(np.where(valid, anom, 0.0), axis=0), 0.0
            ) / np.maximum(cnt, 1)
        anom = anom - mean[None, :]
    return anom


def _thr_global(
    anom: np.ndarray, q: float, exact: bool, precision: float, max_anomaly: float
) -> np.ndarray:
    """Per-cell global threshold over all times: exact quantile
    (detect.py:2887-2899) or histogram count interpolation clamped at
    the negative bin (detect.py:2737-2865, 2708-2732)."""
    T, NX = anom.shape
    valid = ~np.isnan(anom)
    if exact:
        if valid.all():
            return np.percentile(anom, q * 100.0, axis=0)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            return np.nanpercentile(anom, q * 100.0, axis=0)
    n_pos = int(round(max_anomaly / precision))
    safe = np.where(valid, anom, 0.0)
    bins = np.clip(1 + np.floor(safe / precision).astype(np.int64), 1, n_pos + 1)
    bins[safe < 0] = 0
    flat = (bins * NX + np.arange(NX)[None, :])[valid]
    hist = np.bincount(flat.ravel(), minlength=(n_pos + 2) * NX).reshape(
        n_pos + 2, NX
    )
    cdf = hist.cumsum(axis=0)
    target = q * valid.sum(axis=0)  # per-column valid count
    sel = (cdf >= target[None, :]).argmax(axis=0)
    c = hist[sel, np.arange(NX)]
    prev = cdf[sel, np.arange(NX)] - c
    frac = np.clip((target - prev) / np.maximum(c, 1), 0.0, 1.0)
    thr = (sel - 1) * precision + precision * frac
    thr[sel == 0] = 0.0
    # all-NaN columns (gappy cells, trailing block filler) have no
    # threshold — NaN, matching the exact path and _thr_hobday's
    # t[n==0] rule, so downstream ~isnan filters drop them
    thr[valid.sum(axis=0) == 0] = np.nan
    return thr


def _thr_hobday(
    anom: np.ndarray,
    doy0: np.ndarray,
    q: float,
    exact: bool,
    window_days: int,
    precision: float,
    max_anomaly: float,
) -> np.ndarray:
    """Per-(doy, cell) threshold pooled over the ±window_days//2
    circular doy window — the dense mirror of
    threshold.hobday_threshold_exact / _hist (reference
    detect.py:1921-1956 exact, 2562-2734 histogram). Returns a
    (366 × NX) table indexed by 0-based doy; NaN where no samples."""
    T, NX = anom.shape
    half = window_days // 2

    if exact:
        order = np.argsort(doy0, kind="stable")
        sorted_doy = doy0[order]
        bounds = np.searchsorted(sorted_doy, np.arange(_N_DOY + 1))
        thr = np.full((_N_DOY, NX), np.nan)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            for d in range(_N_DOY):
                idxs = np.concatenate(
                    [
                        order[bounds[(d + off) % _N_DOY] : bounds[(d + off) % _N_DOY + 1]]
                        for off in range(-half, half + 1)
                    ]
                )
                if len(idxs):
                    thr[d] = np.nanpercentile(anom[idxs], q * 100.0, axis=0)
        return thr

    n_pos = int(round(max_anomaly / precision))
    nb = n_pos + 2
    valid = ~np.isnan(anom)
    safe = np.where(valid, anom, 0.0)
    bins = np.clip(1 + np.floor(safe / precision).astype(np.int64), 1, n_pos + 1)
    bins[safe < 0] = 0
    thr = np.full((_N_DOY, NX), np.nan)
    # BIN-LAST layout, same two levers as _thr_hobday_spatial: the CDF
    # cumsum and the crossing scan run over the contiguous bin axis,
    # and counts drop to uint16 when the exact worst-case intermediate
    # (the padded-doy cumsum: ≤ T + 2·half·max-samples-per-doy at any
    # (x, bin) cell) provably fits — these tensors are pure memory
    # bandwidth, so halving the bytes ≈ halves the threshold cost.
    # x-chunked so the (366 × x × bins) histogram stays cache-sized
    # (~12 MB per _THR_CHUNK_MAX=32-column chunk at precision 0.01 in
    # uint16 — see the cap's definition comment) however wide the band
    # is at real scale.
    nmax_doy = int(np.bincount(doy0, minlength=1).max()) if T else 0
    bound_doy = T + 2 * half * nmax_doy
    dtype = np.uint16 if 0 < bound_doy < _U16_BUDGET else np.int32
    chunk = _THR_CHUNK_MAX
    for x0 in range(0, NX, chunk):
        x1 = min(x0 + chunk, NX)
        xc = x1 - x0
        sel_cols = slice(x0, x1)
        flat = (
            doy0[:, None] * (xc * nb)
            + np.arange(xc)[None, :] * nb
            + bins[:, sel_cols]
        )[valid[:, sel_cols]]
        # unbuffered scatter-add straight into the count dtype: the
        # samples are sparse relative to the tensor, so bincount's
        # int64 zero-init + downcast copy costs more than the adds
        h = np.zeros(_N_DOY * xc * nb, dtype=dtype)
        np.add.at(h, flat.ravel(), 1)
        h = h.reshape(_N_DOY, xc, nb)
        # circular ±half pooling via one cumsum pass (an 11-term roll
        # loop re-touches the whole histogram per offset — ~5× the
        # memory traffic; this was the shifting+hobday kernel's
        # dominant cost at bench scale)
        hp = np.concatenate([h[_N_DOY - half :], h, h[:half]], axis=0)
        np.cumsum(hp, axis=0, out=hp)
        pooled = hp[2 * half :].copy()
        pooled[1:] -= hp[: _N_DOY - 1]
        # explicit dtype: numpy's cumsum otherwise promotes uint16 to
        # uint64 (4× the bytes of the kernel's hottest pass); the CDF
        # maximum is the window total ≤ bound_doy, so the count dtype
        # provably holds it
        cdf = np.cumsum(pooled, axis=2, dtype=dtype)  # contiguous bin axis
        n = cdf[:, :, -1].astype(np.int64)
        target = q * n
        # integer compare: for integer cdf, (cdf >= t) ⇔ (cdf >= ⌈t⌉)
        # for any float t — skips upcasting the whole tensor to float64
        # (⌈t⌉ ≤ n, so it fits the count dtype and the compare stays
        # in-width)
        tgt_i = np.ceil(target).astype(np.int64)
        sel = (cdf >= tgt_i.astype(dtype)[:, :, None]).argmax(axis=2)
        selc = sel[:, :, None]
        c = np.take_along_axis(pooled, selc, 2)[:, :, 0].astype(np.int64)
        prev = np.take_along_axis(cdf, selc, 2)[:, :, 0].astype(np.int64) - c
        with np.errstate(invalid="ignore", divide="ignore"):
            frac = np.clip((target - prev) / np.maximum(c, 1), 0.0, 1.0)
        t = (sel - 1) * precision + precision * frac
        t[sel == 0] = 0.0
        t[n == 0] = np.nan
        thr[:, sel_cols] = t
    return thr


def _thr_hobday_spatial(
    anoms: dict[int, np.ndarray],
    band: int,
    doy0: np.ndarray,
    q: float,
    window_days: int,
    spatial_window: int,
    precision: float,
    max_anomaly: float,
    nx: int,
) -> np.ndarray:
    """Hobday histogram threshold with 2-D spatial pooling (W4;
    reference detect.py:2562-2734 with the lon-wrap pad 2652-2668):
    per contributing latitude y' in the halo, build the per-(doy, bin,
    x) histogram, pool circularly over the ±doy window, sum over the
    y halo (poleward clamp = the halo simply lacks off-grid rows) and
    the ±dx window (x wraps), then count-interpolate. x-chunked WITH
    x-halo so memory stays bounded at any nx."""
    half = window_days // 2
    s = spatial_window // 2
    n_pos = int(round(max_anomaly / precision))
    nb = n_pos + 2
    thr = np.full((_N_DOY, nx), np.nan)
    halo = [a for y_val, a in anoms.items() if abs(y_val - band) <= s]
    if not halo:
        return thr
    # The (doy × col × bin) tensors are pure memory-bandwidth: every
    # pooling pass touches ~60 MB at precision 0.01. Two levers (5.5×
    # measured at bench dims, outputs bit-identical): BIN-LAST layout
    # so the CDF cumsum and the crossing scan run over the contiguous
    # axis, and uint16 counts when the exact worst-case intermediate
    # (padded-doy cumsum / x-window cumsum over a whole chunk) provably
    # fits — the x-chunk width shrinks to keep it fitting, falling back
    # to int32 + 256-wide chunks only for extreme year counts.
    nmax_doy = int(np.bincount(doy0, minlength=1).max())
    bound_doy = (len(halo) * len(doy0) * 11) // 10  # padded-doy cumsum
    per_col = (2 * half + 1) * len(halo) * nmax_doy  # pooled, one column
    chunk = _THR_CHUNK_MAX
    dtype = np.int32
    if bound_doy < _U16_BUDGET and per_col > 0:
        fit = _U16_BUDGET // per_col - 2 * s  # widest chunk the x-cumsum fits
        if fit >= 32:
            chunk = min(_THR_CHUNK_MAX, fit)
            dtype = np.uint16
    for x0 in range(0, nx, chunk):
        x1 = min(x0 + chunk, nx)
        xc = x1 - x0
        # halo column index set: absolute x of [x0-s, x1+s) with wrap
        cols = (np.arange(x0 - s, x1 + s) % nx).astype(np.int64)
        ncol = len(cols)
        # y pooling FIRST (all three poolings are linear and commute):
        # the flat (doy, col, bin) indices of every contributing halo
        # row feed ONE bincount
        flats = []
        for anom in halo:
            sub = anom[:, cols]  # (T × ncol); duplicated cols OK (nx < ncol)
            valid = ~np.isnan(sub)
            safe = np.where(valid, sub, 0.0)
            bins = np.clip(
                1 + np.floor(safe / precision).astype(np.int64), 1, n_pos + 1
            )
            bins[safe < 0] = 0
            flats.append(
                (
                    doy0[:, None] * (nb * ncol)
                    + np.arange(ncol)[None, :] * nb
                    + bins
                )[valid]
            )
        # unbuffered scatter-add straight into the count dtype (see
        # _thr_hobday: beats bincount's int64 zero-init + downcast)
        h = np.zeros(_N_DOY * ncol * nb, dtype=dtype)
        np.add.at(h, np.concatenate(flats), 1)
        h = h.reshape(_N_DOY, ncol, nb)
        # circular doy pooling via one padded cumsum (see _thr_hobday)
        hp = np.concatenate([h[_N_DOY - half :], h, h[:half]], axis=0)
        np.cumsum(hp, axis=0, out=hp)
        pooled = hp[2 * half :].copy()
        pooled[1:] -= hp[: _N_DOY - 1]
        # spatial x pooling: for own column j (position s..s+xc-1 in the
        # halo), sum halo positions j-s..j+s — sliding window over axis 1.
        # Explicit dtype: cumsum otherwise promotes uint16 to uint64
        # (4× the bytes); the chunk width was chosen so the x-cumsum
        # provably fits the count dtype, and the bin CDF max (one
        # pooled window ≤ per_col·(2s+1)) is below the same bound.
        cs = pooled.cumsum(axis=1, dtype=dtype)
        own = cs[:, 2 * s :, :].copy()
        own[:, 1:, :] -= cs[:, : ncol - 2 * s - 1, :]
        cdf = np.cumsum(own, axis=2, dtype=dtype)  # contiguous bin axis
        n = cdf[:, :, -1].astype(np.int64)
        target = q * n
        tgt_i = np.ceil(target).astype(np.int64)  # exact integer form
        # first crossing on a nondecreasing CDF: count of (cdf < tgt)
        # == index of the first bin with cdf >= tgt (contiguous scan;
        # ⌈t⌉ ≤ n fits the count dtype, so the compare stays in-width)
        sel = nb - np.count_nonzero(cdf >= tgt_i.astype(dtype)[:, :, None], axis=2)
        selc = np.minimum(sel[:, :, None], nb - 1)
        at = np.take_along_axis(cdf, selc, 2)[:, :, 0].astype(np.int64)
        prev = np.where(
            sel > 0,
            np.take_along_axis(cdf, np.maximum(selc - 1, 0), 2)[:, :, 0].astype(
                np.int64
            ),
            0,
        )
        c = at - prev
        with np.errstate(invalid="ignore", divide="ignore"):
            frac = np.clip((target - prev) / np.maximum(c, 1), 0.0, 1.0)
        t = (sel - 1) * precision + precision * frac
        t[sel == 0] = 0.0
        t[n == 0] = np.nan
        thr[:, x0:x1] = t
    return thr


def _anomaly_of(
    m: np.ndarray,
    doy0: np.ndarray,
    years: np.ndarray,
    days: np.ndarray,
    p: dict,
) -> np.ndarray:
    """Anomaly-method dispatch for one band matrix (shared by the
    per-band pipeline and the spatial-halo variant, which needs raw
    anomalies for every halo latitude)."""
    valid = ~np.isnan(m)
    if p["method_anomaly"] == "shifting_baseline":
        return _anomaly_shifting(
            m, valid, doy0, years, days, p["window_year_baseline"], p["smooth_days"]
        )
    if p["method_anomaly"] == "detrend_harmonic":
        return _anomaly_detrend(
            m, valid, doy0, years, p["n_harmonics"],
            p["detrend_orders"], p["force_zero_mean"],
        )
    rp = p.get("reference_period")
    ref_mask = None
    if rp is not None:
        ref_mask = (years >= rp[0]) & (years <= rp[1])
    if p["method_anomaly"] == "detrend_fixed_baseline":
        # detect.py:2443-2460: remove the linear trend (no harmonics),
        # then subtract the doy climatology of the detrended series;
        # the trend fit always uses the full series (detect.py:2411-2413)
        det = _anomaly_detrend(m, valid, doy0, years, 0)
        return _anomaly_fixed(det, valid, doy0, ref_mask)
    return _anomaly_fixed(m, valid, doy0, ref_mask)


# Per-array cache budget for the x-chunked band sweep: every stage of
# the band kernel (anomaly fit, histogram threshold, crossing test) is
# column-separable, so sweeping the band in x-chunks is BIT-identical
# (pinned in tests) while the working set per chunk — m, safe, bins,
# flat, anom are each T×chunk — stays cache-resident instead of
# round-tripping DRAM per temporary. Measured on the 30y×480 band_100x
# band (single thread, min of 3): detrend+global 0.26 → 0.17 s,
# fixed+hobday 1.77 → 1.46 s, and the chunked form is far less
# sensitive to ambient bandwidth pressure (full-band spikes of 2× under
# load disappear). 4 MiB/array ⇒ ~48 columns at T≈11k daily steps;
# small bands (T·NX under the budget) take the loop once, unchanged.
_BAND_CHUNK_BUDGET = 4 << 20


def _band_extremes(
    m: np.ndarray,
    doy0: np.ndarray,
    years: np.ndarray,
    days: np.ndarray,
    p: dict,
) -> tuple[np.ndarray, np.ndarray]:
    """One latitude band end-to-end: (T × NX) values → (boolean
    extremes, per-cell global thresholds or (366 × NX) hobday table).
    Method dispatch mirrors operators.detect.preprocess_data
    (reference detect.py:1079-1203). Sweeps the band in column chunks
    (see _BAND_CHUNK_BUDGET) — values bit-identical to one full-band
    pass."""
    T, NX = m.shape
    chunk = max(8, _BAND_CHUNK_BUDGET // (8 * max(1, T)))
    if NX > chunk:
        ext = np.zeros((T, NX), dtype=bool)
        thr_parts = []
        for c0 in range(0, NX, chunk):
            c1 = min(c0 + chunk, NX)
            # per-chunk float64 promotion (float32→float64 is exact, so
            # a float32 caller — the packed path keeps the scan dtype —
            # computes bit-identically while the full-width band never
            # materialises at 8 bytes/value)
            e, t = _band_extremes_chunk(
                np.ascontiguousarray(m[:, c0:c1], dtype=np.float64),
                doy0, years, days, p,
            )
            ext[:, c0:c1] = e
            thr_parts.append(t)
        return ext, np.concatenate(thr_parts, axis=-1)
    return _band_extremes_chunk(
        np.ascontiguousarray(m, dtype=np.float64), doy0, years, days, p
    )


def _band_extremes_chunk(
    m: np.ndarray,
    doy0: np.ndarray,
    years: np.ndarray,
    days: np.ndarray,
    p: dict,
) -> tuple[np.ndarray, np.ndarray]:
    anom = _anomaly_of(m, doy0, years, days, p)

    # NOTE: the hobday SPATIAL pooling variant (threshold.py
    # spatial_window, W4) stays relational-only by design — a 5×5 pool
    # crosses latitude-band boundaries, which would break the kernel's
    # band independence (it would need a halo exchange); the relational
    # fan-out form already scales there.
    exact = p["method_percentile"] == "exact"
    if p["method_extreme"] == "hobday_extreme":
        thr = _thr_hobday(
            anom, doy0, p["q"], exact, p["window_days_hobday"],
            p["precision"], p["max_anomaly"],
        )
        thr_rows = thr[doy0]
    else:
        thr = _thr_global(anom, p["q"], exact, p["precision"], p["max_anomaly"])
        thr_rows = thr[None, :]
    with np.errstate(invalid="ignore"):
        ext = np.where(~np.isnan(anom), anom >= thr_rows, False)
    return ext, thr


def _kernel_params(
    method_anomaly: str,
    method_extreme: str,
    method_percentile: str,
    threshold_percentile: float,
    precision: float,
    max_anomaly: float,
    window_year_baseline: int,
    smooth_days: int,
    window_days_hobday: int,
    n_harmonics: int,
    detrend_orders: tuple[int, ...],
    force_zero_mean: bool,
    reference_period: tuple[int, int] | None = None,
) -> dict:
    from marex_spark.exceptions import ConfigurationError
    from marex_spark.operators.climatology import _validate_detrend_orders

    if reference_period is not None and method_anomaly not in (
        "fixed_baseline",
        "detrend_fixed_baseline",
    ):
        # reference validation (detect.py:570-577)
        raise ConfigurationError(
            f"reference_period is not supported for "
            f"method_anomaly='{method_anomaly}'",
            details={"reference_period": reference_period},
        )

    if method_anomaly not in (
        "fixed_baseline",
        "shifting_baseline",
        "detrend_harmonic",
        "detrend_fixed_baseline",
    ):
        raise ConfigurationError(
            "unknown method_anomaly", details={"got": method_anomaly}
        )
    if method_extreme not in ("global_extreme", "hobday_extreme"):
        raise ConfigurationError(
            "unknown method_extreme", details={"got": method_extreme}
        )
    return {
        "method_anomaly": method_anomaly,
        "method_extreme": method_extreme,
        "method_percentile": method_percentile,
        "q": threshold_percentile,
        "precision": precision,
        "max_anomaly": max_anomaly,
        "window_year_baseline": window_year_baseline,
        "smooth_days": smooth_days,
        "window_days_hobday": window_days_hobday,
        "n_harmonics": n_harmonics,
        "detrend_orders": _validate_detrend_orders(detrend_orders),
        "force_zero_mean": force_zero_mean,
        "reference_period": (
            (int(reference_period[0]), int(reference_period[1]))
            if reference_period is not None
            else None
        ),
    }


def detect_extremes_blocked(
    series: DataFrame,
    threshold_percentile: float = 0.95,
    method_percentile: str = "exact",
    precision: float = 0.01,
    max_anomaly: float = 5.0,
    time_col: str = "time",
    value_col: str = "value",
    assume_band_partitioned: bool = False,
    method_anomaly: str = "fixed_baseline",
    method_extreme: str = "global_extreme",
    window_year_baseline: int = 5,
    smooth_days: int = 21,
    window_days_hobday: int = 11,
    n_harmonics: int = 2,
    detrend_orders: tuple[int, ...] = (1,),
    force_zero_mean: bool = False,
    reference_period: tuple[int, int] | None = None,
) -> DataFrame:
    """Blocked detect over the long format, by latitude band. Supports
    fixed/shifting baselines × global/hobday thresholds (the reference's
    four hot configs, detect.py:1079-1203). Returns ONLY the extreme
    cells (time, y, x) — sparse, ready for label_components.

    ``assume_band_partitioned=True`` skips the band shuffle — only
    valid when every input partition already holds complete bands
    (band-partitioned generation, or a scan of band-bucketed parquet);
    the kernel still groups by y inside each partition, so partial
    bands would silently produce per-fragment climatologies.
    """
    p = _kernel_params(
        method_anomaly, method_extreme, method_percentile,
        threshold_percentile, precision, max_anomaly,
        window_year_baseline, smooth_days, window_days_hobday,
        n_harmonics, detrend_orders, force_zero_mean, reference_period,
    )
    spark = series.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")

    def _run(batches) -> Iterator:
        # mapInArrow: skip the Arrow→pandas conversion entirely (it
        # measured ~30% of the whole pass-through cost at 37M rows) —
        # numeric columns come out of Arrow as zero-copy-ish numpy,
        # timestamps as int64 micros; only the ~unique times (tiny)
        # ever touch pandas, for the day-of-year computation.
        import pyarrow as pa

        blist = list(batches)
        if not blist or sum(b.num_rows for b in blist) == 0:
            return
        tbl = pa.Table.from_batches(blist).combine_chunks()
        ts_type = tbl.schema.field(time_col).type
        unit, is_date = time_unit(ts_type)
        y = tbl["y"].to_numpy()
        x = tbl["x"].to_numpy().astype(np.int64, copy=False)
        ts = time_to_int64(tbl[time_col])
        v = tbl[value_col].to_numpy().astype(np.float64, copy=False)
        for band in np.unique(y):
            mask = y == band
            ut, t_idx = np.unique(ts[mask], return_inverse=True)
            ux, x_idx = np.unique(x[mask], return_inverse=True)
            m = np.full((len(ut), len(ux)), np.nan)
            # fmax scatter, not assignment: duplicate (time, y, x) rows
            # resolve to MAX on BOTH the long and packed paths (ADVICE
            # r2: assignment was row-order last-write-wins, silently
            # breaking the documented packed==long parity on dupes)
            np.fmax.at(m, (t_idx, x_idx), v[mask])
            doy0, years, days = _time_parts(ut, unit, is_date, session_tz)
            ext, _ = _band_extremes(m, doy0, years, days, p)
            tt, xx = np.nonzero(ext)
            yield pa.RecordBatch.from_arrays(
                [
                    time_from_int64(ut[tt], ts_type),
                    pa.array(np.full(len(tt), band, dtype=np.int32)),
                    pa.array(ux[xx].astype(np.int32)),
                ],
                names=[time_col, "y", "x"],
            )

    time_type = series.schema[time_col].dataType.simpleString()
    out_schema = f"{time_col} {time_type}, y int, x int"
    # balanced band placement without the range-sampling double-scan
    # (see _band_shuffle)
    src = (
        series
        if assume_band_partitioned
        else _band_shuffle(series, "y", parallelism)
    )
    return src.mapInArrow(_run, schema=out_schema)


def pack_gridded(
    series: DataFrame,
    nx: int,
    time_col: str = "time",
    value_col: str = "value",
) -> DataFrame:
    """Long (time, y, x, value) → packed (time, y, vals array<float>)
    layout (the Spark analogue of the reference's zarr chunks,
    detect.py:535 chunking). Gaps become NaN in the array (the packed
    kernel's gap encoding, preserving the drop-null semantics).
    Duplicate (time, y, x) rows — overlapping re-ingested regions,
    double-landed files — are resolved deterministically to MAX(value)
    (elementwise fmax; the long kernel's last-write-wins would be
    row-order-dependent). Ingestion jobs should land gridded data in
    this layout once and reuse it — every downstream blocked pass then
    moves plain float arrays through Arrow instead of per-cell tuples.

    Implemented as one band shuffle + a mapInArrow scatter kernel: the
    declarative alternative (map_from_entries + a higher-order
    ``transform`` projection) runs interpreted outside whole-stage
    codegen and measured ~20× slower at 35M rows — this is the
    production ingestion path, so the kernel form is the one that has
    to hold at 100 TB."""
    spark = series.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    val_type = series.schema[value_col].dataType.simpleString()
    if val_type not in ("float", "double"):
        # the kernel emits float arrays and gaps are NaN (which integer
        # arrays can't represent): cast up front so int/long/decimal
        # value columns pack instead of crashing on a schema mismatch
        series = series.withColumn(value_col, F.col(value_col).cast("double"))
        val_type = "double"
    np_val = np.float32 if val_type == "float" else np.float64

    def _run(batches) -> Iterator:
        import pyarrow as pa

        blist = list(batches)
        if not blist or sum(b.num_rows for b in blist) == 0:
            return
        tbl = pa.Table.from_batches(blist).combine_chunks()
        ts_type = tbl.schema.field(time_col).type
        y = tbl["y"].to_numpy()
        x = tbl["x"].to_numpy().astype(np.int64, copy=False)
        ts = time_to_int64(tbl[time_col])
        v = tbl[value_col].to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        )
        keep = (x >= 0) & (x < nx)
        for band in np.unique(y):
            mask = (y == band) & keep
            ut, t_idx = np.unique(ts[mask], return_inverse=True)
            arr = np.full((len(ut), nx), np.nan)
            # fmax scatter: NaN loses to any value → MAX-dedup with NaN
            # marking true gaps
            np.fmax.at(arr, (t_idx, x[mask]), v[mask])
            flat = pa.array(arr.reshape(-1).astype(np_val))
            vals = pa.FixedSizeListArray.from_arrays(flat, nx).cast(
                pa.list_(flat.type)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    time_from_int64(ut, ts_type),
                    pa.array(np.full(len(ut), band).astype(np.int32)),
                    vals,
                ],
                names=[time_col, "y", "vals"],
            )

    time_type = series.schema[time_col].dataType.simpleString()
    out_schema = f"{time_col} {time_type}, y int, vals array<{val_type}>"
    # balanced band placement without the range-sampling double-scan
    # (see _band_shuffle)
    return _band_shuffle(series, "y", parallelism).mapInArrow(
        _run, schema=out_schema
    )


def detect_extremes_blocked_packed(
    packed: DataFrame,
    threshold_percentile: float = 0.95,
    method_percentile: str = "exact",
    precision: float = 0.01,
    max_anomaly: float = 5.0,
    time_col: str = "time",
    output: str = "extremes",
    method_anomaly: str = "fixed_baseline",
    method_extreme: str = "global_extreme",
    window_year_baseline: int = 5,
    smooth_days: int = 21,
    window_days_hobday: int = 11,
    n_harmonics: int = 2,
    detrend_orders: tuple[int, ...] = (1,),
    force_zero_mean: bool = False,
    window_spatial_hobday: int | None = None,
    ny: int | None = None,
    reference_period: tuple[int, int] | None = None,
) -> DataFrame:
    """Blocked detect over the PACKED layout (time, y, vals array<float>):
    same kernel and semantics as :func:`detect_extremes_blocked`
    (parity-pinned in tests), but the band matrix is assembled by
    stacking rows' arrays — no per-cell factorize, and the shuffle +
    Arrow transfer carry ×nx fewer rows. This is the SCALE.md "array
    columns end-to-end" lever.

    ``window_spatial_hobday`` (W4; hobday + histogram only, needs
    ``ny``) adds the reference's 2-D spatial pooling via a y-HALO fan:
    each packed row is duplicated to the bands within ±s before the
    band shuffle, so every band's kernel sees its neighbours' rows and
    pools without any cross-band exchange — anomalies for halo rows
    are recomputed per band (s+s+1× compute on the cheap stage buys
    zero extra shuffles on the expensive one).

    ``output="thresholds"`` returns the per-cell threshold table
    (y, x, threshold) instead of the sparse extreme cells — the
    reference's thresholds output (detect.py:1119-1203), and the hook
    the oracle gate uses to check the numpy kernel against SQL
    quantile_cont (global thresholds only)."""
    p = _kernel_params(
        method_anomaly, method_extreme, method_percentile,
        threshold_percentile, precision, max_anomaly,
        window_year_baseline, smooth_days, window_days_hobday,
        n_harmonics, detrend_orders, force_zero_mean, reference_period,
    )
    thresholds = output == "thresholds"
    from marex_spark.exceptions import ConfigurationError

    if thresholds and method_extreme != "global_extreme":
        raise ConfigurationError(
            "thresholds output is defined for global_extreme only "
            "(hobday tables are (doy × cell); use the relational path)"
        )
    spatial = int(window_spatial_hobday or 0)
    if spatial:
        # reference validation (detect.py:1385-1430)
        if method_extreme != "hobday_extreme":
            raise ConfigurationError(
                "window_spatial_hobday can only be used with "
                "method_extreme='hobday_extreme'"
            )
        if method_percentile == "exact":
            raise ConfigurationError(
                "window_spatial_hobday is not supported with "
                "method_percentile='exact'"
            )
        if ny is None:
            raise ConfigurationError("window_spatial_hobday needs ny")
    p["spatial_window"] = spatial
    spark = packed.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")

    def _run(batches) -> Iterator:
        # mapInArrow: the packed layout's fixed-length list<float>
        # column flattens straight into the (T × NX) band matrix —
        # list offsets are uniform, so the values buffer reshapes with
        # zero per-row work (vs np.stack over an object Series).
        import pyarrow as pa

        blist = list(batches)
        if not blist or sum(b.num_rows for b in blist) == 0:
            return
        tbl = pa.Table.from_batches(blist).combine_chunks()
        ts_type = tbl.schema.field(time_col).type
        unit, is_date = time_unit(ts_type)
        y = tbl["y"].to_numpy()
        ts = time_to_int64(tbl[time_col])
        vcol = tbl["vals"].combine_chunks()
        widths = np.diff(vcol.offsets.to_numpy())
        if len(widths) and (widths != widths[0]).any():
            from marex_spark.exceptions import DataValidationError

            raise DataValidationError(
                "packed vals arrays must be fixed-length",
                details={"min": int(widths.min()), "max": int(widths.max())},
            )
        nx_w = int(widths[0]) if len(widths) else 0
        # keep the scan dtype (float32): the band sweep promotes per
        # x-chunk (exact), so the whole multi-GB batch never pays a
        # float64 copy and the per-band mask/order gathers move half
        # the bytes
        flat = vcol.flatten().to_numpy(zero_copy_only=False)
        mat_all = flat.reshape(len(y), nx_w)
        if p["spatial_window"]:
            bnd = tbl["band"].to_numpy()
            for band in np.unique(bnd):
                gmask = bnd == band
                ts_g = ts[gmask]
                y_g = y[gmask]
                mat_g = mat_all[gmask]
                ut, t_inv = np.unique(ts_g, return_inverse=True)
                doy0, years, days = _time_parts(ut, unit, is_date, session_tz)
                anoms: dict[int, np.ndarray] = {}
                for y_val in np.unique(y_g):
                    sel = y_g == y_val
                    m = np.full((len(ut), nx_w), np.nan)
                    m[t_inv[sel]] = mat_g[sel]
                    anoms[int(y_val)] = _anomaly_of(m, doy0, years, days, p)
                thr = _thr_hobday_spatial(
                    anoms, int(band), doy0, p["q"],
                    p["window_days_hobday"], p["spatial_window"],
                    p["precision"], p["max_anomaly"], nx_w,
                )
                a = anoms.get(int(band))
                if a is None:
                    continue
                with np.errstate(invalid="ignore"):
                    ext = np.where(~np.isnan(a), a >= thr[doy0], False)
                tt, xx = np.nonzero(ext)
                yield pa.RecordBatch.from_arrays(
                    [
                        time_from_int64(ut[tt], ts_type),
                        pa.array(np.full(len(tt), band, dtype=np.int32)),
                        pa.array(xx.astype(np.int32)),
                    ],
                    names=[time_col, "y", "x"],
                )
            return
        for band in np.unique(y):
            rows = np.flatnonzero(y == band)
            ts_b = ts[rows]
            order = np.argsort(ts_b, kind="stable")
            ut = ts_b[order]
            # single fused gather (mask-then-order made two full-band
            # copies of the matrix)
            m = mat_all[rows[order]]
            doy0, years, days = _time_parts(ut, unit, is_date, session_tz)
            ext, thr = _band_extremes(m, doy0, years, days, p)
            if thresholds:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(nx_w, band, dtype=np.int32)),
                        pa.array(np.arange(nx_w, dtype=np.int32)),
                        pa.array(thr.astype(np.float64)),
                    ],
                    names=["y", "x", "threshold"],
                )
            else:
                tt, xx = np.nonzero(ext)
                yield pa.RecordBatch.from_arrays(
                    [
                        time_from_int64(ut[tt], ts_type),
                        pa.array(np.full(len(tt), band, dtype=np.int32)),
                        pa.array(xx.astype(np.int32)),
                    ],
                    names=[time_col, "y", "x"],
                )

    time_type = packed.schema[time_col].dataType.simpleString()
    if thresholds:
        out_schema = "y int, x int, threshold double"
    else:
        out_schema = f"{time_col} {time_type}, y int, x int"
    if spatial:
        s = spatial // 2
        fanned = (
            packed.select(
                time_col, "y", "vals",
                F.explode(F.sequence(F.lit(-s), F.lit(s))).alias("_dy"),
            )
            .withColumn("band", (F.col("y") + F.col("_dy")).cast("int"))
            .filter((F.col("band") >= 0) & (F.col("band") < ny))
            .drop("_dy")
        )
        # one band per task is the natural grain here; over-partitioned
        # hash (default) or range both achieve it — see _band_shuffle
        # for the trade (range pays a sampling re-execution of the fan)
        return _band_shuffle(fanned, "band", parallelism).mapInArrow(
            _run, schema=out_schema
        )
    # balanced band placement without the range-sampling double-scan —
    # on this path the child is a multi-GB packed scan, where range
    # partitioning's boundary-sampling pass re-executed the ENTIRE
    # scan+decode before the real shuffle (see _band_shuffle; the
    # kernel loops unique y within its partition either way)
    return _band_shuffle(packed, "y", parallelism).mapInArrow(
        _run, schema=out_schema
    )


def pack_unstructured(
    series: DataFrame,
    block_cells: int = 1024,
    time_col: str = "time",
    cell_col: str = "cell",
    value_col: str = "value",
) -> DataFrame:
    """Long unstructured (time, cell, value) → the SAME packed layout
    the gridded kernel consumes: cells are grouped into fixed-width
    blocks (y = cell // block_cells, x = cell % block_cells) and each
    (time, block) row carries a float array.

    Per-cell detect semantics (climatology, shifting baseline, detrend,
    global/hobday thresholds) are spatially independent, so the block
    key is free to be arbitrary — blocking a mesh loses nothing. Only
    the 5×5 spatial hobday pooling (W4) is grid-specific, and the
    reference defines that for gridded data only. Mesh users get the
    identical kernel-speed fast path (reference: unstructured ICON
    support, detect.py:17-18, track.py:1060-1089); morphology/labelling
    stay on the mesh-adjacency operators (morphology.py, label.py).

    Sizing: parallelism = n_cells / block_cells tasks, so pick
    block_cells ≤ n_cells / (4 × executor slots). The 1024 default
    suits production meshes (ICON R2B9 ~84M cells → 82k blocks);
    measured locally, 3200 cells at width 1024 (4 blocks on 32 cores)
    ran 6.5 s where width 100 (32 blocks) ran 1.7 s — the same rate as
    the gridded band kernel.
    """
    mapped = series.select(
        time_col,
        (F.col(cell_col) / block_cells).cast("int").alias("y"),
        (F.col(cell_col) % block_cells).cast("int").alias("x"),
        value_col,
    )
    return pack_gridded(mapped, nx=block_cells, time_col=time_col, value_col=value_col)


def detect_extremes_unstructured_packed(
    series: DataFrame,
    block_cells: int = 1024,
    time_col: str = "time",
    cell_col: str = "cell",
    value_col: str = "value",
    output: str = "extremes",
    **kernel_kw,
) -> DataFrame:
    """Unstructured fast path: pack cells into blocks, run the packed
    band kernel, map block coordinates back to cell ids. Returns sparse
    (time, cell) extreme rows — or (cell, threshold) with
    ``output="thresholds"`` — matching the relational
    ``preprocess_data(keys=("cell",))`` semantics cell-for-cell
    (parity-pinned in tests/test_detect_blocked.py).

    ``window_spatial_hobday`` is rejected: spatial pooling is undefined
    on an arbitrary cell blocking (use the gridded path, or mesh
    morphology operators for neighbourhood logic).
    """
    from marex_spark.exceptions import ConfigurationError

    if kernel_kw.get("window_spatial_hobday"):
        raise ConfigurationError(
            "window_spatial_hobday is grid-only; an unstructured blocking "
            "has no 2-D neighbourhood"
        )
    packed = pack_unstructured(
        series, block_cells, time_col=time_col, cell_col=cell_col,
        value_col=value_col,
    )
    out = detect_extremes_blocked_packed(
        packed, time_col=time_col, output=output, **kernel_kw
    )
    cell = (
        F.col("y").cast("long") * block_cells + F.col("x").cast("long")
    ).alias(cell_col)
    if output == "thresholds":
        # trailing-block filler cells carry NaN thresholds — drop them
        return out.select(cell, "threshold").filter(~F.isnan("threshold"))
    return out.select(time_col, cell)


def bench_grid_size(sf: float) -> tuple[int, int, int]:
    """(n_years, ny, nx) for the synthetic bench grid at a given sf —
    shared by pipeline.detect_track_bench and the packed bench path so
    every tier measures the same data."""
    n_years = max(2, int(round(30 * sf)))
    ny, nx = (40, 80) if sf >= 0.05 else (20, 40)
    return n_years, ny, nx


def materialize_packed_bench(
    spark, sf: float, path: str, n_years: int | None = None
) -> str:
    """Land the synthetic bench series ONCE as packed parquet (the
    layout a production store keeps gridded data in — zarr ingestion
    emits it directly, sources/zarr.py). Bench warmup calls this
    untimed; the timed queries then measure the steady-state pipeline:
    columnar scan → blocked kernel → tracking, exactly what a real
    deployment pays per run."""
    from marex_spark.sources.synthetic import synthetic_sst_gridded

    ny_default, ny, nx = bench_grid_size(sf)
    series = synthetic_sst_gridded(
        spark, n_years=n_years or ny_default, ny=ny, nx=nx
    )
    packed = pack_gridded(series, nx=nx)
    packed.write.mode("overwrite").parquet(path)
    return path


def materialize_packed_band_fixture(
    spark,
    path: str,
    n_years: int = 30,
    ny: int = 240,
    nx: int = 480,
    seed: int = 42,
    reuse: bool = True,
) -> str:
    """Billion-cell-day packed bench fixture (default 30 y daily ×
    240×480 ≈ 1.26e9 cell-days, ~5 GB parquet) for the scan-bound
    scale rehearsal rows. Rows are generated DIRECTLY in the packed
    layout by a numpy ``mapInArrow`` kernel — same statistical shape
    as :func:`synthetic_sst_gridded` (latitude base + seasonal cycle +
    trend + bounded noise) but with Philox counter-based noise seeded
    per Arrow batch, which generates ~50× faster than the per-cell
    hash-expression chain (fixture generation is not engine cost, but
    warmup wall-clock is still bench wall-clock; the noise is
    batch-layout-dependent — fine for a throughput fixture, use the
    expression generators for value-pinned parity). ``reuse=True`` skips
    generation when the parquet already exists with a matching row
    count, so repeated bench passes pay nothing."""
    import os

    n_days = n_years * 365
    expected = n_days * ny
    if reuse and os.path.isdir(path):
        try:
            prior = spark.read.parquet(path)
            # row count pins (n_years, ny); the vals width pins nx —
            # without it a re-parameterised run could silently reuse a
            # fixture of the wrong x extent
            if (
                prior.count() == expected
                and len(prior.select("vals").first()[0]) == nx
            ):
                return path
        except Exception:
            pass

    def _gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("id").to_numpy()
            t = (ids // ny).astype(np.int64)
            y = (ids % ny).astype(np.int64)
            lat = -85.0 + y * (170.0 / max(ny - 1, 1))
            base = 18.0 - 0.25 * np.abs(lat)
            seasonal = (
                8.0
                * np.cos(2 * np.pi * (t % 365) / 365.0)
                * np.sign(-lat - 1e-12)
            )
            trend = 0.02 * (t / 365.0)
            rows = base + seasonal + trend  # (n,)
            n = len(ids)
            rng = np.random.Generator(
                np.random.Philox(key=seed, counter=[0, 0, 0, int(ids[0])])
            )
            noise = rng.uniform(-1.0, 1.0, size=(n, nx)).astype(np.float32)
            vals = (rows[:, None] + noise).astype(np.float32)
            arr = pa.FixedSizeListArray.from_arrays(
                pa.array(vals.ravel(), type=pa.float32()), nx
            ).cast(pa.list_(pa.float32()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(t), pa.array(y), arr], ["t", "y", "vals"]
            )

    par = spark.sparkContext.defaultParallelism
    packed = (
        spark.range(expected).repartition(par * 4)
        .mapInArrow(_gen, "t long, y long, vals array<float>")
        .select(
            F.timestamp_add(
                "DAY", F.col("t").cast("int"),
                F.lit("2000-01-01").cast("timestamp"),
            ).alias("time"),
            F.col("y").cast("int").alias("y"),
            "vals",
        )
    )
    packed.write.mode("overwrite").parquet(path)
    return path


def detect_track_packed(
    spark,
    sf: float,
    path: str,
    method_percentile: str = "histogram",
    method_anomaly: str = "fixed_baseline",
    method_extreme: str = "global_extreme",
    track: bool = True,
) -> int:
    """Bench harness: packed-parquet scan → blocked kernel → tracking.
    The default bench path (VERDICT r2 #2): Arrow moves float arrays,
    the band shuffle carries ×nx fewer rows, and the kernel covers all
    four anomaly×extreme hot configs. ``track=False`` measures the
    detect stage alone — the apples-to-apples form of BASELINE.md's
    rows, which time detect without tracking."""
    from marex_spark.operators.track import track_events

    _, _, nx = bench_grid_size(sf)
    packed = spark.read.parquet(path)
    cells = detect_extremes_blocked_packed(
        packed,
        method_percentile=method_percentile,
        method_anomaly=method_anomaly,
        method_extreme=method_extreme,
    )
    if not track:
        cells.write.mode("overwrite").format("noop").save()
        return 0
    ext = cells.withColumn("extreme", F.lit(True))
    res = track_events(ext, nx=nx, compute_stats=False)
    res.events.write.mode("overwrite").format("noop").save()
    return 0


def detect_track_blocked(
    spark,
    sf: float,
    method_percentile: str = "histogram",
    method_anomaly: str = "fixed_baseline",
    method_extreme: str = "global_extreme",
) -> int:
    """Bench harness: blocked detect feeding the standard tracking
    stages (same sizes as pipeline.detect_track_bench).

    Uses the LONG generator + long-format kernel: generating packed
    arrays in-plan runs through Spark's higher-order ``transform``,
    which is interpreted per element (no whole-stage codegen) and
    measured 4-9× slower than the codegen'd long generator. The packed
    kernel (detect_track_packed) is the right path when data arrives
    already packed (zarr ingestion, pack_gridded-landed parquet)."""
    from marex_spark.operators.track import track_events
    from marex_spark.sources.synthetic import synthetic_sst_gridded

    # deliberately the SHUFFLED path: the bench must measure the plan
    # SCALE.md describes (one band shuffle) — the no-shuffle
    # band-partitioned variant is a generator-side trick real ingested
    # data only gets from a band-bucketed/packed layout
    n_years, ny, nx = bench_grid_size(sf)
    series = synthetic_sst_gridded(spark, n_years=n_years, ny=ny, nx=nx)
    cells = detect_extremes_blocked(
        series,
        method_percentile=method_percentile,
        method_anomaly=method_anomaly,
        method_extreme=method_extreme,
    )
    ext = cells.withColumn("extreme", F.lit(True))
    res = track_events(ext, nx=nx, compute_stats=False)
    res.events.write.mode("overwrite").format("noop").save()
    return 0
