"""Faithful numpy replay of the reference's SERIAL split-and-merge loop
(reference track.py:3337-3802) for divergence hunting.

This is a diagnostic tool, not an engine path: it materialises dense
(ny, nx) slices on the driver and replays the reference's exact
algorithm — check_overlap_slice pair ordering (track.py:2396-2452),
enforce_overlap_threshold with object_props areas (2506-2552),
consolidate_object_ids (2554-2656), the within-timestep fixpoint loop
(3440-3600), partition_nn_grid with its grid-block window + found_close
short-circuit + centroid fallback (4973-5113), the 100-column
"near-edge" wrapped centroid (2045-2102), and the call-site
max_distance heuristic (3526-3535).

Usage: python tools/ref_nn_sim.py  — runs the advanced-merging parity
scenario (reference test_gridded_tracking.py:79-146 pins total_merges
13±2 under NN partitioning) and prints the replayed ledger, for
comparison against the engine's resolver.
"""

from __future__ import annotations

import numpy as np


def centroid_ref(mask: np.ndarray, wrap: bool) -> tuple[float, float]:
    """calculate_centroid (track.py:2045-2102): plain means, except the
    x mean shifts right-half coordinates by -nx when the object has any
    cell within 100 columns of either x edge (and wrap is on)."""
    ys, xs = np.nonzero(mask)
    ny, nx = mask.shape
    y_c = float(ys.mean())
    if wrap and np.any(xs < 100) and np.any(xs >= nx - 100):
        xa = xs.astype(np.float64).copy()
        xa[xs > nx // 2] -= nx
        x_c = float(xa.mean())
        if x_c < 0:
            x_c += nx
    else:
        x_c = float(xs.mean())
    return (y_c, x_c)


def check_overlap_slice(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """track.py:2396-2452: (parent, child, pixel_count) rows, sorted by
    the combined pair key — i.e. ascending (parent, child)."""
    m = (a > 0) & (b > 0)
    if not np.any(m):
        return np.empty((0, 3), dtype=np.int64)
    av, bv = a[m].astype(np.int64), b[m].astype(np.int64)
    big = max(int(a.max()), int(b.max()) + 1)
    pair = av * big + bv
    uniq, counts = np.unique(pair, return_counts=True)
    return np.column_stack((uniq // big, uniq % big, counts))


def gate(pairs: np.ndarray, props: dict, thr: float) -> np.ndarray:
    """enforce_overlap_threshold (track.py:2506-2552): both ids must
    exist in object_props; o/min(areas) >= thr."""
    if len(pairs) == 0:
        return pairs
    keep = []
    for p, c, o in pairs:
        if p in props and c in props:
            mn = min(props[p][0], props[c][0])
            if o / mn >= thr:
                keep.append((p, c, o))
    return (
        np.array(keep, dtype=np.int64)
        if keep
        else np.empty((0, 3), dtype=np.int64)
    )


def partition_nn_grid_ref(
    child_mask: np.ndarray,
    parent_masks: list[np.ndarray],
    child_ids: np.ndarray,
    parent_centroids: np.ndarray,
    nx_wrap: int,
    max_distance: int,
    wrap: bool,
) -> np.ndarray:
    """partition_nn_grid (track.py:4973-5113), vectorised but with the
    identical candidate set: per-parent min over points in the 3x3
    grid-block window (grid_size = max(2, max_distance//4); BOTH block
    axes wrap via modulo, exactly like the reference) and within
    max_distance; strict-less cross-parent compare (earlier parent wins
    ties); unreached cells -> nearest parent centroid, unbounded."""
    ny, nx = child_mask.shape
    gs = max(2, max_distance // 4)
    ngy = (ny + gs - 1) // gs
    ngx = (nx + gs - 1) // gs
    half = nx_wrap / 2.0
    cy, cx = np.nonzero(child_mask)
    n = len(cy)
    min_d = np.full(n, np.inf)
    assign = np.zeros(n, dtype=np.int64)
    bcy, bcx = cy // gs, cx // gs
    for pi, pm in enumerate(parent_masks):
        py, px = np.nonzero(pm)
        if len(py) == 0:
            continue
        dy = cy[:, None] - py[None, :]
        dx = (cx[:, None] - px[None, :]).astype(np.float64)
        if wrap:
            dx = np.where(dx > half, dx - nx_wrap, dx)
            dx = np.where(dx < -half, dx + nx_wrap, dx)
        d = np.sqrt(dy * dy + dx * dx)
        # block window: modulo adjacency on BOTH axes (track.py:5040-48)
        bdy = np.abs(bcy[:, None] - (py[None, :] // gs))
        bdy = np.minimum(bdy, ngy - bdy)
        bdx = np.abs(bcx[:, None] - (px[None, :] // gs))
        bdx = np.minimum(bdx, ngx - bdx)
        d = np.where((bdy <= 1) & (bdx <= 1) & (d <= max_distance), d, np.inf)
        dmin = d.min(axis=1)
        upd = dmin < min_d
        min_d[upd] = dmin[upd]
        assign[upd] = pi
    unreached = ~np.isfinite(min_d)
    if np.any(unreached):
        for i in np.nonzero(unreached)[0]:
            best, bd = 0, np.inf
            for pi in range(len(parent_masks)):
                dy = cy[i] - parent_centroids[pi][0]
                dx = cx[i] - parent_centroids[pi][1]
                if wrap:
                    if dx > half:
                        dx -= nx_wrap
                    elif dx < -half:
                        dx += nx_wrap
                dd = np.sqrt(dy * dy + dx * dx)
                if dd < bd:
                    bd, best = dd, pi
            assign[i] = best
    return child_ids[assign]


def partition_centroid_ref(
    child_mask, parent_centroids, child_ids, nx_wrap, wrap
):
    """wrapped_euclidian_distance_mask_parallel + argmin
    (track.py:3552-3557)."""
    cy, cx = np.nonzero(child_mask)
    half = nx_wrap / 2.0
    d = np.empty((len(cy), len(parent_centroids)))
    for pi, (pcy, pcx) in enumerate(parent_centroids):
        dy = cy - pcy
        dx = (cx - pcx).astype(np.float64)
        if wrap:
            dx = np.where(dx > half, dx - nx_wrap, dx)
            dx = np.where(dx < -half, dx + nx_wrap, dx)
        d[:, pi] = np.sqrt(dy * dy + dx * dx)
    return child_ids[np.argmin(d, axis=1)]


def props_of(field: np.ndarray, ids, wrap: bool) -> dict:
    """(area px, (cy, cx)) per id present in field."""
    out = {}
    for oid in ids:
        m = field == oid
        a = int(m.sum())
        if a:
            out[int(oid)] = (a, centroid_ref(m, wrap))
    return out


def simulate(
    fields: np.ndarray,
    thr: float = 0.5,
    nn: bool = True,
    wrap: bool = True,
    verbose: bool = False,
    max_distance: float | None = None,
):
    """The serial chunk loop (track.py:3337-3802) on dense slices
    fields[t] (int labels, 0 = background). Returns (ledger, fields)
    where ledger rows are (t, child_ids, parent_ids, overlaps)."""
    nt, ny, nx = fields.shape
    fields = fields.copy()
    all_ids = np.unique(fields)
    all_ids = all_ids[all_ids > 0]
    props: dict[int, tuple[int, tuple[float, float]]] = {}
    for t in range(nt):
        props.update(props_of(fields[t], np.unique(fields[t]), wrap))
    next_new = int(all_ids.max()) + 1
    ledger = []

    def consolidate(t2: np.ndarray, t1: np.ndarray):
        back = gate(check_overlap_slice(t2, t1), props, thr)
        if len(back) == 0:
            return
        pids, cnts = np.unique(back[:, 0], return_counts=True)
        for p in pids[cnts > 1]:
            if p not in props:
                continue
            kids = back[back[:, 0] == p, 1].astype(int)
            first = int(kids[0])
            if first not in props:
                continue
            for k in kids[1:]:
                k = int(k)
                if k not in props:
                    continue
                t1[t1 == k] = first
                props.pop(k, None)
            m = t1 == first
            if m.any():
                props[first] = (int(m.sum()), centroid_ref(m, wrap))

    for t in range(nt):
        if t >= 1:
            t2 = fields[t - 2] if t >= 2 else np.zeros_like(fields[t])
            consolidate(t2, fields[t - 1])
        ov = gate(check_overlap_slice(fields[t - 1] if t else
                                      np.zeros_like(fields[t]), fields[t]),
                  props, thr)
        it = 0
        while it < 10:
            kids, cnts = (
                np.unique(ov[:, 1], return_counts=True)
                if len(ov)
                else (np.empty(0, np.int64), np.empty(0, np.int64))
            )
            merging = kids[cnts > 1]
            if len(merging) == 0:
                break
            for child in merging:
                cm = fields[t] == child
                grp = ov[ov[:, 1] == child]
                parent_ids = grp[:, 0].astype(int)
                n_par = len(parent_ids)
                new_ids = np.arange(next_new, next_new + n_par - 1)
                next_new += n_par - 1
                # replace 2nd+ child occurrences in the overlap list
                where = np.nonzero(ov[:, 1] == child)[0]
                ov[where[1:], 1] = new_ids
                child_ids = np.concatenate(([int(child)], new_ids))
                ledger.append(
                    (t, child_ids.copy(), parent_ids.copy(),
                     grp[:, 2].astype(int).copy())
                )
                pmasks = [fields[t - 1] == p for p in parent_ids]
                pcents = np.array(
                    [props[int(p)][1] for p in parent_ids]
                )
                if nn:
                    if max_distance is not None:
                        md = int(max_distance)
                    else:
                        max_area = max(props[int(p)][0] for p in parent_ids)
                        md = max(int(np.sqrt(max_area) * 3.0), 40)
                    new_labels = partition_nn_grid_ref(
                        cm, pmasks, child_ids, pcents, nx, md, wrap
                    )
                else:
                    new_labels = partition_centroid_ref(
                        cm, pcents, child_ids, nx, wrap
                    )
                fields[t][cm] = new_labels
                # update props: child (drop if vanished) + new pieces
                for oid in child_ids:
                    m = fields[t] == oid
                    a = int(m.sum())
                    if a:
                        props[int(oid)] = (a, centroid_ref(m, wrap))
                    else:
                        props.pop(int(oid), None)
            ov = gate(
                check_overlap_slice(
                    fields[t - 1] if t else np.zeros_like(fields[t]),
                    fields[t],
                ),
                props,
                thr,
            )
            it += 1
        if verbose and it == 10:
            print(f"t={t}: did not converge")
    if nt >= 2:
        consolidate(fields[-2], fields[-1])
    return ledger, fields


# ---------------------------------------------------------------------------
# Faithful reference PREPROCESSING (track.py:1234-1366) in pure numpy:
# fill_holes (wrap-pad 2R in BOTH y and x, zero-border closing+opening,
# crop, mask-after), fill_time_gaps (t-closing k=T_fill+1, then
# fill_holes R//2), filter_small_objects (per-slice 8-conn labels with
# x-wrap only, np.percentile threshold, keep >=), relabel.
# ---------------------------------------------------------------------------


def _disk(r: int) -> list[tuple[int, int]]:
    """se_kernel = (x²+y²) < R²+1 (track.py:1606-1609)."""
    return [
        (dy, dx)
        for dy in range(-r, r + 1)
        for dx in range(-r, r + 1)
        if dy * dy + dx * dx <= r * r
    ]


def _shift0(a: np.ndarray, dy: int, dx: int) -> np.ndarray:
    """Shift with zeros entering (scipy border_value=0 semantics)."""
    out = np.zeros_like(a)
    ys = slice(max(dy, 0), a.shape[-2] + min(dy, 0))
    yd = slice(max(-dy, 0), a.shape[-2] + min(-dy, 0))
    xs = slice(max(dx, 0), a.shape[-1] + min(dx, 0))
    xd = slice(max(-dx, 0), a.shape[-1] + min(-dx, 0))
    out[..., yd, xd] = a[..., ys, xs]
    return out


def _dilate0(a: np.ndarray, offs) -> np.ndarray:
    out = np.zeros_like(a)
    for dy, dx in offs:
        out |= _shift0(a, dy, dx)
    return out


def _erode0(a: np.ndarray, offs) -> np.ndarray:
    """Erosion with border_value=0: off-array counts False."""
    out = np.ones_like(a)
    for dy, dx in offs:
        out &= _shift0(a, dy, dx)
    return out


def fill_holes_ref(b: np.ndarray, r: int, mask: np.ndarray) -> np.ndarray:
    """track.py:1598-1650: pad 2R with mode=wrap on BOTH spatial axes,
    binary closing then opening (zero border), crop, mask-after."""
    if r > 0:
        d = 2 * r
        offs = _disk(r)
        p = np.pad(b, ((0, 0), (d, d), (d, d)), mode="wrap")
        p = _erode0(_dilate0(p, offs), offs)  # closing
        p = _dilate0(_erode0(p, offs), offs)  # opening
        b = p[:, d:-d, d:-d]
    return b & mask[None, :, :]


def fill_time_gaps_ref(b: np.ndarray, t_fill: int, r_fill: int,
                       mask: np.ndarray) -> np.ndarray:
    """track.py:1652-1703: t-closing with kernel T_fill+1 (constant
    pad), then fill_holes at R_fill//2."""
    if t_fill == 0:
        return b
    k = t_fill + 1
    half = k // 2
    offs_t = range(-half, k - half)
    p = np.pad(b, ((k, k), (0, 0), (0, 0)), mode="constant")
    dil = np.zeros_like(p)
    for dt in offs_t:
        dil |= np.roll(p, dt, axis=0)
    ero = np.ones_like(p)
    for dt in offs_t:
        ero &= np.roll(dil, dt, axis=0)
    b = ero[k:-k]
    return fill_holes_ref(b, r_fill // 2, mask)


def label_slices(b: np.ndarray, wrap_x: bool = True) -> np.ndarray:
    """Per-slice 8-connected labels, x-wrap only (track.py:2017-2031),
    globally unique ascending in (t, raster-first-cell) order."""
    nt, ny, nx = b.shape
    out = np.zeros(b.shape, dtype=np.int64)
    nxt = 1
    for t in range(nt):
        sl = b[t]
        seen = np.zeros(sl.shape, dtype=bool)
        for y0 in range(ny):
            row = sl[y0]
            for x0 in np.nonzero(row & ~seen[y0])[0]:
                if seen[y0, x0]:
                    continue
                stack = [(y0, int(x0))]
                seen[y0, x0] = True
                comp = []
                while stack:
                    y, x = stack.pop()
                    comp.append((y, x))
                    for dy in (-1, 0, 1):
                        yy = y + dy
                        if yy < 0 or yy >= ny:
                            continue
                        for dx in (-1, 0, 1):
                            xx = x + dx
                            if wrap_x:
                                xx %= nx
                            elif xx < 0 or xx >= nx:
                                continue
                            if sl[yy, xx] and not seen[yy, xx]:
                                seen[yy, xx] = True
                                stack.append((yy, xx))
                ys, xs = zip(*comp)
                out[t, list(ys), list(xs)] = nxt
                nxt += 1
    return out


def preprocess_ref(
    ext: np.ndarray, mask: np.ndarray, r_fill: int, t_fill: int, q: float
) -> np.ndarray:
    """Full reference preprocessing + relabel: returns the labelled
    field split_and_merge_objects receives (track.py:2734-2777)."""
    b = fill_holes_ref(ext, r_fill, mask)
    b = fill_time_gaps_ref(b, t_fill, r_fill, mask)
    labels = label_slices(b)
    ids, areas = np.unique(labels[labels > 0], return_counts=True)
    thr = np.percentile(areas, q * 100.0)
    keep = set(ids[areas >= thr].tolist())
    # track.py:1891-1892 "object_ids_keep[0] = -1  # Don't keep ID=0":
    # regionprops emits no background row, so this drops object ID 1
    keep.discard(int(ids.min()))
    filt = np.where(np.isin(labels, list(keep)), True, False)
    return label_slices(filt)


def _scenario_fields(spark):
    """Labelled dense fields for the advanced-merging parity scenario
    (same preprocessing the engine's Tracker runs)."""
    import os

    from pyspark.sql import functions as F

    import tests.test_reference_parity as tp
    from marex_spark.operators.track import preprocess_extremes
    from marex_spark.sources.zarr import (
        _decode_chunk,
        _read_meta,
        ingest_zarr_gridded,
    )

    store = os.path.join(tp.REF_DATA, "extremes_gridded.zarr")
    long_df = ingest_zarr_gridded(spark, store, "extreme_events", layout="long")
    ext = long_df.select(
        "time", "y", "x", (F.col("value") > 0.5).alias("extreme")
    )
    gy, gx, lat, lon = tp._grid_dfs(spark, store)
    mdir = os.path.join(store, "mask")
    mmeta = _read_meta(mdir)
    with open(os.path.join(mdir, "0.0"), "rb") as f:
        mask_arr = _decode_chunk(f.read(), mmeta)
    valid = [
        (int(y), int(x))
        for y in range(mask_arr.shape[0])
        for x in range(mask_arr.shape[1])
        if mask_arr[y, x] and -90.0 < float(lat[y]) < 85.0
    ]
    mask_df = spark.createDataFrame(valid, "y int, x int")
    labels = preprocess_extremes(
        ext,
        ny=len(lat),
        nx=len(lon),
        r_fill=4,
        t_fill=2,
        area_quartile=0.5,
        wrap_x=True,
        time_col="time",
        extreme_col="extreme",
        return_labels=True,
        mask=mask_df,
    )
    pdf = labels.toPandas()
    times = sorted(pdf["time"].unique())
    tmap = {tv: i for i, tv in enumerate(times)}
    ny, nx = len(lat), len(lon)
    fields = np.zeros((len(times), ny, nx), dtype=np.int64)
    for r in pdf.itertuples():
        fields[tmap[r.time], r.y, r.x] = r.obj_id
    return fields, times


def _load_fixture():
    """Raw extreme_events + clamped mask from the reference fixture,
    dense, no Spark."""
    import os
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import tests.test_reference_parity as tp
    from marex_spark.sources.zarr import _decode_chunk, _read_meta

    store = os.path.join(tp.REF_DATA, "extremes_gridded.zarr")

    def read_full(var):
        import itertools

        meta = _read_meta(os.path.join(store, var))
        shape, chunks = meta["shape"], meta["chunks"]
        arr = None
        grids = [
            range((s + c - 1) // c) for s, c in zip(shape, chunks)
        ]
        for idx in itertools.product(*grids):
            key = ".".join(str(i) for i in idx)
            path = os.path.join(store, var, key)
            if not os.path.exists(path):
                continue
            with open(path, "rb") as f:
                chunk = _decode_chunk(f.read(), meta)
            if arr is None:
                arr = np.zeros(shape, dtype=chunk.dtype)
            sel = tuple(
                slice(i * c, min((i + 1) * c, s))
                for i, c, s in zip(idx, chunks, shape)
            )
            trim = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            arr[sel] = chunk[trim]
        return arr

    ext = read_full("extreme_events").astype(bool)
    mask = read_full("mask").astype(bool)
    lat = read_full("lat").astype(np.float64)
    mask = mask & (lat[:, None] > -90.0) & (lat[:, None] < 85.0)
    return ext, mask


def main():
    ext, mask = _load_fixture()
    fields = preprocess_ref(ext, mask, r_fill=4, t_fill=2, q=0.5)
    ids, areas = np.unique(fields[fields > 0], return_counts=True)
    print(f"preprocess_ref: N_objects_relabelled={len(ids)}")
    for nn in (True, False):
        ledger, _ = simulate(fields, thr=0.5, nn=nn)
        print(f"nn={nn}: total_merges={len(ledger)}")
        for t, cids, pids, ovs in ledger:
            print(
                f"  t={t} parents={list(pids)} "
                f"children={list(cids)} ov={list(ovs)}"
            )


if __name__ == "__main__":
    main()
