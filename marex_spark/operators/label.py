"""Per-timestep connected-component labelling (SURVEY M4/M6) and global
ID assignment (W6).

Reference: marEx labels each 2-D slice with dask_image/scipy
(track.py:2007-2046) and offsets IDs per time (track.py:2762-2766).
scipy isn't in this image, so the per-slice kernel is a pure-numpy
union-find (hooking + pointer-doubling on the sparse edge list) run by
``timeblocks.map_time_slices`` — one ``mapInArrow`` stream over cells
hash-partitioned by time, so slices never split: the same
chunk-function-chunk contract as the reference's ``xr.apply_ufunc``.
The label-propagation alternative (pure DataFrame, M5) lives in
components.py for the cross-time case.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.operators import timeblocks


def _cc_edges(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Connected components over an undirected edge list: vectorized
    min-hooking + pointer doubling. Returns root label (min member
    index) per node; O(E·log V) total work, no Python per-node loop."""
    labels = np.arange(n, dtype=np.int64)
    if len(u) == 0:
        return labels
    while True:
        m = np.minimum(labels[u], labels[v])
        before = labels.copy()
        np.minimum.at(labels, u, m)
        np.minimum.at(labels, v, m)
        # pointer doubling: label ← label[label] until stable this round
        for _ in range(4):
            labels = labels[labels]
        if np.array_equal(labels, before):
            break
    return labels


def label_slice(
    ys: np.ndarray,
    xs: np.ndarray,
    nx: int,
    connectivity: int = 8,
    wrap_x: bool = True,
) -> np.ndarray:
    """Label the True cells of one 2-D slice, sparse form.

    IDs are 1..k, ordered by each component's minimum flat index
    (deterministic — SURVEY §7.3 ID-determinism requirement).
    Longitude wrap (track.py:2026-2030 wrap_axes) is an extra set of
    seam edges, not a relabel pass.
    """
    n = len(ys)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    BIG = nx + 2  # avoid key collisions while allowing x+1 == nx (wrap)
    key = ys.astype(np.int64) * BIG + xs.astype(np.int64)
    order = np.argsort(key)
    skey = key[order]
    lookup_key = skey
    offsets = [(0, 1), (1, 0)]
    if connectivity == 8:
        offsets += [(1, 1), (1, -1)]
    us, vs = [], []
    for dy, dx in offsets:
        ny2 = ys + dy
        if wrap_x:
            nx2 = (xs + dx) % nx
        else:
            nx2 = xs + dx
            valid_x = (nx2 >= 0) & (nx2 < nx)
        nkey = ny2.astype(np.int64) * BIG + nx2.astype(np.int64)
        pos = np.searchsorted(lookup_key, nkey)
        pos_c = np.clip(pos, 0, n - 1)
        hit = lookup_key[pos_c] == nkey
        if not wrap_x:
            hit &= valid_x
        src = np.nonzero(hit)[0]
        dst = order[pos_c[hit]]
        us.append(src)
        vs.append(dst)
    u = np.concatenate(us)
    v = np.concatenate(vs)
    roots = _cc_edges(n, u, v)
    # compact to 1..k ordered by each component's min (y,x) flat key —
    # input-row order must not leak into IDs (SURVEY §7.3 determinism)
    uniq, inv = np.unique(roots, return_inverse=True)
    comp_min_key = np.full(len(uniq), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(comp_min_key, inv, key)
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[np.argsort(comp_min_key)] = np.arange(len(uniq))
    return (rank[inv] + 1).astype(np.int32)


def label_slices_batch(
    tidx: np.ndarray,
    ys: np.ndarray,
    xs: np.ndarray,
    nx: int,
    connectivity: int = 8,
    wrap_x: bool = True,
) -> np.ndarray:
    """Vectorized multi-slice :func:`label_slice`: cells from MANY time
    slices labelled in one numpy pipeline (``tidx`` = dense slice
    codes). The slice index prefixes the sort key, so neighbour lookups
    never cross slices and one union-find covers the whole batch;
    per-slice ids (1..k ordered by min flat key within the slice) come
    out identical to the per-slice kernel (pinned in tests/test_label.py).
    Replaces the per-timestep Python loop that dominated the labelling
    stage (~10k tiny groupby iterations per century partition)."""
    n = len(ys)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    BIG = nx + 2
    t64 = tidx.astype(np.int64)
    flat = ys.astype(np.int64) * BIG + xs.astype(np.int64)
    M = (int(ys.max()) + 2) * BIG  # strictly > any (y+dy)*BIG + x key
    key = t64 * M + flat
    order = np.argsort(key)
    skey = key[order]
    offsets = [(0, 1), (1, 0)]
    if connectivity == 8:
        offsets += [(1, 1), (1, -1)]
    us, vs = [], []
    for dy, dx in offsets:
        ny2 = ys + dy
        if wrap_x:
            nx2 = (xs + dx) % nx
        else:
            nx2 = xs + dx
            valid_x = (nx2 >= 0) & (nx2 < nx)
        nkey = t64 * M + ny2.astype(np.int64) * BIG + nx2.astype(np.int64)
        pos = np.searchsorted(skey, nkey)
        pos_c = np.clip(pos, 0, n - 1)
        hit = skey[pos_c] == nkey
        if not wrap_x:
            hit &= valid_x
        us.append(np.nonzero(hit)[0])
        vs.append(order[pos_c[hit]])
    roots = _cc_edges(n, np.concatenate(us), np.concatenate(vs))
    uniq, inv = np.unique(roots, return_inverse=True)
    comp_min = np.full(len(uniq), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(comp_min, inv, key)
    # rank components within their slice by min key (comp_min sorts by
    # slice first — the t*M prefix dominates)
    sidx = np.argsort(comp_min)
    t_sorted = comp_min[sidx] // M
    first = np.r_[True, t_sorted[1:] != t_sorted[:-1]]
    starts = np.nonzero(first)[0]
    run_id = np.cumsum(first) - 1
    within = np.arange(len(uniq)) - starts[run_id]
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[sidx] = within
    return (rank[inv] + 1).astype(np.int32)


def _global_ids(
    local: DataFrame, time_col: str, keys: list[str], materialize: bool = True
) -> DataFrame:
    """W6 (track.py:2762-2766): per-slice ``local_id`` + the cumulative
    per-time max offset → dense, deterministic global ``obj_id``.

    The kernel output is checkpointed because both the offset table and
    the final join read it. The final output is checkpointed too (unless
    ``materialize=False``, for plan pins that inspect the join shape):
    every consumer (overlap self-join, object areas, the chunked
    resolver's per-chunk paging loop) would otherwise re-run the offsets
    agg + broadcast join per action — ≈0.6 s × 18 chunks at the sf0.1
    bench."""
    from marex_spark.operators.overlap import cumulative_offsets

    local = local.localCheckpoint()
    per_time_max = local.groupBy(time_col).agg(F.max("local_id").alias("max_id"))
    offsets = cumulative_offsets(per_time_max, time_col, "max_id")
    out = local.join(F.broadcast(offsets), time_col).select(
        time_col,
        *keys,
        (F.col("local_id") + F.col("id_offset")).cast("long").alias("obj_id"),
    )
    return out.localCheckpoint() if materialize else out


def label_components(
    extremes: DataFrame,
    nx: int,
    time_col: str = "time",
    connectivity: int = 8,
    wrap_x: bool = True,
    extreme_col: str = "extreme",
    materialize: bool = True,
) -> DataFrame:
    """Boolean field → per-time labelled objects, globally unique IDs.

    Returns (time, y, x, obj_id) for True cells only. Per-time local
    labels come from the vectorized multi-slice kernel
    (:func:`label_slices_batch`, one union-find per run of slices);
    global uniqueness via the W6 cumulative-max-offset window
    (track.py:2762-2766) — IDs stay dense and deterministic.

    ``materialize=False`` returns the un-checkpointed logical plan
    (plan pins in tests/test_plans.py inspect the join shape, which a
    checkpoint's LogicalRDD would hide).
    """
    pts = extremes.filter(F.col(extreme_col)).select(time_col, "y", "x")

    def label(slices, cols):
        ys = cols["y"].astype(np.int32, copy=False)
        xs = cols["x"].astype(np.int32, copy=False)
        ids = label_slices_batch(
            slices, ys, xs, nx=nx, connectivity=connectivity, wrap_x=wrap_x
        )
        return slices, {"y": ys, "x": xs, "local_id": ids}

    local = timeblocks.map_time_slices(
        pts, time_col, label, "y int, x int, local_id int"
    )
    return _global_ids(local, time_col, ["y", "x"], materialize)


def label_components_unstructured(
    extremes: DataFrame,
    edges: DataFrame,
    time_col: str = "time",
    extreme_col: str = "extreme",
) -> DataFrame:
    """M6: per-time labelling on an unstructured mesh (reference
    track.py:1947-2005 sparse boolean matrix labelling).

    Builds the per-timestep INDUCED subgraph (two joins of the edge
    table against the active set) and runs the numpy union-find per
    slice — the same runner and kernel as the structured M4 path. The
    edge table is never broadcast and each slice's work is proportional
    to its active cells + induced edges. Component label = min member
    cell id, densified per time, globally offset (W6).
    """
    active = extremes.filter(F.col(extreme_col)).select(time_col, "cell")
    # every active cell streams as a self-loop, so a slice's node set is
    # its distinct ``cell`` values and isolated cells stay in it
    e_act = (
        edges.select("cell", "nbr")
        .join(active, "cell")
        .join(
            active.select(time_col, F.col("cell").alias("nbr")),
            [time_col, "nbr"],
        )
    )
    stream = active.select(
        time_col, F.col("cell").cast("long"), F.col("cell").cast("long").alias("nbr")
    ).unionByName(
        e_act.select(time_col, F.col("cell").cast("long"), F.col("nbr").cast("long"))
    )

    def label(slices, cols):
        cell, nbr = cols["cell"], cols["nbr"]
        bounds = np.searchsorted(slices, np.arange(slices[-1] + 2))
        out_t, out_c, out_id = [], [], []
        for ti in range(len(bounds) - 1):
            lo, hi = bounds[ti], bounds[ti + 1]
            cells = np.unique(cell[lo:hi])
            u = np.searchsorted(cells, cell[lo:hi])
            v = np.searchsorted(cells, nbr[lo:hi])
            # local ids 1..k ordered by each component's min cell id
            # (cells sorted → root index order IS min-cell order)
            _, local = np.unique(_cc_edges(len(cells), u, v), return_inverse=True)
            out_t.append(np.full(len(cells), ti))
            out_c.append(cells)
            out_id.append((local + 1).astype(np.int32))
        return np.concatenate(out_t), {
            "cell": np.concatenate(out_c),
            "local_id": np.concatenate(out_id),
        }

    local = timeblocks.map_time_slices(
        stream, time_col, label, "cell long, local_id int"
    )
    return _global_ids(local, time_col, ["cell"])
