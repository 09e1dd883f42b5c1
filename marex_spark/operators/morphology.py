"""Morphological preprocessing (SURVEY M1/M2/M3 + A11/P6 filtering) —
Spark-native re-expression of the reference's ``fill_holes`` /
``fill_time_gaps`` / ``filter_small_objects`` (track.py:1520-1906).

The reference runs C-backed ``binary_closing``/``binary_opening`` per
chunk (track.py:1630-1634). In long format, both primitives are
relational: **dilation** of the True set by a structuring element is an
offset-explode + distinct; **erosion** keeps cells whose whole SE
neighbourhood is True (a join + count). No UDF, no per-slice memory
limit, and the plans are plain shuffles Catalyst can schedule at any
scale. Longitude wraps (track.py:1617-1625 pad mode="wrap"); rows off
the y edge are treated as present (edge padding) so coastal/polar cells
are not eroded away — the reference's shore-protection rule
(track.py:1566-1577).

Unstructured (M2): dilation = R rounds of frontier-join over the
(cell, nbr) edge table — the relational form of the reference's sparse
boolean matrix power (track.py:5422-5468); erosion is its dual.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marex_spark.functions.temporal import epoch_day
from marex_spark.operators import timeblocks
from marex_spark.operators.label import label_slices_batch


def disk_offsets(radius: int) -> list[tuple[int, int]]:
    """Disk structuring element: all (dy, dx) with dy²+dx² ≤ R²
    (the reference's ``disk(R)`` SE, track.py:1627)."""
    r2 = radius * radius
    return [
        (dy, dx)
        for dy in range(-radius, radius + 1)
        for dx in range(-radius, radius + 1)
        if dy * dy + dx * dx <= r2
    ]


def _offsets_df(df: DataFrame, offsets: list[tuple[int, int]]):
    return F.explode(
        F.array(*[F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx")) for dy, dx in offsets])
    )


def binary_dilate(
    cells: DataFrame,
    radius: int,
    ny: int,
    nx: int,
    wrap_x: bool = True,
    time_col: str = "time",
) -> DataFrame:
    """Dilate the True-cell set by a disk SE: every cell within the SE
    of a True cell becomes True. (time, y, x) in → (time, y, x) out."""
    fan = cells.select(time_col, "y", "x", _offsets_df(cells, disk_offsets(radius)).alias("o"))
    yy = F.col("y") + F.col("o.dy")
    xx = (
        F.pmod(F.col("x") + F.col("o.dx"), F.lit(nx))
        if wrap_x
        else F.col("x") + F.col("o.dx")
    )
    out = fan.select(
        time_col, yy.cast("int").alias("y"), xx.cast("int").alias("x")
    ).filter((F.col("y") >= 0) & (F.col("y") < ny))
    if not wrap_x:
        out = out.filter((F.col("x") >= 0) & (F.col("x") < nx))
    return out.dropDuplicates([time_col, "y", "x"])


def binary_erode(
    cells: DataFrame,
    radius: int,
    ny: int,
    nx: int,
    wrap_x: bool = True,
    time_col: str = "time",
) -> DataFrame:
    """Erode the True-cell set: keep cells whose entire disk SE
    neighbourhood is True. Off-grid y neighbours count as True (edge
    padding — the shore-protection rule, track.py:1566-1577).

    Relational form: scatter each True cell to the SE positions it
    supports, then keep positions whose support count equals the number
    of in-bounds SE cells."""
    offsets = disk_offsets(radius)
    fan = cells.select(time_col, "y", "x", _offsets_df(cells, offsets).alias("o"))
    yy = F.col("y") + F.col("o.dy")
    xx = (
        F.pmod(F.col("x") + F.col("o.dx"), F.lit(nx))
        if wrap_x
        else F.col("x") + F.col("o.dx")
    )
    support = fan.select(
        time_col, yy.cast("int").alias("y"), xx.cast("int").alias("x")
    ).filter((F.col("y") >= 0) & (F.col("y") < ny))
    if not wrap_x:
        support = support.filter((F.col("x") >= 0) & (F.col("x") < nx))
    counts = support.groupBy(time_col, "y", "x").agg(F.count("*").alias("supp"))

    # required support at (y, x): SE cells that land in-bounds
    need_y = None
    for dy, dx in offsets:
        ok_y = (F.col("y") + F.lit(dy) >= 0) & (F.col("y") + F.lit(dy) < ny)
        ok = ok_y if wrap_x else ok_y & (F.col("x") + F.lit(dx) >= 0) & (
            F.col("x") + F.lit(dx) < nx
        )
        term = F.when(ok, 1).otherwise(0)
        need_y = term if need_y is None else need_y + term
    return (
        counts.join(cells.select(time_col, "y", "x"), [time_col, "y", "x"], "left_semi")
        .filter(F.col("supp") >= need_y)
        .select(time_col, "y", "x")
    )


def _dilate_np(g, offsets, wrap_x: bool):
    """Dense dilation by the SE offsets: zero padding in y (and x when
    not wrapping), np.roll for the periodic x. ``g`` is (ny, nx) or a
    (T, ny, nx) stack — rolls apply to the trailing two axes, so a
    whole partition of slices dilates in one pass (per-slice rolls were
    the preprocess stage's dominant Python overhead).

    A disk SE is row-separable: each dy contributes the contiguous dx
    run [-w(dy), +w(dy)], so the dilation is (shared incremental
    horizontal run-ORs) ∘ (one y-roll per dy) — ~16 array passes at
    R=4 instead of 49 offset rolls (and 38 vs 197 at the reference's
    default R=8), for the identical set union. Non-separable offset
    sets (never produced by disk_offsets) fall back to the plain
    shift-OR loop."""
    R = max(max(abs(dy), abs(dx)) for dy, dx in offsets)
    ny, nx = g.shape[-2:]
    lead = g.shape[:-2]
    ax_y, ax_x = g.ndim - 2, g.ndim - 1
    if wrap_x:
        p = np.zeros(lead + (ny + 2 * R, nx), dtype=bool)
        p[..., R : R + ny, :] = g
    else:
        p = np.zeros(lead + (ny + 2 * R, nx + 2 * R), dtype=bool)
        p[..., R : R + ny, R : R + nx] = g

    by_dy: dict[int, set] = {}
    for dy, dx in offsets:
        by_dy.setdefault(dy, set()).add(dx)
    separable = all(
        dxs == set(range(-max(dxs), max(dxs) + 1)) for dxs in by_dy.values()
    )
    if separable:
        widths = {dy: max(dxs) for dy, dxs in by_dy.items()}
        need = sorted(set(widths.values()))
        # horizontal run dilations, built incrementally: H[w] = p OR'd
        # with its x-shifts up to ±w (each width reuses the previous)
        H: dict[int, np.ndarray] = {}
        if need == [0]:
            H[0] = p
        else:
            acc = p.copy()
            if 0 in need:
                H[0] = p
            for w in range(1, need[-1] + 1):
                acc |= np.roll(p, w, axis=ax_x)
                acc |= np.roll(p, -w, axis=ax_x)
                if w in need:
                    H[w] = acc.copy() if w != need[-1] else acc
        out = np.zeros_like(p)
        for dy, w in widths.items():
            if dy == 0:
                out |= H[w]
            else:
                out |= np.roll(H[w], dy, axis=ax_y)
    else:
        out = np.zeros_like(p)
        for dy, dx in offsets:
            out |= np.roll(p, (dy, dx), axis=(ax_y, ax_x))
    if wrap_x:
        return out[..., R : R + ny, :]
    return out[..., R : R + ny, R : R + nx]


def _erode_np(g, offsets, wrap_x: bool):
    """Dense erosion via the complement identity erode(X) = ¬dilate(¬X):
    the dilation's zero padding makes off-grid cells count as PRESENT
    for erosion — exactly the relational form's shore-protection rule
    (in-bounds SE support only, track.py:1566-1577)."""
    return ~_dilate_np(~g, offsets, wrap_x)


def _close_open_np(g, offsets, wrap_x: bool):
    """Closing then opening of a dense slice stack by the SE offsets."""
    closed = _erode_np(_dilate_np(g, offsets, wrap_x), offsets, wrap_x)
    return _dilate_np(_erode_np(closed, offsets, wrap_x), offsets, wrap_x)


def _close_open_cells(slices, ys, xs, radius, ny, nx, wrap_x, batch_cells):
    """:func:`_close_open_np` on sparse cells sorted by slice, in dense
    stacks of whole slices capped at ``batch_cells`` grid cells (at
    least one slice)."""
    offsets = disk_offsets(radius)
    present, pos = np.unique(slices, return_inverse=True)
    per_stack = max(1, batch_cells // (ny * nx))
    out = []
    for k0 in range(0, len(present), per_stack):
        r0, r1 = np.searchsorted(pos, [k0, k0 + per_stack])
        g = np.zeros((min(per_stack, len(present) - k0), ny, nx), dtype=bool)
        g[pos[r0:r1] - k0, ys[r0:r1], xs[r0:r1]] = True
        tt, yy, xx = np.nonzero(_close_open_np(g, offsets, wrap_x))
        out.append((present[tt + k0], yy.astype(np.int32), xx.astype(np.int32)))
    if not out:
        return slices, ys, xs
    return tuple(np.concatenate(parts) for parts in zip(*out))


def _masked(valid, slices, ys, xs):
    """Cells on valid grid points only; ``valid`` is a dense (rows, nx)
    bool grid, rows past its end are invalid. ``None`` keeps all."""
    if valid is None:
        return slices, ys, xs
    ok = ys < valid.shape[0]
    ok[ok] = valid[ys[ok], xs[ok]]
    return slices[ok], ys[ok], xs[ok]


def _runs(start, n):
    """Concatenated ``arange(start[i], start[i] + n[i])``."""
    return np.repeat(start, n) + np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)


def _gap_cells(days, own, slices, ys, xs, t_fill, nx):
    """M3 on sparse cells (the numpy form of
    :func:`fill_time_gaps_true_set`): per grid cell, the ≤ ``t_fill``
    calendar days strictly between two consecutive True days, on the
    own slices of those days. Days with no slice (missing from the
    series) generate nothing."""
    key = ys.astype(np.int64) * nx + xs
    order = np.lexsort((slices, key))
    k, d = key[order], days[slices[order]]
    gap = d[1:] - d[:-1] - 1
    (i,) = np.nonzero((k[1:] == k[:-1]) & (gap >= 1) & (gap <= t_fill))
    g_day, g_key = _runs(d[i] + 1, gap[i]), np.repeat(k[i], gap[i])
    # a day holds 0 (missing), 1 or, for sub-daily series, more slices
    (own_idx,) = np.nonzero(own)
    lo = np.searchsorted(days[own_idx], g_day, "left")
    cnt = np.searchsorted(days[own_idx], g_day, "right") - lo
    g_slices = own_idx[_runs(lo, cnt)]
    g_key = np.repeat(g_key, cnt)
    return g_slices, (g_key // nx).astype(np.int32), (g_key % nx).astype(np.int32)


def _label_cells(slices, ys, xs, nx, connectivity, wrap_x, batch_cells):
    """Per-slice ids 1..k of cells sorted by slice, by
    :func:`label_slices_batch` over runs of whole slices capped at
    ``batch_cells`` rows (ids do not depend on the runs)."""
    ids = np.empty(len(slices), dtype=np.int32)
    _, starts = np.unique(slices, return_index=True)
    starts = np.r_[starts, len(slices)]
    lo = 0
    while lo < len(starts) - 1:
        fit = int(np.searchsorted(starts, starts[lo] + batch_cells, "right")) - 1
        hi = max(lo + 1, fit)
        r0, r1 = starts[lo], starts[hi]
        ids[r0:r1] = label_slices_batch(
            slices[r0:r1], ys[r0:r1], xs[r0:r1], nx=nx,
            connectivity=connectivity, wrap_x=wrap_x,
        )
        lo = hi
    return ids


def preprocess_block(
    days, own, slices, ys, xs, *, ny, nx, r_fill, t_fill, wrap_x=True,
    valid=None, connectivity=8, batch_cells,
):
    """The gridded preprocessing chain over one time block (the kernel
    of ``track.preprocess_extremes``; reference run_preprocess,
    track.py:1234-1368): close/open(R) → mask → gap fill (≤ ``t_fill``
    days) → close/open(R // 2) → mask → per-slice labels.

    Arguments follow ``timeblocks.map_time_blocks``: ``days``/``own``
    per slice, ``slices``/``ys``/``xs`` per True input cell. ``valid``
    is the dense mask grid of :func:`_masked`. Halo slices pass the
    first close/open and the mask, then only feed the gap fill; the
    output is own slices only: ``slices`` plus columns y, x,
    ``local_id`` (1..k per slice), ``n_cells`` (the cell count of the
    row's object, on every row) and ``head`` (true on one row per
    object). Without ``t_fill`` the refill does not run (as in
    the reference) and there is no halo. ``ny`` is only read when
    ``r_fill`` > 0. ``batch_cells`` caps each dense stack (grid cells)
    and labelling run (rows): the caller's
    ``timeblocks.SLICE_BATCH_CELLS``."""
    ys = ys.astype(np.int32, copy=False)
    xs = xs.astype(np.int32, copy=False)
    if r_fill > 0:
        slices, ys, xs = _close_open_cells(
            slices, ys, xs, r_fill, ny, nx, wrap_x, batch_cells
        )
    slices, ys, xs = _masked(valid, slices, ys, xs)
    if t_fill > 0:
        gs, gy, gx = _gap_cells(days, own, slices, ys, xs, t_fill, nx)
        mine = own[slices]
        slices = np.concatenate([slices[mine], gs])
        order = np.argsort(slices, kind="stable")
        slices = slices[order]
        ys = np.concatenate([ys[mine], gy])[order]
        xs = np.concatenate([xs[mine], gx])[order]
        if r_fill > 1:
            slices, ys, xs = _masked(
                valid,
                *_close_open_cells(
                    slices, ys, xs, r_fill // 2, ny, nx, wrap_x, batch_cells
                ),
            )
    ids = _label_cells(slices, ys, xs, nx, connectivity, wrap_x, batch_cells)
    _, first, inv, counts = np.unique(
        (slices.astype(np.int64) << 32) + ids,
        return_index=True, return_inverse=True, return_counts=True,
    )
    head = np.zeros(len(slices), dtype=bool)
    head[first] = True
    return slices, {
        "y": ys, "x": xs, "local_id": ids,
        "n_cells": counts[inv].astype(np.int32), "head": head,
    }


def morph_close_open_blocked(
    true_cells: DataFrame,
    radius: int,
    ny: int,
    nx: int,
    wrap_x: bool = True,
    time_col: str = "time",
) -> DataFrame:
    """Closing-then-opening over sparse True cells by a dense numpy
    kernel over whole slices (the scale form of the M1 pair: the
    reference runs C-backed binary_closing/opening per dask chunk,
    track.py:1630-1634; the relational offset-explode form pays a
    49-197× row fan-out per morphology op — measured 350 s for a
    35M-cell-day preprocess at R=4 vs ~seconds here). One shuffle by
    time; slices stay independent, same parallelism model as
    labelling. Semantics pinned equal to
    binary_erode(binary_dilate(...)) + the opening in
    tests/test_morphology.py.

    The kernel rolls a (T, ny, nx) stack of consecutive slices at once
    (per-slice rolls were pure Python overhead); a stack holds as many
    slices as fit ny·nx each into
    :data:`~marex_spark.operators.timeblocks.SLICE_BATCH_CELLS`, at
    least one."""
    offsets = disk_offsets(radius)

    def close_open(slices, cols):
        g = np.zeros((slices[-1] + 1, ny, nx), dtype=bool)
        g[slices, cols["y"], cols["x"]] = True
        tt, yy, xx = np.nonzero(_close_open_np(g, offsets, wrap_x))
        return tt, {"y": yy.astype(np.int32), "x": xx.astype(np.int32)}

    return timeblocks.map_time_slices(
        true_cells, time_col, close_open, "y int, x int", slice_cells=ny * nx
    )


def fill_holes(
    extremes: DataFrame,
    radius: int,
    ny: int,
    nx: int,
    wrap_x: bool = True,
    time_col: str = "time",
    extreme_col: str = "extreme",
    blocked: bool = True,
) -> DataFrame:
    """M1 (track.py:1520-1673): binary closing (fill holes ≤ R) then
    opening (remove specks ≤ R). Input: boolean long field (dense or
    sparse-True); output rows = input rows ∪ filled-in cells, so a
    sparse input keeps its fill-ins (a plain left join silently dropped
    them). ``blocked=True`` (default) runs the dense kernel of
    :func:`morph_close_open_blocked` over stacks of whole slices,
    capped at ``timeblocks.SLICE_BATCH_CELLS`` grid cells; ``False``
    keeps the pure-relational offset-explode form (the
    oracle-replayable algebra trk_m1 pins)."""
    true_cells = extremes.filter(F.col(extreme_col)).select(time_col, "y", "x")
    if blocked:
        opened = morph_close_open_blocked(
            true_cells, radius, ny, nx, wrap_x, time_col
        )
    else:
        closed = binary_erode(
            binary_dilate(true_cells, radius, ny, nx, wrap_x, time_col),
            radius, ny, nx, wrap_x, time_col,
        )
        opened = binary_dilate(
            binary_erode(closed, radius, ny, nx, wrap_x, time_col),
            radius, ny, nx, wrap_x, time_col,
        )
    marked = opened.withColumn("_t", F.lit(True))
    return (
        extremes.drop(extreme_col)
        .join(marked, [time_col, "y", "x"], "full")
        .withColumn(extreme_col, F.coalesce(F.col("_t"), F.lit(False)))
        .drop("_t")
    )


def fill_time_gaps(
    extremes: DataFrame,
    t_fill: int,
    time_col: str = "time",
    extreme_col: str = "extreme",
    keys: tuple[str, ...] = ("y", "x"),
) -> DataFrame:
    """M3 temporal closing (track.py:1675-1726): per cell, False gaps of
    ≤ ``t_fill`` days between two True samples become True. Pure window
    over epoch-day — no UDF, one shuffle by cell."""
    day = epoch_day(time_col)
    w_prev = Window.partitionBy(*keys).orderBy(day).rowsBetween(Window.unboundedPreceding, -1)
    w_next = Window.partitionBy(*keys).orderBy(day).rowsBetween(1, Window.unboundedFollowing)
    true_day = F.when(F.col(extreme_col), day)
    d = extremes.withColumn("_prev", F.last(true_day, ignorenulls=True).over(w_prev)).withColumn(
        "_next", F.first(true_day, ignorenulls=True).over(w_next)
    )
    gap_ok = (
        F.col("_prev").isNotNull()
        & F.col("_next").isNotNull()
        & ((F.col("_next") - F.col("_prev") - 1) <= t_fill)
    )
    return d.withColumn(
        extreme_col, F.col(extreme_col) | gap_ok
    ).drop("_prev", "_next")


def fill_time_gaps_true_set(
    trues: DataFrame,
    t_fill: int,
    timesteps: DataFrame,
    time_col: str = "time",
    keys: tuple[str, ...] = ("y", "x"),
) -> DataFrame:
    """M3 temporal closing on a sparse True set (track.py:1675-1726):
    per cell, GENERATE rows for the ≤ ``t_fill`` missing days strictly
    between consecutive True days. Output = trues ∪ generated rows.

    Equivalent to :func:`fill_time_gaps` on the densified field — for a
    day d between nearest True days p < d < n, the dense form flips the
    row iff n − p − 1 ≤ t_fill, and (p, n) is exactly the consecutive
    True pair whose gap this form explodes — but without materialising
    a single False row, which makes it the correct temporal closing for
    sparse-True pipelines (the dense form can only flip rows that
    exist, so on sparse input it silently skips any gap day with no
    row). ``timesteps`` supplies the day → time-value mapping (distinct
    times of the ORIGINAL series); generated days with no timestep
    anywhere in the data are dropped, matching the dense form, which
    has no row to flip there either. One shuffle (the per-cell window
    over True rows) + a broadcast join with the tiny timestep table."""
    day = epoch_day(time_col)
    tsteps = timesteps.select(day.alias("_d"), time_col).distinct()
    w = Window.partitionBy(*keys).orderBy("_d")
    gaps = (
        trues.select(*keys, day.alias("_d"))
        .withColumn("_n", F.lead("_d").over(w))
        .filter(
            F.col("_n").isNotNull()
            & (F.col("_n") - F.col("_d") > 1)
            & (F.col("_n") - F.col("_d") - 1 <= t_fill)
        )
        .select(
            *keys,
            F.explode(F.sequence(F.col("_d") + 1, F.col("_n") - 1)).alias("_d"),
        )
    )
    gap_rows = gaps.join(F.broadcast(tsteps), "_d").select(time_col, *keys)
    return trues.select(time_col, *keys).unionByName(gap_rows)


def dilate_unstructured(
    cells: DataFrame,
    edges: DataFrame,
    radius: int,
    time_col: str = "time",
) -> DataFrame:
    """M2 dilation on a mesh: R rounds of frontier-join over the
    symmetric (cell, nbr) edge table (sparse_bool_power,
    track.py:5422-5468). Each round one broadcast/shuffle join +
    distinct."""
    sym = edges.select("cell", "nbr").union(
        edges.select(F.col("nbr").alias("cell"), F.col("cell").alias("nbr"))
    ).distinct()
    out = cells.select(time_col, "cell")
    for _ in range(radius):
        grown = out.join(sym, "cell").select(time_col, F.col("nbr").alias("cell"))
        out = out.union(grown).dropDuplicates([time_col, "cell"])
    return out


def erode_unstructured(
    cells: DataFrame,
    edges: DataFrame,
    radius: int,
    time_col: str = "time",
) -> DataFrame:
    """M2 erosion = ¬dilate(¬x) (track.py:1596-1606). On the sparse True
    set: a cell survives iff no missing cell lies within R hops — i.e.
    it is NOT in the dilation of the complement. Computed without
    materialising the complement: drop cells whose R-hop neighbourhood
    has any missing member, iteratively (cells adjacent to a missing
    neighbour are removed each round)."""
    sym = edges.select("cell", "nbr").union(
        edges.select(F.col("nbr").alias("cell"), F.col("cell").alias("nbr"))
    ).distinct()
    deg = sym.groupBy("cell").agg(F.count("*").alias("deg"))
    out = cells.select(time_col, "cell")
    for _ in range(radius):
        # neighbours present per cell; survives iff all neighbours present
        nbr_present = (
            out.join(sym, "cell")
            .select(time_col, F.col("nbr").alias("cell"))
            .groupBy(time_col, "cell")
            .agg(F.count("*").alias("have"))
        )
        out = (
            out.join(nbr_present, [time_col, "cell"], "left")
            .join(F.broadcast(deg), "cell", "left")
            .filter(F.coalesce(F.col("have"), F.lit(0)) >= F.coalesce(F.col("deg"), F.lit(0)))
            .select(time_col, "cell")
        )
    return out


def filter_small_objects(
    extremes: DataFrame,
    nx: int,
    area_quartile: float = 0.5,
    time_col: str = "time",
    extreme_col: str = "extreme",
    wrap_x: bool = True,
    grid_area: DataFrame | None = None,
    min_area: float | None = None,
    return_labels: bool = False,
    connectivity: int = 8,
    drop_first_object: bool = False,
) -> DataFrame:
    """Small-object filter (track.py:1755-1906): label per time (M4),
    object areas (A9), percentile threshold over object areas (A11) OR
    an absolute floor (the reference's ``area_filter_absolute``),
    semi-join keep (P6). Returns the boolean field with small objects
    switched off.

    ``drop_first_object``: replicate the reference's structured-grid
    quirk (track.py:1891-1892 ``object_ids_keep[0] = -1  # Don't keep
    ID=0``): regionprops never emits background 0, so that line
    unconditionally discards the props table's FIRST row — object ID 1,
    a real object — from the kept set. Its test pins bake the quirk in
    (e.g. q=0.0 filtering reports 1046 → 1045). The Tracker facade
    passes True for drop-in parity; the engine default keeps every
    object above threshold.

    ``return_labels=True`` returns the surviving LABELLED cells
    (time, y, x, obj_id) instead of the boolean field: dropping whole
    components never splits or merges the others, so these labels are
    valid tracking input as-is — the caller skips the second
    labelling pass ``track_events`` would otherwise run (one full
    shuffle + kernel pass over all extreme cells saved; only the
    obj-id NUMBERING differs from relabelling the filtered field)."""
    from marex_spark.operators.label import label_components
    from marex_spark.operators.overlap import object_areas

    labels = label_components(
        extremes, nx=nx, time_col=time_col, extreme_col=extreme_col,
        wrap_x=wrap_x, connectivity=connectivity,
    )
    if grid_area is not None:
        labels_a = labels.join(F.broadcast(grid_area), ["y", "x"])
        areas = object_areas(labels_a, time_col=time_col, area_col="area")
    else:
        areas = object_areas(labels, time_col=time_col)
    if min_area is not None:
        keep = areas.filter(F.col("area") >= float(min_area)).select("obj_id")
    else:
        thr = areas.agg(
            F.percentile("area", F.lit(area_quartile)).alias("thr")
        )
        keep = (
            areas.crossJoin(F.broadcast(thr))
            .filter(F.col("area") >= F.col("thr"))
            .select("obj_id")
        )
    if drop_first_object:
        first = areas.agg(F.min("obj_id").alias("_first"))
        keep = (
            keep.crossJoin(F.broadcast(first))
            .filter(F.col("obj_id") != F.col("_first"))
            .select("obj_id")
        )
    kept_cells = labels.join(keep, "obj_id", "left_semi")
    if return_labels:
        return kept_cells.select(time_col, "y", "x", "obj_id")
    kept_cells = kept_cells.withColumn("_k", F.lit(True))
    return (
        extremes.drop(extreme_col)
        .join(kept_cells.select(time_col, "y", "x", "_k"), [time_col, "y", "x"], "left")
        .withColumn(extreme_col, F.coalesce(F.col("_k"), F.lit(False)))
        .drop("_k")
    )


def morph_close_open_unstructured(
    true_cells: DataFrame,
    edges: DataFrame,
    radius: int,
    refill_radius: int = 0,
    time_col: str = "time",
    max_driver_edges: int = 50_000_000,
    symmetrize: bool = True,
) -> DataFrame:
    """Mesh closing-then-opening as ONE kernel pass (the scale form of
    the M2 chain; reference sparse_bool_power, track.py:5422-5468 —
    which likewise ships the adjacency to every worker and runs the
    boolean matvec in-process per slice).

    The frontier-join form (:func:`dilate_unstructured` /
    :func:`erode_unstructured`) pays 2-3 shuffles PER HOP — a closing +
    opening at R hops is ~10·R shuffle stages. Here the symmetric edge
    list collects once (mesh topology is static metadata — refuse above
    ``max_driver_edges``), ships in the task closure, and every slice
    runs the whole chain as E-length bincount passes: dilation adds
    cells with any present neighbour, erosion drops cells with any
    missing neighbour — identical sets to the join form (pinned in
    tests/test_unstructured.py). One shuffle by time, total.

    ``refill_radius`` > 0 appends a second closing+opening at that
    radius (the reference's post-gap-fill ``fill_holes(R_fill // 2)``)
    in the same pass.

    ``symmetrize=False`` uses the edge table AS GIVEN (directed) — the
    reference's sparse dilation matrix is built from the raw neighbour
    lists without symmetrising (track.py:1095-1115), and real mesh
    fixtures carry asymmetric boundary rows (~7% of edges on the
    reference's 405-cell mesh), so the Tracker facade passes False for
    parity. The default keeps the engine contract (one-directional
    edge tables welcome).
    """
    n_edges = edges.count()
    if n_edges > max_driver_edges:
        raise ValueError(
            f"mesh edge table ({n_edges} rows) exceeds the driver budget "
            f"({max_driver_edges}); use the frontier-join operators"
        )
    epdf = edges.select("cell", "nbr").toPandas()
    u0 = epdf["cell"].to_numpy(np.int64)
    v0 = epdf["nbr"].to_numpy(np.int64)
    if symmetrize:
        uu = np.concatenate([u0, v0])
        vv = np.concatenate([v0, u0])
    else:  # directed, as the reference's A @ p matvec uses it
        uu, vv = u0, v0
    key = uu * (max(int(uu.max()), int(vv.max())) + 2) + vv
    _, idx = np.unique(key, return_index=True)
    uu, vv = uu[idx], vv[idx]
    n_mesh = max(int(uu.max()), int(vv.max())) + 1

    def close_open(slices, cols):
        cs = cols["cell"]
        nc = max(n_mesh, int(cs.max()) + 1)

        def dilate(p):
            grown = np.bincount(uu, weights=p[vv], minlength=nc) > 0
            return p | grown

        def erode(p):
            missing = np.bincount(uu, weights=(~p)[vv], minlength=nc) > 0
            return p & ~missing

        bounds = np.searchsorted(slices, np.arange(slices[-1] + 2))
        out_t, out_c = [], []
        for ti in range(len(bounds) - 1):
            p = np.zeros(nc, dtype=bool)
            p[cs[bounds[ti] : bounds[ti + 1]]] = True
            for r in (radius, refill_radius):
                if r <= 0:
                    continue
                for _ in range(r):
                    p = dilate(p)
                for _ in range(2 * r):
                    p = erode(p)
                for _ in range(r):
                    p = dilate(p)
            (keep,) = np.nonzero(p)
            out_t.append(np.full(len(keep), ti))
            out_c.append(keep.astype(np.int64))
        return np.concatenate(out_t), {"cell": np.concatenate(out_c)}

    return timeblocks.map_time_slices(true_cells, time_col, close_open, "cell long")
