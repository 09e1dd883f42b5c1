"""Split/merge event tracking (SURVEY M8-M10 + J9) — the Spark port of
the reference's ``split_and_merge_objects`` serial mode
(track.py:3337-3802) with centroid-based child partitioning
(track.py:5357-5419 / 4827-4884) and t-2→t-1 ID consolidation
(track.py:2554-2656).

The per-timestep resolution loop is inherently sequential in time
(timestep t's labels depend on t-1's post-partitioning labels); its
kernel runs over the *sparse* labelled cells (only extreme cells,
id > 0), vectorised with numpy per transition, and only ever needs
the previous page's last two slices plus the small props dicts.
Everything before (labelling, morphology) and after (remap, stats)
stays distributed. The kernel also emits the post-resolution link
graph — the overlap pairs of consecutive final slices, computed from
the slices it already holds, as the reference links from its
chunk-local overlaps (track.py:2396-2452, 2876-2883) — so event
linking needs no Spark overlap join.

One engine runs that kernel (:func:`_resolve_block`):
:func:`split_merge_events`, the reference's serial chunk loop
(track.py:3377-3420). It pages cell-budgeted runs of whole timesteps
onto the driver (at most :data:`TARGET_BLOCK_CELLS` sparse cells per
page) and is also the resume path of incremental extension. The
reference's batched iteration tier (track.py:3804-4814) has no
counterpart here: a Jacobi block form over the same kernel was slower
than the paged loop on every input measured (up to 1.19M cells at 4
cores; long series at many cores were not compared, ROADMAP item 2).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.logging_config import get_logger
from marex_spark.operators import components

_log = get_logger(__name__)


# --------------------------------------------------------------- kernels


def _slice_overlaps(ids_a: dict, ids_b: dict) -> np.ndarray:
    """Overlap pairs between two sparse labelled slices
    (check_overlap_slice, track.py:2396-2452): rows [id_a, id_b,
    overlap_cells], sorted by (id_a, id_b). Each slice is a dict
    {key: flat int64 cell key array, id: int64 label array}."""
    ka, kb = ids_a["key"], ids_b["key"]
    common, ia, ib = np.intersect1d(ka, kb, assume_unique=True, return_indices=True)
    if len(common) == 0:
        return np.empty((0, 3), dtype=np.int64)
    pa = ids_a["id"][ia]
    pb = ids_b["id"][ib]
    # encode pairs via compact per-slice indices, NOT raw ids: raw-id
    # encoding (pa * max_id + pb) overflows int64 once ids exceed
    # ~3e9, which a 100 TB label space does
    ua, ia_inv = np.unique(pa, return_inverse=True)
    ub, ib_inv = np.unique(pb, return_inverse=True)
    m = len(ub)
    code = ia_inv.astype(np.int64) * m + ib_inv
    uniq, counts = np.unique(code, return_counts=True)
    return np.column_stack(
        (ua[uniq // m], ub[uniq % m], counts)
    ).astype(np.int64)


def _overlap_keep(
    overlap: np.ndarray, area_a: np.ndarray, area_b: np.ndarray, threshold: float
) -> np.ndarray:
    """M8 keep-mask: overlap / min(area_a, area_b) ≥ threshold in
    float64 (enforce_overlap_threshold, track.py:2506-2552) — the same
    division form as ``overlap.filter_overlap_fraction``, so resolver
    and linker decide a boundary pair alike (the multiplied form
    ``overlap ≥ θ·min`` drops 55/100 at θ = 0.55)."""
    with np.errstate(divide="ignore"):
        frac = overlap / np.minimum(area_a, area_b).astype(np.float64)
    return frac >= threshold


def _apply_threshold(pairs: np.ndarray, areas: dict, threshold: float) -> np.ndarray:
    """M8 gate over the resolver's live props: keep pairs with
    overlap / min(area_a, area_b) ≥ threshold."""
    if len(pairs) == 0 or threshold <= 0:
        return pairs
    a0 = np.array([areas.get(int(i), 0) for i in pairs[:, 0]], dtype=np.float64)
    a1 = np.array([areas.get(int(i), 0) for i in pairs[:, 1]], dtype=np.float64)
    return pairs[_overlap_keep(pairs[:, 2], a0, a1, threshold)]


def _link_pairs(slices: list[dict], threshold: float) -> list[np.ndarray]:
    """The post-resolution link graph of a run of consecutive FINAL
    slices, one array of rows [id_t, id_next, overlap_cells] per pair
    of neighbouring slices — what ``overlap_pairs`` + ``object_areas`` +
    ``filter_overlap_fraction`` compute over the resolved labels, here
    straight from the resolver's slices. An object's area is its cell
    count in its own slice (objects live in one timestep); the gate
    applies only when ``threshold > 0``, as in ``track_events``."""
    out = []
    counts = [np.unique(sl["id"], return_counts=True) for sl in slices]
    for i in range(len(slices) - 1):
        pairs = _slice_overlaps(slices[i], slices[i + 1])
        if len(pairs) and threshold > 0:
            (ua, ca), (ub, cb) = counts[i], counts[i + 1]
            area_a = ca[np.searchsorted(ua, pairs[:, 0])]
            area_b = cb[np.searchsorted(ub, pairs[:, 1])]
            pairs = pairs[_overlap_keep(pairs[:, 2], area_a, area_b, threshold)]
        out.append(pairs)
    return out


def _centroid(ys: np.ndarray, xs: np.ndarray, nx: int, wrap_x: bool) -> tuple[float, float]:
    """Pixel centroid with the reference's seam rule (calculate_centroid,
    track.py:2045-2102): plain means, except x coordinates above nx//2
    shift by -nx when the object has any cell within 100 columns of
    either x edge (then +nx if the mean lands negative). Replaces an
    earlier circular-mean (atan2) form: the reference's shift rule is
    what its partitioning actually uses, and it is bit-exact to replay
    in SQL (integer-valued sums + one division — no libm)."""
    cy = float(ys.mean())
    if not wrap_x:
        return cy, float(xs.mean())
    if np.any(xs < 100) and np.any(xs >= nx - 100):
        xa = xs.astype(np.float64).copy()
        xa[xs > nx // 2] -= nx
        cx = float(xa.mean())
        if cx < 0:
            cx += nx
    else:
        cx = float(xs.mean())
    return cy, cx


def _wrapped_dist2(
    ys: np.ndarray, xs: np.ndarray, cy: float, cx: float, nx: int, wrap_x: bool
) -> np.ndarray:
    """Squared wrapped-Euclidean pixel distance
    (wrapped_euclidian_distance_mask_parallel, track.py:4827-4884)."""
    dy = ys - cy
    dx = np.abs(xs - cx)
    if wrap_x:
        dx = np.minimum(dx, nx - dx)
    return dy * dy + dx * dx


def _centroid_sphere(lats: np.ndarray, lons: np.ndarray) -> tuple[float, float]:
    """Spherical centroid via mean Cartesian unit vector (A10,
    track.py:2195-2230) — dateline-safe by construction."""
    la, lo = np.radians(lats), np.radians(lons)
    x = np.cos(la) * np.cos(lo)
    y = np.cos(la) * np.sin(lo)
    z = np.sin(la)
    mx, my, mz = x.mean(), y.mean(), z.mean()
    return (
        float(np.degrees(np.arctan2(mz, np.hypot(mx, my)))),
        float(np.degrees(np.arctan2(my, mx))),
    )


def _haversine2(
    lats: np.ndarray, lons: np.ndarray, clat: float, clon: float
) -> np.ndarray:
    """Haversine distance (track.py:5406-5411), squared-comparable
    (monotone), to parent centroid."""
    la1, lo1 = np.radians(lats), np.radians(lons)
    la2, lo2 = np.radians(clat), np.radians(clon)
    a = (
        np.sin((la2 - la1) / 2) ** 2
        + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    )
    return a  # asin/scale are monotone — argmin unchanged


def _min_dist_to_members(
    c1: np.ndarray,
    c2: np.ndarray,
    m1: np.ndarray,
    m2: np.ndarray,
    grid: bool,
    nx: int,
    wrap_x: bool,
    chunk: int = 4096,
    block: int | None = None,
    cap2: float | None = None,
    ny: int = 0,
) -> np.ndarray:
    """Distance from each child cell to the NEAREST member cell of one
    parent (the nn-partitioning metric, partition_nn_grid
    track.py:4973-5113 / partition_nn_unstructured 5117-5242).
    Vectorised pairwise blocks — no KD-tree dependency.

    Grid mode replicates the reference's BLOCK-WINDOWED search
    (track.py:5014,5040-5056): only parent points inside the 3×3
    window of ``block``-sized grid blocks around the child's block are
    candidates, BOTH block axes wrapping via modulo exactly like the
    reference (``(grid + d) % n_grids``, track.py:5046/5050 — the x
    block axis wraps even when the distance itself is unwrapped), and
    candidates beyond sqrt(``cap2``) are discarded (track.py:5062).
    ``ny`` (domain height) sizes the y-block ring; without it (``0``)
    the y axis cannot wrap — callers that know the grid shape must
    pass it, otherwise short-y domains (ny ≤ 4·block + max_distance)
    can miss cross-edge candidates the reference admits. Cells with no
    candidate return inf — the caller falls back to the nearest parent
    CENTROID, unbounded (track.py:5224-5238)."""
    out = np.full(len(c1), np.inf)
    if grid and block is not None:
        bc1 = c1 // block
        bc2 = c2 // block
        ngx = -(-nx // block)  # ceil
        ngy = -(-ny // block) if ny > 0 else 0
    for s in range(0, len(m1), chunk):
        p1 = m1[s : s + chunk]
        p2 = m2[s : s + chunk]
        if grid:
            dy = c1[:, None] - p1[None, :]
            dx = np.abs(c2[:, None] - p2[None, :])
            if wrap_x:
                dx = np.minimum(dx, nx - dx)
            d = dy * dy + dx * dx
            if block is not None:
                bdy = np.abs(bc1[:, None] - (p1[None, :] // block))
                if ngy:
                    bdy = np.minimum(bdy, ngy - bdy)
                bdx = np.abs(bc2[:, None] - (p2[None, :] // block))
                bdx = np.minimum(bdx, ngx - bdx)
                d = np.where((bdy <= 1) & (bdx <= 1), d, np.inf)
            if cap2 is not None:
                d = np.where(d <= cap2, d, np.inf)
        else:
            la1 = np.radians(c1)[:, None]
            lo1 = np.radians(c2)[:, None]
            la2 = np.radians(p1)[None, :]
            lo2 = np.radians(p2)[None, :]
            d = (
                np.sin((la2 - la1) / 2) ** 2
                + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
            )
        out = np.minimum(out, d.min(axis=1))
    return out


# Driver-side mesh-adjacency budget: a CSR of E edges is ~16E bytes
# (indices + indptr); 2e8 edges ≈ 3.2 GB — past that the collect (and
# every task closure / broadcast carrying it) is the wrong design and
# the resolver fails fast instead of paging the driver into the ground.
MESH_ADJ_EDGE_BUDGET = 200_000_000


class MeshAdj(NamedTuple):
    """CSR mesh adjacency (+ optional per-cell physical areas) shipped
    into resolver kernels. ``indices`` preserves the per-cell edge
    INPUT order, so slot k of cell c is ``indices[indptr[c] + k]`` —
    the reference's ``neighbours_int[k, c]`` (track.py:5117-5242)."""

    indptr: np.ndarray
    indices: np.ndarray
    cell_areas: np.ndarray | None = None  # dense, indexed by cell id
    mean_cell_area: float = 0.0  # reference self.mean_cell_area

    def nbytes(self) -> int:
        n = self.indptr.nbytes + self.indices.nbytes
        if self.cell_areas is not None:
            n += self.cell_areas.nbytes
        return n


def _collect_mesh_adj(
    mesh_edges, cell_geo=None, edge_budget: int | None = None
) -> MeshAdj:
    """Driver-side (cell, nbr) edge collect → CSR adjacency, sized by
    the max cell id seen across edges and geometry. The edge table is
    metadata-scale relative to the cell series (≤3 nbrs/cell on the
    reference's triangular meshes — the reference itself builds the
    same driver-side sparse matrix, track.py:1094-1117); an edge
    budget (default :data:`MESH_ADJ_EDGE_BUDGET`) fail-fasts before a
    production-scale mesh is paged onto the driver. When ``cell_geo``
    carries an ``area`` column, per-cell physical areas ride along so
    the NN hop cap can use the reference's area/mean_cell_area form
    (track.py:3494-3497) instead of integer member counts.

    When ``mesh_edges`` carries a ``slot`` column (the neighbour's
    row index in the dataset's (n_nbr, cells) neighbours array), the
    CSR is SLOT-PADDED: uniform stride, -1 at missing slots, so
    ``indices[indptr[c] + k]`` is exactly the reference's
    ``neighbours_int[k, c]``. Under the adjudicated ONE-HOP-per-round
    BFS (see :func:`_partition_nn_mesh_hops`) padded and compact CSRs
    give identical assignments — the padding's value is the 1:1
    layout mapping for diagnostics against the reference arrays, and
    it is what a chained-expansion variant would need if the
    adjudication ever flips."""
    n_edges = mesh_edges.count()
    limit = MESH_ADJ_EDGE_BUDGET if edge_budget is None else edge_budget
    if limit and n_edges > limit:
        from marex_spark.exceptions import TrackingError

        raise TrackingError(
            f"mesh adjacency has {n_edges:,} edges — collecting it to "
            f"the driver (budget {limit:,}) would build a multi-GB "
            "CSR there; partition the mesh or raise "
            "marex_spark.operators.merge.MESH_ADJ_EDGE_BUDGET if the "
            "driver really has the memory",
            details={"n_edges": int(n_edges), "budget": int(limit)},
        )
    has_slots = "slot" in mesh_edges.columns
    # Arrow collect + vectorised numpy: a row-object .collect() of 1e8
    # edges costs ~20x the CSR in boxed Python objects — the budget
    # above sizes the ARRAYS, so the transfer has to stay array-shaped
    cols = ("cell", "nbr", "slot") if has_slots else ("cell", "nbr")
    epdf = mesh_edges.select(*cols).toPandas()
    src = epdf["cell"].to_numpy(np.int64)
    dst = epdf["nbr"].to_numpy(np.int64)
    n = None
    areas = None
    mean_area = 0.0
    if cell_geo is not None:
        mx = cell_geo.agg({"cell": "max"}).first()[0]
        if mx is not None:
            n = int(mx) + 1
        if "area" in cell_geo.columns:
            gpdf = cell_geo.select("cell", "area").toPandas()
            if len(gpdf):
                gcell = gpdf["cell"].to_numpy(np.int64)
                n_geo = max(n or 0, int(gcell.max()) + 1)
                areas = np.zeros(n_geo, dtype=np.float64)
                areas[gcell] = gpdf["area"].to_numpy(np.float64)
                mean_area = float(gpdf["area"].to_numpy(np.float64).mean())
                n = n_geo
    if n is not None and len(src):
        n = max(n, int(max(src.max(), dst.max())) + 1)
    if has_slots and len(src):
        slots = epdf["slot"].to_numpy(np.int64)
        n_cells = n if n is not None else (
            int(max(src.max(), dst.max())) + 1
        )
        stride = int(slots.max()) + 1
        indptr = np.arange(
            0, (n_cells + 1) * stride, stride, dtype=np.int64
        )[: n_cells + 1]
        indices = np.full(n_cells * stride, -1, dtype=np.int64)
        indices[src * stride + slots] = dst
    else:
        indptr, indices = edges_to_adjacency(
            np.stack([src, dst], axis=1), n_cells=n
        )
    if areas is not None and len(areas) < len(indptr) - 1:
        areas = np.pad(areas, (0, len(indptr) - 1 - len(areas)))
    return MeshAdj(indptr, indices, areas, mean_area)


def edges_to_adjacency(
    pairs: list[tuple[int, int]] | np.ndarray, n_cells: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(cell, nbr) edge pairs → CSR adjacency (indptr, indices) over
    cells 0..n_cells-1, for the hop-BFS NN partitioner. Symmetric input
    expected (the engine's edge tables are)."""
    arr = np.asarray(pairs, dtype=np.int64).reshape(-1, 2)
    if n_cells is None:
        n_cells = int(arr.max()) + 1 if len(arr) else 0
    order = np.argsort(arr[:, 0], kind="stable")
    src = arr[order, 0]
    dst = arr[order, 1]
    indptr = np.zeros(n_cells + 1, dtype=np.int64)
    np.add.at(indptr, src + 1, 1)
    np.cumsum(indptr, out=indptr)
    return indptr, dst


def _partition_nn_mesh_hops(
    child_cells: np.ndarray,
    parent_cell_sets: list[np.ndarray],
    indptr: np.ndarray,
    indices: np.ndarray,
    max_hops: int,
) -> np.ndarray:
    """The reference's partition_nn_unstructured (track.py:5117-5242),
    vectorised over the same semantics: per-parent BFS over MESH EDGES,
    seeded from the parent ∩ child overlap cells (distance 0), each
    round expanding every parent's visited set in parent order — a
    cell keeps the FIRST parent that reached it at its lowest hop
    count (strict > compare, so same-round ties go to the earlier
    parent). Stops at ``max_hops``, when every child cell is assigned,
    or on a round with no distance updates (the reference's early
    break).

    Adjudicated semantics note: the reference SOURCE reads as per-slot
    expansion against a live VIEW of ``visited[parent_idx]``
    (track.py:5199-5216 — ``frontier_mask`` is a row view, so cells
    visited at slot i would re-expand at slots i+1.. within the same
    round, chaining up to 3 hops per distance increment). A faithful
    numpy transcription of that loop, fuzz-verified equal to a slot-
    exact vectorisation, yields total_merges = 12 on the reference's
    own extremes_unstructured_merging fixture — but the reference's
    OWN pinned output for that exact scenario is 9±1
    (tests/test_unstructured_tracking.py:260), which this one-hop-
    per-round form reproduces exactly. The observable pinned behavior
    wins over the source reading (the jitted build evidently does not
    chain), so each round expands every parent's whole visited set by
    exactly ONE hop. Missing-slot entries (-1, from the slot-padded
    CSR) are skipped. Returns per-child-cell parent indices; -1 marks
    cells the BFS never reached (the caller applies the reference's
    nearest-centroid fallback, track.py:5227-5238)."""
    n_cells = len(indptr) - 1
    inf = np.iinfo(np.int64).max
    dist = np.full(n_cells, inf, dtype=np.int64)
    assign = np.full(n_cells, -1, dtype=np.int64)
    child_mask = np.zeros(n_cells, dtype=bool)
    child_mask[child_cells] = True
    visited = [np.zeros(n_cells, dtype=bool) for _ in parent_cell_sets]
    for pi, pcells in enumerate(parent_cell_sets):
        ov = pcells[child_mask[pcells]]
        if len(ov):
            visited[pi][ov] = True
            take = dist[ov] == inf
            dist[ov[take]] = 0
            assign[ov[take]] = pi
    degrees = indptr[1:] - indptr[:-1]
    deg_max = int(degrees.max()) if n_cells else 0
    d = 0
    while d < max_hops and np.any(child_mask & (assign == -1)):
        d += 1
        updates = False
        for pi in range(len(parent_cell_sets)):
            vm = visited[pi]
            if not vm.any():
                continue
            # frontier FROZEN for the round: one hop per distance
            # increment (matches the reference's pinned outputs)
            f = np.nonzero(vm)[0]
            frontier_new = []
            for slot in range(deg_max):
                has = degrees[f] > slot
                if not has.any():
                    continue
                nbrs = indices[indptr[f[has]] + slot]
                nbrs = nbrs[nbrs >= 0]  # -1 = missing slot (padded CSR)
                if not len(nbrs):
                    continue
                frontier_new.append(nbrs)
            if not frontier_new:
                continue
            nbrs = np.concatenate(frontier_new)
            new = np.unique(nbrs[~vm[nbrs]])
            if not len(new):
                continue
            vm[new] = True
            upd = dist[new] > d
            if np.any(upd):
                dist[new[upd]] = d
                assign[new[upd]] = pi
                updates = True
        if not updates:
            break
    return assign[child_cells]


# Driver-materialisation ceiling for one page (~40 bytes/sparse cell in
# pandas → 50M cells ≈ 2 GB). Pages hold whole timesteps, so a page
# exceeds TARGET_BLOCK_CELLS only when a single timestep does: this
# guards against one giant step.
SERIAL_CELL_BUDGET = 50_000_000

# Sparse-cell budget of one driver page: the engine's memory bound
# (~40 bytes/cell in pandas → ~80 MB).
TARGET_BLOCK_CELLS = 2_000_000


def _guard_serial_cells(n_cells: int, budget: int | None, what: str) -> None:
    limit = SERIAL_CELL_BUDGET if budget is None else budget
    if limit and n_cells > limit:
        from marex_spark.exceptions import TrackingError

        raise TrackingError(
            f"{what} would page {n_cells:,} sparse cells onto the "
            f"driver at once (budget {limit:,}). Pages hold whole "
            "timesteps, so a single timestep is over the budget; raise "
            "max_driver_cells if this driver really has the memory",
            details={"n_cells": int(n_cells), "budget": int(limit)},
        )


@dataclass
class MergeLedger:
    times: list
    child_ids: list  # list of int64 arrays
    parent_ids: list
    areas: list


class _Resolver:
    """Carry-state for the sequential resolution loop: the props dicts,
    ledger and id counter — everything except the slices themselves —
    so processing can stream over bounded time chunks exactly like the
    reference's chunk loop (track.py:3377-3420): a chunk only ever
    needs its own slices plus the previous chunk's last two."""

    def __init__(
        self,
        nx: int,
        wrap_x: bool,
        overlap_threshold: float,
        max_iter_per_step: int,
        grid: bool,
        nn_partitioning: bool,
        max_distance: float | None = None,
        mesh_adj: MeshAdj | None = None,
        ny: int = 0,
    ):
        self.nx = nx
        # domain height: sizes the NN block window's wrapped y-block
        # ring (partition_nn_grid wraps BOTH block axes, track.py:
        # 5046/5050). 0 = unknown → y-blocks cannot wrap; pass it
        # whenever the grid shape is known.
        self.ny = ny
        self.wrap_x = wrap_x
        self.overlap_threshold = overlap_threshold
        self.max_iter_per_step = max_iter_per_step
        self.grid = grid
        self.nn_partitioning = nn_partitioning
        self.max_distance = max_distance
        # CSR mesh adjacency (MeshAdj): when present, sphere-mode NN
        # partitioning uses the reference's hop-BFS semantics
        # (max_distance in HOPS); without it, the geodesic fallback
        # (max_distance in degrees of arc) applies.
        self.mesh_adj = mesh_adj
        self.areas: dict[int, int] = {}
        self.cents: dict[int, tuple[float, float]] = {}
        self.ledger = MergeLedger([], [], [], [])
        self.next_new_id = 1

    def build_slices(self, cells: pd.DataFrame, time_col: str):
        """Sparse per-time slices via one groupby pass."""
        slices: dict[int, dict] = {}
        times: list = []
        for ti, (t, g) in enumerate(cells.groupby(time_col, sort=True)):
            times.append(t)
            if self.grid:
                ys = g["y"].to_numpy(np.int64)
                xs = g["x"].to_numpy(np.int64)
                key = ys * self.nx + xs
                order = np.argsort(key)
                slices[ti] = {
                    "key": key[order],
                    "c1": ys[order],
                    "c2": xs[order],
                    "id": g["obj_id"].to_numpy(np.int64)[order],
                }
            else:
                key = g["cell"].to_numpy(np.int64)
                order = np.argsort(key)
                slices[ti] = {
                    "key": key[order],
                    "c1": g["lat"].to_numpy(np.float64)[order],
                    "c2": g["lon"].to_numpy(np.float64)[order],
                    "id": g["obj_id"].to_numpy(np.int64)[order],
                }
        return slices, times

    def _centroid_of(self, c1, c2):
        if self.grid:
            return _centroid(c1, c2, self.nx, self.wrap_x)
        return _centroid_sphere(c1, c2)

    def _dist_to(self, c1, c2, cent):
        if self.grid:
            return _wrapped_dist2(c1, c2, cent[0], cent[1], self.nx, self.wrap_x)
        return _haversine2(c1, c2, cent[0], cent[1])

    def register_slice(self, sl: dict, only_ids=None) -> None:
        """(Re)compute area + centroid props (A9/A10) for a slice.

        The full-slice GRID path is vectorised (one np.unique + a few
        bincount segment sums instead of a mask+mean per object — the
        per-object loop was ~80% of the resolver kernel's profile).
        Bit-identical to the loop: y/x sums are integer-valued in
        float64 (exact below 2^53), so summation order cannot change
        the quotient, and the seam conditions reduce to per-object
        boolean bincounts. The sphere path keeps the loop — its
        cos/sin means are true float sums where pairwise vs sequential
        accumulation differ in the last ulp."""
        ids = sl["id"]
        if only_ids is None and self.grid and len(ids):
            uniq, inv = np.unique(ids, return_inverse=True)
            cnt = np.bincount(inv).astype(np.float64)
            c1 = sl["c1"].astype(np.float64)
            c2 = sl["c2"]
            cy = np.bincount(inv, weights=c1) / cnt
            if self.wrap_x:
                has_low = (
                    np.bincount(inv, weights=(c2 < 100).astype(np.float64))
                    > 0
                )
                has_high = (
                    np.bincount(
                        inv,
                        weights=(c2 >= self.nx - 100).astype(np.float64),
                    )
                    > 0
                )
                near = has_low & has_high
                cx_plain = (
                    np.bincount(inv, weights=c2.astype(np.float64)) / cnt
                )
                xa = np.where(c2 > self.nx // 2, c2 - self.nx, c2).astype(
                    np.float64
                )
                cx_adj = np.bincount(inv, weights=xa) / cnt
                cx = np.where(near, cx_adj, cx_plain)
                cx = np.where(near & (cx < 0), cx + self.nx, cx)
            else:
                cx = np.bincount(inv, weights=c2.astype(np.float64)) / cnt
            for k in range(len(uniq)):
                o = int(uniq[k])
                self.areas[o] = int(cnt[k])
                self.cents[o] = (float(cy[k]), float(cx[k]))
            return
        targets = np.unique(ids) if only_ids is None else np.asarray(list(only_ids))
        for oid in targets:
            m = ids == oid
            n = int(m.sum())
            if n == 0:
                self.areas.pop(int(oid), None)
                self.cents.pop(int(oid), None)
                continue
            self.areas[int(oid)] = n
            self.cents[int(oid)] = self._centroid_of(sl["c1"][m], sl["c2"][m])

    def consolidate(self, sl_prev2: dict, sl_prev: dict) -> None:
        """M10 (track.py:2554-2656): children at t-1 of one t-2 parent
        are renamed to the first child."""
        back = _apply_threshold(
            _slice_overlaps(sl_prev2, sl_prev), self.areas, self.overlap_threshold
        )
        if len(back) == 0:
            return
        parents, counts = np.unique(back[:, 0], return_counts=True)
        for p in parents[counts > 1]:
            kids = back[back[:, 0] == p, 1].astype(np.int64)
            first = int(kids[0])
            if first not in self.areas:
                continue
            changed = False
            for k in kids[1:]:
                k = int(k)
                if k not in self.areas:
                    continue
                sl_prev["id"][sl_prev["id"] == k] = first
                self.areas.pop(k, None)
                self.cents.pop(k, None)
                changed = True
            if changed:
                self.register_slice(sl_prev, [first])

    def transition(self, sl_prev: dict, sl: dict, time_value) -> None:
        """One t-1 → t step: detect multi-parent children, partition
        them among parents, record merges; iterate to fixpoint."""
        pairs = _apply_threshold(
            _slice_overlaps(sl_prev, sl), self.areas, self.overlap_threshold
        )
        for _ in range(self.max_iter_per_step):
            kids, counts = (
                np.unique(pairs[:, 1], return_counts=True)
                if len(pairs)
                else (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
            )
            merging = kids[counts > 1]
            if len(merging) == 0:
                break
            for child in merging:
                grp = pairs[pairs[:, 1] == child]
                parent_ids = grp[:, 0].astype(np.int64)
                n_par = len(parent_ids)
                new_ids = np.arange(
                    self.next_new_id, self.next_new_id + n_par - 1, dtype=np.int64
                )
                self.next_new_id += n_par - 1
                child_ids = np.concatenate(([int(child)], new_ids))

                self.ledger.times.append(time_value)
                self.ledger.child_ids.append(child_ids.copy())
                self.ledger.parent_ids.append(parent_ids.copy())
                self.ledger.areas.append(grp[:, 2].astype(np.int64).copy())

                mask = sl["id"] == child
                c1m, c2m = sl["c1"][mask], sl["c2"][mask]
                cent_d = np.stack(
                    [self._dist_to(c1m, c2m, self.cents[int(p)]) for p in parent_ids],
                    axis=1,
                )
                if (
                    self.nn_partitioning
                    and not self.grid
                    and self.mesh_adj is not None
                ):
                    # reference mesh NN (partition_nn_unstructured,
                    # track.py:5117-5242): per-parent hop-BFS over the
                    # mesh edges, seeded from the parent ∩ child
                    # overlap, capped at max_distance HOPS — the call
                    # site's auto cap is max(int(sqrt(max parent
                    # cells) * 2), 20) * 2 (track.py:3497-3509);
                    # unreached cells fall back to nearest centroid
                    prev_ids = sl_prev["id"]
                    child_cells = sl["key"][mask]
                    psets = [
                        sl_prev["key"][prev_ids == p] for p in parent_ids
                    ]
                    if self.max_distance is not None:
                        md = int(self.max_distance)
                    else:
                        adj = self.mesh_adj
                        if (
                            adj.cell_areas is not None
                            and adj.mean_cell_area > 0
                        ):
                            # reference hop budget (track.py:3494-3509):
                            # max parent PHYSICAL area / mean cell area
                            # — non-integer on variable-area meshes,
                            # so int(sqrt(...)) can differ from the
                            # member-count form by 1 before the *2
                            max_area = max(
                                float(adj.cell_areas[ps].sum())
                                for ps in psets
                            ) / adj.mean_cell_area
                        else:
                            max_area = max(
                                self.areas.get(int(p), 1)
                                for p in parent_ids
                            )
                        md = max(int(np.sqrt(max_area) * 2.0), 20) * 2
                    best = _partition_nn_mesh_hops(
                        child_cells,
                        psets,
                        self.mesh_adj.indptr,
                        self.mesh_adj.indices,
                        md,
                    )
                    unreached = best < 0
                    best[unreached] = np.argmin(cent_d[unreached], axis=1)
                elif self.nn_partitioning:
                    # nn mode (track.py:4973-5242): nearest parent
                    # *member cell*; cells unreachable from every parent
                    # fall back to the nearest centroid, unbounded
                    # (track.py:5224-5238)
                    prev_ids = sl_prev["id"]
                    if self.grid:
                        # reference call-site heuristic (track.py:
                        # 3526-3535): max_distance = max(int(sqrt(max
                        # parent area) * 3), 40) cells unless the user
                        # overrides; partition_nn_grid then windows the
                        # candidate search to the 3×3 neighbourhood of
                        # grid_size = max(2, max_distance // 4) blocks
                        # (track.py:5014) — the window, not the cap, is
                        # what usually bounds the search.
                        if self.max_distance is not None:
                            md = float(self.max_distance)
                        else:
                            max_area = max(
                                self.areas.get(int(p), 1) for p in parent_ids
                            )
                            md = float(max(int(np.sqrt(max_area) * 3.0), 40))
                        gs = max(2, int(md) // 4)
                        cap2 = md * md
                    else:
                        gs = None
                        # Unstructured: DEGREES of great-circle arc — a
                        # documented deviation from the reference's
                        # mesh-hop BFS cap (hop counts are mesh-
                        # resolution-dependent; the geodesic cap is the
                        # same physical quantity).
                        if self.max_distance is not None:
                            cap2 = float(
                                np.sin(np.radians(self.max_distance) / 2.0) ** 2
                            )
                        else:
                            cap2 = None
                    nn_d = np.stack(
                        [
                            _min_dist_to_members(
                                c1m,
                                c2m,
                                sl_prev["c1"][prev_ids == p],
                                sl_prev["c2"][prev_ids == p],
                                self.grid,
                                self.nx,
                                self.wrap_x,
                                block=gs,
                                cap2=cap2 if self.grid else None,
                                ny=self.ny,
                            )
                            for p in parent_ids
                        ],
                        axis=1,
                    )
                    best = np.argmin(nn_d, axis=1)
                    best_d = nn_d[np.arange(len(best)), best]
                    if self.grid:
                        unreached = ~np.isfinite(best_d)
                    else:
                        unreached = best_d > (np.inf if cap2 is None else cap2)
                    best[unreached] = np.argmin(cent_d[unreached], axis=1)
                else:
                    # centroid partitioning (track.py:5357-5419): each
                    # child cell → nearest parent centroid's child id
                    best = np.argmin(cent_d, axis=1)
                sl["id"][mask] = child_ids[best]
                self.register_slice(sl, child_ids)

            pairs = _apply_threshold(
                _slice_overlaps(sl_prev, sl), self.areas, self.overlap_threshold
            )


# ------------------------------------------------------- Spark orchestration


def _resolve_block(resolver: "_Resolver", carry: list, slices: dict, stimes: list) -> None:
    """Resolve one contiguous block of timesteps against a carry (the
    previous block's last two post-resolution slices, already emitted).
    This is the chunk-boundary sequencing of the reference's chunk loop
    (track.py:3377-3420), run once per driver page:

    - consolidation (M10) needs t-1 mutable, so it is skipped when t-1
      is the carry — the previous block's end-of-block pass (below)
      already consolidated it (relative_t > 0 guard, track.py:3396);
    - the block ends with a final consolidation of its last two slices
      (end-of-chunk rule, track.py:3602-3615).
    """
    for _, csl in carry:
        # same values between pages; required for a resumed carry,
        # which a fresh resolver has never seen
        resolver.register_slice(csl)
    for ti in range(len(stimes)):
        resolver.register_slice(slices[ti])
    seq = carry + [(stimes[i], slices[i]) for i in range(len(stimes))]
    first_new = len(carry)
    for i in range(max(first_new, 1), len(seq)):
        if i >= 2 and i - 1 >= first_new:
            resolver.consolidate(seq[i - 2][1], seq[i - 1][1])
        resolver.transition(seq[i - 1][1], seq[i][1], seq[i][0])
    if len(seq) >= 2:
        resolver.consolidate(seq[-2][1], seq[-1][1])


def _ledger_df(spark, ledger: MergeLedger, time_col: str, time_type: str) -> DataFrame:
    """Merge ledger as a DataFrame: ArrayType columns instead of the
    reference's -1-padded matrices (track.py:3776-3793 → SURVEY §1.3)."""
    pdf = pd.DataFrame(
        {
            "merge_id": np.arange(1, len(ledger.times) + 1, dtype=np.int64),
            time_col: ledger.times,
            "parent_ids": [list(map(int, a)) for a in ledger.parent_ids],
            "child_ids": [list(map(int, a)) for a in ledger.child_ids],
            "overlap_areas": [list(map(int, a)) for a in ledger.areas],
        }
    )
    return spark.createDataFrame(
        pdf,
        schema=(
            f"merge_id long, {time_col} {time_type}, parent_ids array<long>, "
            "child_ids array<long>, overlap_areas array<long>"
        ),
    )


def _to_epoch_micros(t, sess_tz: str) -> int:
    """One resume-carry time value → int64 epoch micros. Naive wall
    times are interpreted in the SESSION timezone (what toPandas
    produces); tz-aware values convert exactly; ints pass through
    (already epoch micros).

    DST edges resolve the way the JVM does when Spark parses a naive
    wall time: an AMBIGUOUS fall-back hour takes the EARLIER offset
    (``ambiguous=True`` = the DST interpretation) and a nonexistent
    spring-forward time shifts forward — so a resumed carry lands on
    the same instant Spark itself would have produced, instead of
    raising AmbiguousTimeError mid-resume."""
    if isinstance(t, (int, np.integer)):
        return int(t)
    ts = pd.Timestamp(t)
    if ts.tzinfo is None:
        ts = ts.tz_localize(
            sess_tz, ambiguous=True, nonexistent="shift_forward"
        )
    return int(ts.value // 1000)


def _write_chunk_parquet(
    pdf: pd.DataFrame, j: int, out_uri: str, out_local: str | None, fs, jpath
) -> None:
    """Driver-side parquet write of one resolved chunk (pyarrow, no
    Spark job — so no multi-MB task closures). Timestamps normalise to
    microseconds (Spark's parquet default; ns columns would need the
    legacy nanos flag) and integer columns widen to int64 so the read
    schema matches the input labels' exactly. ``out_local`` is the
    output directory's local path when it lives on the driver's own
    filesystem; otherwise the file is written to a local temp file and
    copied to ``out_uri`` through the Hadoop FileSystem ``fs``
    (``jpath``: the JVM ``Path`` class), so the executors read it where
    Spark's own files live."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    arrays = []
    for name, col in zip(tbl.column_names, tbl.columns):
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        arrays.append(col)
    tbl = pa.table(dict(zip(tbl.column_names, arrays)))
    name = f"chunk-{j:05d}.parquet"
    if out_local is not None:
        os.makedirs(out_local, exist_ok=True)
        pq.write_table(tbl, os.path.join(out_local, name))
        return
    fd, tmp = tempfile.mkstemp(suffix=".parquet")
    os.close(fd)
    try:
        pq.write_table(tbl, tmp)
        fs.copyFromLocalFile(
            True, True, jpath(f"file://{tmp}"), jpath(f"{out_uri}/{name}")
        )
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def split_merge_events(
    labels: DataFrame,
    nx: int = 0,
    overlap_threshold: float = 0.5,
    wrap_x: bool = True,
    time_col: str = "time",
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    max_iter_per_step: int = 10,
    labels_materialized: bool = False,
    resume_state: dict | None = None,
    geometry: str = "grid",
    cell_geo: DataFrame | None = None,
    max_driver_cells: int | None = None,
    page_dir: str | None = None,
    mesh_adj: MeshAdj | None = None,
    ny: int = 0,
) -> tuple:
    """Driver-paged merge resolution — the reference's chunk loop
    (track.py:3377-3420): pull one page of whole timesteps holding at
    most :data:`TARGET_BLOCK_CELLS` sparse cells at a time, resolve it
    against the carry (the previous page's last two post-resolution
    slices + the props dicts), emit the page, advance. Driver memory
    is O(page) instead of O(series), and page boundaries never change
    the output: it equals resolving the whole series in one block
    (asserted against tests/reference/merge.py in tests/test_merge.py).
    A page holds more than the budget only when one timestep does, and
    past ``max_driver_cells`` (default :data:`SERIAL_CELL_BUDGET`) the
    call fails before anything is paged.

    Returns ``(labels, ledger, link_pairs)``: the relabelled labels and
    the merge ledger as DataFrames, and the post-resolution link graph
    — (id_t, id_next) for every object pair overlapping between
    consecutive final slices, gated by ``overlap_threshold`` like
    ``overlap.filter_overlap_fraction`` — as an int64 ``(n, 2)`` array,
    or as a DataFrame when it holds more than
    ``components.MAX_DRIVER_PAIRS`` pairs. Each page adds its pairs
    (the carry's last slice → its first slice, then slice → slice), so
    ``track_events`` links events without rebuilding the overlaps.

    ``geometry="grid"`` takes (time, y, x, obj_id) labels: pixel
    centroids, wrapped-Euclidean partitioning. ``geometry="sphere"``
    takes (time, cell, obj_id) + ``cell_geo`` (cell, lat, lon):
    spherical centroids, haversine partitioning; NN partitioning uses
    the hop-BFS over ``mesh_adj`` when given (max_distance in HOPS),
    else geodesic nearest-member (max_distance in degrees).

    Resumability: the complete sequencing state between pages is
    (carry slices, id counter). ``resume_state``
    (``{"carry": [(time, slice)...], "next_new_id"}``) continues
    resolution over strictly later timesteps as if the loop had never
    stopped — the incremental append path (extend_track_events).

    The per-page time-range filter re-executes the ``labels`` plan once
    per page, so the plan is localCheckpoint'ed here unless the caller
    declares it already materialised (``labels_materialized=True``,
    e.g. track_events passes label_components' checkpointed output) —
    otherwise a direct caller with a raw labelling plan would silently
    recompute the whole labelling per page.

    Paging is partition-pruned: with ≥4 pages the sparse labels are
    spilled ONCE to parquet partitioned by page index, and each page
    fetch reads only its own directory. Filtering the in-memory labels
    per page instead would scan every label partition per page — at
    production density that is hundreds of pages × the full partition
    count in scheduled tasks, the dominant cost of the loop.
    The page spill and the resolved pages live under ``page_dir``
    (default: the tmp dir's path), resolved through the Hadoop
    FileSystem like any Spark path: a bare path lands on the session's
    default filesystem (``fs.defaultFS``), the one every executor
    reads on a cluster. The driver reads and writes them with pyarrow
    directly when that filesystem is its local one, and copies each
    resolved page through the FileSystem otherwise. The spill is
    deleted before returning; the resolved pages are the returned lazy
    reader's files, deleted when the JVM exits.

    Each call logs one DEBUG record (logger
    ``marex_spark.operators.merge``) with the page count
    (``merge_pages``), the sparse cell count (``merge_cells``) and the
    link-pair count (``merge_link_pairs``)."""
    grid = geometry == "grid"
    spark = labels.sparkSession
    if not grid:
        if cell_geo is None:
            from marex_spark.exceptions import TrackingError

            raise TrackingError(
                "geometry='sphere' needs cell_geo",
                details={"expected_columns": "(cell, lat, lon)"},
            )
        labels = labels.select(time_col, "cell", "obj_id").join(
            F.broadcast(cell_geo.select("cell", "lat", "lon")), "cell"
        )
        labels_materialized = False  # the geo join is a new plan
    if not labels_materialized:
        labels = labels.localCheckpoint()
    time_type = labels.schema[time_col].dataType.simpleString()
    is_ts = time_type == "timestamp"
    if is_ts:
        # TIMESTAMP_LTZ time columns ride the whole spill pipeline as
        # int64 epoch MICROS: the paths here disagree about what a
        # naive wall time means (toPandas yields session-local wall,
        # the pyarrow page fast path reads Spark-written INT96 as UTC
        # wall, and spark.read on pyarrow-written naive micros assumes
        # UTC instants) — under a non-UTC spark.sql.session.timeZone
        # those mix-ups shift chunks and the ledger inconsistently.
        # Epoch micros are representation-free; the output and ledger
        # cast back to instants at the very end (timestamp_micros).
        labels = labels.withColumn(
            time_col, F.unix_micros(F.col(time_col))
        )
    # ONE pre-pass job yields the timestep list, the per-time cell
    # counts and the max id together; the counts size-guard every chunk
    # before anything is paged to the driver (fail fast, never OOM
    # mid-series)
    tstats = sorted(
        labels.groupBy(time_col)
        .agg(F.count(F.lit(1)).alias("_n"), F.max("obj_id").alias("_mx"))
        .collect(),
        key=lambda r: r[0],
    )
    times = [r[0] for r in tstats]
    counts = [int(r["_n"]) for r in tstats]
    # cell-budget chunking: the engine's true driver-memory bound is
    # CELLS paged per chunk, not steps — a sparse series collapses into
    # few pages (each paging job costs more than the resolve), a dense
    # one still splits
    bounds = [0]
    acc = 0
    for i, c in enumerate(counts):
        if acc and acc + c > TARGET_BLOCK_CELLS:
            bounds.append(i)
            acc = 0
        acc += c
    bounds.append(len(counts))
    chunk_spans = list(zip(bounds[:-1], bounds[1:])) if times else []
    for a, b in chunk_spans:
        _guard_serial_cells(
            sum(counts[a:b]),
            max_driver_cells,
            f"split_merge_events (page at {times[a]})",
        )
    resolver = _Resolver(
        nx=nx,
        wrap_x=wrap_x,
        overlap_threshold=overlap_threshold,
        max_iter_per_step=max_iter_per_step,
        grid=grid,
        nn_partitioning=nn_partitioning,
        max_distance=max_distance,
        mesh_adj=mesh_adj,
        ny=ny,
    )
    resolver.next_new_id = (
        max((r["_mx"] for r in tstats if r["_mx"] is not None), default=0) + 1
    )

    out_frames: list[DataFrame] = []
    links: list[np.ndarray] = [np.empty((0, 3), dtype=np.int64)]
    carry: list[tuple] = []  # [(time, slice)] — last two resolved slices
    if resume_state is not None:
        carry = list(resume_state["carry"])
        if is_ts:
            sess_tz = spark.conf.get("spark.sql.session.timeZone")
            carry = [
                (_to_epoch_micros(t, sess_tz), sl) for t, sl in carry
            ]
        if carry and times and carry[-1][0] >= times[0]:
            from marex_spark.exceptions import TrackingError

            raise TrackingError(
                "resume_state carry must precede all new timesteps",
                details={"carry_end": str(carry[-1][0]), "first_new": str(times[0])},
            )
        # never reuse an id the resumed run may already have emitted
        resolver.next_new_id = max(
            resolver.next_new_id, int(resume_state["next_new_id"])
        )

    cols = [time_col, "y", "x", "obj_id"] if grid else [
        time_col, "cell", "lat", "lon", "obj_id"
    ]
    n_chunks = len(chunk_spans)
    pages = None
    page_path = page_local = None
    import os as _os
    import tempfile
    import uuid

    jpath = spark._jvm.org.apache.hadoop.fs.Path
    jroot = jpath(page_dir or tempfile.gettempdir())
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    jroot = fs.makeQualified(jroot)
    root = jroot.toString()
    local_root = jroot.toUri().getPath() if fs.getScheme() == "file" else None
    # resolved chunks leave the driver as parquet FILES (pyarrow,
    # driver-side write; one distributed lazy read at the end) — never
    # as createDataFrame task closures: a full chunk is tens of MB, and
    # closure-shipping it per task draws TaskSetManager "very large
    # task" warnings and real scheduler pressure at scale
    out_name = f"marex_chunk_out_{uuid.uuid4().hex}"
    out_path = f"{root}/{out_name}"
    out_local = local_root and f"{local_root}/{out_name}"
    if n_chunks >= 4:
        from pyspark.sql.types import IntegerType, StructField, StructType

        chunk_of = [0] * len(times)
        for j, (a, b) in enumerate(chunk_spans):
            for i in range(a, b):
                chunk_of[i] = j
        page_name = f"marex_chunk_pages_{uuid.uuid4().hex}"
        page_path = f"{root}/{page_name}"
        page_local = local_root and f"{local_root}/{page_name}"
        ctab = spark.createDataFrame(
            [(t, chunk_of[i]) for i, t in enumerate(times)],
            schema=StructType(
                [labels.schema[time_col], StructField("__chunk", IntegerType())]
            ),
        )
        (
            labels.join(F.broadcast(ctab), time_col)
            .repartitionByRange(n_chunks, "__chunk")
            .select(*cols, "__chunk")
            .write.partitionBy("__chunk")
            .mode("overwrite")
            .parquet(page_path)
        )
        pages = spark.read.parquet(page_path)

    try:
        for j, (a, b) in enumerate(chunk_spans):
            chunk_times = times[a:b]
            if page_local and _os.path.isdir(f"{page_local}/__chunk={j}"):
                # the pages are driver-consumed: read the chunk's own
                # partition directory with pyarrow directly — zero
                # Spark jobs per chunk (a filter+toPandas paid ~0.3 s
                # of stage latency × #chunks, the loop's dominant cost
                # at bench scale). A spill on a non-local filesystem
                # (a cluster's shared one) takes the Spark read below.
                import pyarrow.parquet as _pq

                pdf = (
                    _pq.read_table(f"{page_local}/__chunk={j}")
                    .to_pandas()[cols]
                )
            elif pages is not None:
                pdf = (
                    pages.filter(F.col("__chunk") == j)
                    .select(*cols)
                    .toPandas()
                )
            else:
                pdf = (
                    labels.filter(
                        (F.col(time_col) >= chunk_times[0])
                        & (F.col(time_col) <= chunk_times[-1])
                    )
                    .select(*cols)
                    .toPandas()
                )
            slices, stimes = resolver.build_slices(pdf, time_col)
            _resolve_block(resolver, carry, slices, stimes)
            links.extend(
                _link_pairs(
                    [sl for _, sl in carry[-1:]]
                    + [slices[i] for i in range(len(stimes))],
                    overlap_threshold,
                )
            )

            if grid:
                chunk_pdf = pd.concat(
                    [
                        pd.DataFrame(
                            {
                                time_col: stimes[i],
                                "y": slices[i]["c1"],
                                "x": slices[i]["c2"],
                                "obj_id": slices[i]["id"],
                            }
                        )
                        for i in range(len(stimes))
                    ],
                    ignore_index=True,
                )
            else:
                chunk_pdf = pd.concat(
                    [
                        pd.DataFrame(
                            {
                                time_col: stimes[i],
                                "cell": slices[i]["key"],
                                "obj_id": slices[i]["id"],
                            }
                        )
                        for i in range(len(stimes))
                    ],
                    ignore_index=True,
                )
            _write_chunk_parquet(chunk_pdf, j, out_path, out_local, fs, jpath)
            out_frames.append(j)
            carry = [(stimes[i], slices[i]) for i in range(len(stimes))][-2:]

        spill_type = "long" if is_ts else time_type
        if grid:
            schema = f"{time_col} {spill_type}, y long, x long, obj_id long"
        else:
            schema = f"{time_col} {spill_type}, cell long, obj_id long"
        empty_cols = [time_col, "y", "x", "obj_id"] if grid else [
            time_col, "cell", "obj_id"
        ]
        if out_frames:
            # the LAZY reader is the output: downstream consumers scan
            # the page files directly (with pushdown), no extra
            # materialisation pass; the files are reclaimed when the
            # JVM exits, like any Spark scratch dir
            fs.deleteOnExit(jpath(out_path))
            out_df = spark.read.schema(schema).parquet(out_path)
        else:
            out_df = labels.limit(0).select(*empty_cols)
        if is_ts:
            out_df = out_df.withColumn(
                time_col, F.timestamp_micros(F.col(time_col))
            )
        ok = True
    finally:
        doomed = [page_path]
        if not locals().get("ok"):
            doomed.append(out_path)
        for path in doomed:
            if path:
                fs.delete(jpath(path), True)
    ledger = _ledger_df(
        spark, resolver.ledger, time_col, "long" if is_ts else time_type
    )
    if is_ts:
        ledger = ledger.withColumn(
            time_col, F.timestamp_micros(F.col(time_col))
        )
    link_pairs = np.concatenate(links)[:, :2]
    n_links = len(link_pairs)
    if n_links > components.MAX_DRIVER_PAIRS:
        # past the driver union-find budget: track_events hands a
        # DataFrame to the distributed solver
        link_pairs = spark.createDataFrame(
            pd.DataFrame(link_pairs, columns=["id_t", "id_next"]),
            schema="id_t long, id_next long",
        )
    _log.debug(
        "split_merge_events: %d pages, %d cells, %d link pairs",
        n_chunks,
        sum(counts),
        n_links,
        extra={
            "merge_pages": n_chunks,
            "merge_cells": sum(counts),
            "merge_link_pairs": n_links,
        },
    )
    return out_df, ledger, link_pairs
