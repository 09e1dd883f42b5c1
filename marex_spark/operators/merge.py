"""Split/merge event tracking (SURVEY M8-M10 + J9) — the Spark port of
the reference's ``split_and_merge_objects`` serial mode
(track.py:3337-3802) with centroid-based child partitioning
(track.py:5357-5419 / 4827-4884) and t-2→t-1 ID consolidation
(track.py:2554-2656).

The per-timestep resolution loop is inherently sequential in time
(timestep t's labels depend on t-1's post-partitioning labels); its
kernel runs over the *sparse* labelled cells (only extreme cells,
id > 0), vectorised with numpy per transition, and only ever needs
the previous block's last two slices plus the small props dicts.
Everything before (labelling, morphology) and after (remap, stats)
stays distributed. The kernel also emits the post-resolution link
graph — the overlap pairs of consecutive final slices, computed from
the slices it already holds, as the reference links from its
chunk-local overlaps (track.py:2396-2452, 2876-2883) — so event
linking needs no Spark overlap join. Two engines run that one block
kernel (:func:`_resolve_block`), mirroring the reference's two forms:

- :func:`split_merge_events_chunked` — the serial chunk loop
  (track.py:3377-3420): pages cell-budgeted chunks onto the driver;
  also the resume path of incremental extension;
- :func:`split_merge_events_parallel` — the batched iteration tier
  (track.py:3804-4814): time blocks resolved concurrently on the
  executors with a Jacobi carry fixpoint (the default).
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
    # ~3e9 — which both a 100 TB label space and the parallel tier's
    # block-local id namespaces do
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
            f"the driver (budget {limit:,}) would capture a multi-GB "
            "CSR in every resolver task; partition the mesh or raise "
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


# Driver-materialisation budget for one page of the CHUNKED engine
# (~40 bytes/sparse cell in pandas → 50M cells ≈ 2 GB, a sane driver
# ceiling). A page exceeds TARGET_BLOCK_CELLS only when a single
# timestep does, so this guards against one giant step. The parallel
# engine (the default) never materialises more than one block per
# executor task and has no such bound.
SERIAL_CELL_BUDGET = 50_000_000

# Mesh CSRs above this ship as a Spark broadcast variable instead of a
# task-closure capture (once per executor vs once per task serialize).
_MESH_ADJ_BCAST_BYTES = 8 << 20

# Sparse-cell budget of one resolver block: the chunked engine's page
# size and the cap on auto-sized parallel blocks — the per-task (or
# per-page) materialisation bound (~40 bytes/cell in pandas → ~80 MB).
TARGET_BLOCK_CELLS = 2_000_000


def _guard_serial_cells(n_cells: int, budget: int | None, what: str) -> None:
    limit = SERIAL_CELL_BUDGET if budget is None else budget
    if limit and n_cells > limit:
        from marex_spark.exceptions import TrackingError

        raise TrackingError(
            f"{what} would page {n_cells:,} sparse cells onto the "
            f"driver at once (budget {limit:,}) — use the distributed-"
            "parallel resolver instead (track_events(..., "
            "merge_parallel=True) / split_merge_events_parallel), or "
            "raise max_driver_cells explicitly if this driver really "
            "has the memory",
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
    This is the chunk-boundary sequencing shared by the chunked and
    parallel drivers (reference chunk loop, track.py:3377-3420):

    - consolidation (M10) needs t-1 mutable, so it is skipped when t-1
      is the carry — the previous block's end-of-block pass (below)
      already consolidated it (relative_t > 0 guard, track.py:3396);
    - the block ends with a final consolidation of its last two slices
      (end-of-chunk rule, track.py:3602-3615).
    """
    for _, csl in carry:
        resolver.register_slice(csl)  # no-op recompute under the chunked
        # driver (same values); required for a fresh per-block resolver
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


_EXIT_PATHS: set[str] = set()


def _cleanup_at_exit(path: str) -> None:
    """Reclaim a spill directory at interpreter exit (the resolved
    chunks' parquet files stay referenced by the returned lazy reader
    for the rest of the session)."""
    import atexit
    import shutil

    if not _EXIT_PATHS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _EXIT_PATHS]
        )
    _EXIT_PATHS.add(path)


def _to_epoch_micros(t, sess_tz: str) -> int:
    """One resume-carry time value → int64 epoch micros. Naive wall
    times are interpreted in the SESSION timezone (what toPandas
    produces); tz-aware values convert exactly; ints pass through
    (a carry from a previous chunked run is already converted).

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
    pdf: pd.DataFrame, out_path: str, j: int, time_col: str
) -> None:
    """Driver-side parquet write of one resolved chunk (pyarrow, no
    Spark job — so no multi-MB task closures). Timestamps normalise to
    microseconds (Spark's parquet default; ns columns would need the
    legacy nanos flag) and integer columns widen to int64 so the read
    schema matches the input labels' exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_path, exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    arrays = []
    for name, col in zip(tbl.column_names, tbl.columns):
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        elif pa.types.is_integer(col.type):
            col = col.cast(pa.int64())
        arrays.append(col)
    tbl = pa.table(dict(zip(tbl.column_names, arrays)))
    pq.write_table(tbl, os.path.join(out_path, f"chunk-{j:05d}.parquet"))


def split_merge_events_chunked(
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
    return_state: bool = False,
    geometry: str = "grid",
    cell_geo: DataFrame | None = None,
    max_driver_cells: int | None = None,
    page_dir: str | None = None,
    mesh_adj: MeshAdj | None = None,
    ny: int = 0,
) -> tuple:
    """Driver-paged merge resolution — the reference's chunk loop
    (track.py:3377-3420): pull one chunk of whole timesteps holding at
    most :data:`TARGET_BLOCK_CELLS` sparse cells at a time, resolve it
    against the carry (the previous chunk's last two post-resolution
    slices + the props dicts), emit the chunk, advance. Driver memory
    is O(chunk) instead of O(series), and chunk boundaries never change
    the output: it equals resolving the whole series in one block
    (asserted against tests/reference/merge.py in tests/test_merge.py).
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

    Resumability: the complete sequencing state between chunks is
    (carry slices, id counter) — the same fact the parallel tier's
    fresh per-block resolvers rely on. ``return_state=True`` appends
    that state dict (``{"carry": [(time, slice)...], "next_new_id"}``)
    to the return tuple; passing it back as ``resume_state`` continues
    resolution over strictly later timesteps as if the loop had never
    stopped — the incremental append path (extend_track_events).

    The per-chunk time-range filter re-executes the ``labels`` plan once
    per chunk, so the plan is localCheckpoint'ed here unless the caller
    declares it already materialised (``labels_materialized=True``,
    e.g. track_events passes label_components' checkpointed output) —
    otherwise a direct caller with a raw labelling plan would silently
    recompute the whole labelling per chunk.

    Paging is partition-pruned: with ≥4 chunks the sparse labels are
    spilled ONCE to parquet partitioned by chunk index, and each page
    fetch reads only its own chunk directory. Filtering the in-memory
    labels per chunk instead would scan every label partition per
    chunk — at production density that is hundreds of chunks × the
    full partition count in scheduled tasks, the dominant cost of the
    loop. ``page_dir`` roots the spill (default: the local tmp
    dir — pass a shared-FS scratch path on a real cluster, same
    contract as ``Tracker.temp_dir``); the directory is deleted before
    returning."""
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
            f"split_merge_events_chunked (chunk at {times[a]})",
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
    page_path = None
    import os as _os
    import tempfile
    import uuid

    root = page_dir or tempfile.gettempdir()
    # resolved chunks leave the driver as parquet FILES (pyarrow,
    # driver-side write; one distributed read + localCheckpoint at the
    # end) — never as createDataFrame task closures: a full chunk is
    # tens of MB, and closure-shipping it per task draws TaskSetManager
    # "very large task" warnings and real scheduler pressure at scale
    out_path = f"{root}/marex_chunk_out_{uuid.uuid4().hex}"
    if n_chunks >= 4:
        from pyspark.sql.types import IntegerType, StructField, StructType

        chunk_of = [0] * len(times)
        for j, (a, b) in enumerate(chunk_spans):
            for i in range(a, b):
                chunk_of[i] = j
        page_path = f"{root}/marex_chunk_pages_{uuid.uuid4().hex}"
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
            if pages is not None and _os.path.isdir(
                f"{page_path}/__chunk={j}"
            ):
                # the pages are driver-consumed: read the chunk's own
                # partition directory with pyarrow directly — zero
                # Spark jobs per chunk (a filter+toPandas paid ~0.3 s
                # of stage latency × #chunks, the loop's dominant cost
                # at bench scale). Non-local page_dir (shared FS on a
                # real cluster) falls through to the Spark read below.
                import pyarrow.parquet as _pq

                pdf = (
                    _pq.read_table(f"{page_path}/__chunk={j}")
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
            _write_chunk_parquet(chunk_pdf, out_path, j, time_col)
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
            # the spill files directly (with pushdown), no extra
            # materialisation pass; the files are reclaimed at process
            # exit (_cleanup_at_exit), like any Spark scratch dir
            _cleanup_at_exit(out_path)
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
            doomed.append(_os.path.exists(out_path) and out_path)
        for path in doomed:
            if path:
                jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
                jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                    jpath, True
                )
    ledger = _ledger_df(
        spark, resolver.ledger, time_col, "long" if is_ts else time_type
    )
    if is_ts:
        ledger = ledger.withColumn(
            time_col, F.timestamp_micros(F.col(time_col))
        )
    link_pairs = np.concatenate(links)[:, :2]
    if len(link_pairs) > components.MAX_DRIVER_PAIRS:
        # past the driver union-find budget: track_events hands a
        # DataFrame to the distributed solver
        link_pairs = spark.createDataFrame(
            pd.DataFrame(link_pairs, columns=["id_t", "id_next"]),
            schema="id_t long, id_next long",
        )
    if return_state:
        # timestamp carries stay in epoch micros — _to_epoch_micros
        # passes them through unchanged on the next resume
        state = {"carry": list(carry), "next_new_id": int(resolver.next_new_id)}
        return out_df, ledger, link_pairs, state
    return out_df, ledger, link_pairs


def split_merge_events_parallel(
    labels: DataFrame,
    nx: int = 0,
    block_steps: int | None = None,
    overlap_threshold: float = 0.5,
    wrap_x: bool = True,
    time_col: str = "time",
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    max_iter_per_step: int = 10,
    labels_materialized: bool = False,
    geometry: str = "grid",
    cell_geo: DataFrame | None = None,
    max_driver_cells: int | None = None,
    mesh_edges: DataFrame | None = None,
    ny: int = 0,
) -> tuple:
    """Wall-clock-parallel merge resolution (the reference's batched
    iteration tier, track.py:3804-4814, re-expressed for Spark).

    The time axis splits into blocks of ``block_steps``; every block is
    resolved *concurrently* as one ``applyInPandas`` group running the
    identical block kernel the chunked driver uses (``_resolve_block``),
    with carry-in = the previous block's last two post-resolution
    slices. Because block b's true carry isn't known until b-1 is
    resolved, the driver iterates Jacobi-style: round r feeds every
    block the carry produced in round r-1, until all carries reach a
    fixpoint (block 0 is exact after round 1, block b after ≤ b+1
    rounds, so ≤ #blocks rounds — in practice 2-3, because a block's
    resolution rarely changes its final two slices). Per round the
    driver holds only the carries and ledgers (small); the cells stay
    distributed. The cell set pays ONE range exchange total (cached
    partitioned by block); carries ride a per-round broadcast, so
    every round — including stale re-resolution rounds — is a bare
    filter of that cache with zero further exchanges. Stale rounds
    additionally emit ONLY each block's two carry slices (the sole
    rows any later round consumes) instead of re-materialising whole
    blocks through Arrow; the re-resolved blocks' full frames come
    from one post-convergence final pass, re-run against the exact
    carries they were last resolved with (deterministic kernel ⇒
    byte-identical frames).
    Block-local new ids live in disjoint namespaces
    (``global_max + 1 + block·2^33``) and are renumbered afterwards in
    (block, creation-order) order — exactly the serial counter's time
    order — so output and ledger equal resolving the whole series as
    one block (asserted against tests/reference/merge.py in
    tests/test_merge.py and tests/test_unstructured.py). A series that
    fits one block goes to :func:`split_merge_events_chunked` instead.

    ``geometry="sphere"`` runs the unstructured-mesh form (input
    (time, cell, obj_id) + ``cell_geo`` (cell, lat, lon); haversine
    partitioning; NN partitioning hop-BFS over ``mesh_edges`` (cell,
    nbr) when given) — same Jacobi structure.

    Returns ``(labels, ledger, link_pairs)`` like
    :func:`split_merge_events_chunked`. Every full-output pass (round 0
    and the post-convergence final pass, never a carries-only round)
    also emits its block's link pairs (the converged carry's last slice
    → the first slice, then slice → slice); they ride the ledger's one
    collect and take the same id renumbering.

    Each call logs one DEBUG record (logger ``marex_spark.operators.
    merge``) with the block count, the round count, the stale-block
    count after each round and the link-pair count
    (``merge_link_pairs``).
    """
    grid = geometry == "grid"
    spark = labels.sparkSession
    labels_raw = labels
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
    # ONE pre-pass job: per-time cell counts + running max id give the
    # distinct times, the total cell count, AND global_max together
    # (they used to be three separate jobs — distinct().collect(),
    # count(), agg(max) — each paying the fixed stage latency).
    time_stats = (
        labels.groupBy(time_col)
        .agg(F.count(F.lit(1)).alias("_n"), F.max("obj_id").alias("_mx"))
        .collect()
    )
    time_stats.sort(key=lambda r: r[0])
    times = [r[0] for r in time_stats]
    n_cells_total = int(sum(r["_n"] for r in time_stats))
    global_max = int(
        max((r["_mx"] for r in time_stats if r["_mx"] is not None), default=0)
    )
    time_type = labels.schema[time_col].dataType.simpleString()
    if block_steps is None and times:
        # AUTO block size, two binding constraints:
        # - parallelism: ~one block per core keeps every round's
        #   kernel wave full while minimising per-block fixed costs
        #   (task scheduling, Arrow framing, carry bookkeeping) — on a
        #   sparse series those fixed costs dominate and fewer, longer
        #   blocks measured ~35% faster than 64-step blocks at sf0.1;
        # - memory: a block materialises its cells in ONE kernel, so
        #   steps-per-block caps at TARGET_BLOCK_CELLS / avg cells per
        #   step — at production density this bound takes over and
        #   blocks stay task-memory-sized (and numerous, which also
        #   restores cluster-wide parallelism).
        par = max(1, spark.sparkContext.defaultParallelism)
        avg = max(1.0, n_cells_total / len(times))
        bs_mem = max(1, int(TARGET_BLOCK_CELLS / avg))
        block_steps = max(1, min(max(64, -(-len(times) // par)), bs_mem))
    elif block_steps is None:
        block_steps = 64
    n_blocks = max(1, -(-len(times) // block_steps))
    # hop-BFS NN adjacency: small meshes ride in the block-kernel
    # closure (the same ship-the-edge-list pattern as mesh
    # morphology); past _MESH_ADJ_BCAST_BYTES the CSR ships ONCE per
    # executor as a Spark broadcast variable instead of once per task
    # serialization — a 10⁷-edge mesh is ~160 MB of closure otherwise
    mesh_adj = (
        _collect_mesh_adj(mesh_edges, cell_geo)
        if (not grid and nn_partitioning and mesh_edges is not None)
        else None
    )
    if n_blocks <= 1:
        # one block has no carry to iterate on: the chunked engine
        # resolves it with no Jacobi round
        return split_merge_events_chunked(
            labels if grid else labels_raw,
            nx=nx,
            overlap_threshold=overlap_threshold,
            wrap_x=wrap_x,
            time_col=time_col,
            nn_partitioning=nn_partitioning,
            max_distance=max_distance,
            max_iter_per_step=max_iter_per_step,
            labels_materialized=True,
            geometry=geometry,
            cell_geo=cell_geo,
            max_driver_cells=max_driver_cells,
            mesh_adj=mesh_adj,
            ny=ny,
        )

    block_of = {t: i // block_steps for i, t in enumerate(times)}
    carry_times = set()  # last two times of every non-final block
    for b in range(n_blocks - 1):
        carry_times.update(times[: (b + 1) * block_steps][-2:])
    blocks_df = F.broadcast(
        spark.createDataFrame(
            [(t, b) for t, b in block_of.items()],
            schema=f"{time_col} {time_type}, block long",
        )
    )
    stride = 1 << 33  # global_max computed in the pre-pass above
    mesh_adj_bc = None
    if mesh_adj is not None and mesh_adj.nbytes() > _MESH_ADJ_BCAST_BYTES:
        mesh_adj_bc = spark.sparkContext.broadcast(mesh_adj)
        mesh_adj = None

    coord_cols = ["y", "x"] if grid else ["cell", "lat", "lon"]
    coord_schema = "y long, x long" if grid else "cell long, lat double, lon double"
    # NOT checkpointed: this plan is executed exactly once, as the
    # child of the single range exchange cached as `inp0` below —
    # every resolution round reads that cache, never this join.
    cells_b = labels.select(time_col, *coord_cols, "obj_id").join(
        blocks_df, time_col
    )

    out_schema = (
        f"block long, kind int, seq long, k long, {time_col} {time_type}, "
        f"{coord_schema}, obj_id long, parent long, overlap long"
    )

    def _block_kernel_core(
        b: int,
        cells_pdf: pd.DataFrame,
        carry_pdf: pd.DataFrame | None,
        carries_only: bool = False,
    ) -> pd.DataFrame:
        resolver = _Resolver(
            nx=nx,
            wrap_x=wrap_x,
            overlap_threshold=overlap_threshold,
            max_iter_per_step=max_iter_per_step,
            grid=grid,
            nn_partitioning=nn_partitioning,
            max_distance=max_distance,
            mesh_adj=(
                mesh_adj_bc.value if mesh_adj_bc is not None else mesh_adj
            ),
            ny=ny,
        )
        resolver.next_new_id = global_max + 1 + b * stride
        carry = []
        if carry_pdf is not None and len(carry_pdf):
            cslices, ctimes = resolver.build_slices(carry_pdf, time_col)
            carry = [(ctimes[i], cslices[i]) for i in range(len(ctimes))]
        slices, stimes = resolver.build_slices(cells_pdf, time_col)
        _resolve_block(resolver, carry, slices, stimes)

        def _coords(sl=None):
            if grid:
                return (
                    {"y": sl["c1"], "x": sl["c2"]}
                    if sl is not None
                    else {"y": 0, "x": 0}
                )
            return (
                {"cell": sl["key"], "lat": sl["c1"], "lon": sl["c2"]}
                if sl is not None
                else {"cell": 0, "lat": 0.0, "lon": 0.0}
            )

        def _repeat_times(tsel: list, lens: list) -> np.ndarray:
            if time_type.startswith("timestamp"):
                # datetime64 column, not object: Arrow-serialising an
                # object column of pd.Timestamp goes element by element
                # — at 1.75M cells it was most of the full-output pass
                return np.repeat(pd.DatetimeIndex(tsel).to_numpy(), lens)
            return np.repeat(np.asarray(tsel, dtype=object), lens)

        frames = []
        if stimes:
            # ONE frame for all resolved cells (a frame per timestep
            # plus a concat cost ~40% of the kernel at 300+ steps).
            # carries_only rounds (r10) emit JUST the block's last two
            # post-resolution slices — the only rows any later round
            # consumes — so intermediate rounds stop re-materialising
            # whole blocks through Arrow (guide §2.3/§8: move the
            # lightweight proxy between rounds, the heavy bytes once).
            idxs = (
                list(range(max(0, len(stimes) - 2), len(stimes)))
                if carries_only
                else list(range(len(stimes)))
            )
            tvals = _repeat_times(
                [stimes[i] for i in idxs], [len(slices[i]["id"]) for i in idxs]
            )
            cat = {
                k: np.concatenate([slices[i][k] for i in idxs])
                for k in (("c1", "c2", "id") if grid else ("key", "c1", "c2", "id"))
            }
            cells_cols = (
                {"y": cat["c1"], "x": cat["c2"]}
                if grid
                else {"cell": cat["key"], "lat": cat["c1"], "lon": cat["c2"]}
            )
            frames.append(
                pd.DataFrame(
                    {
                        "block": b,
                        "kind": 0,
                        "seq": 0,
                        "k": 0,
                        time_col: tvals,
                        **cells_cols,
                        "obj_id": cat["id"],
                        "parent": 0,
                        "overlap": 0,
                    }
                )
            )
        if stimes and not carries_only:
            # the link graph of the block's FINAL slices (kind 1, time =
            # the later slice's): the carry's last slice → the first
            # slice, then slice → slice. Full-output passes only: the
            # carry is then the converged predecessor tail (a block
            # never mutates its carry), so cross-block pairs are exact
            chain = [sl for _, sl in carry[-1:]] + [
                slices[i] for i in range(len(stimes))
            ]
            per_step = _link_pairs(chain, overlap_threshold)
            links = np.concatenate([np.empty((0, 3), np.int64), *per_step])
            if len(links):
                frames.append(
                    pd.DataFrame(
                        {
                            "block": b,
                            "kind": 1,
                            "seq": 0,
                            "k": 0,
                            time_col: _repeat_times(
                                stimes[len(stimes) + 1 - len(chain) :],
                                [len(p) for p in per_step],
                            ),
                            **_coords(),
                            "obj_id": links[:, 0],
                            "parent": links[:, 1],
                            "overlap": links[:, 2],
                        }
                    )
                )
        led = resolver.ledger
        for si in range(0 if carries_only else len(led.times)):
            n_par = len(led.parent_ids[si])
            frames.append(
                pd.DataFrame(
                    {
                        "block": b,
                        "kind": 2,
                        "seq": si,
                        "k": np.arange(n_par, dtype=np.int64),
                        time_col: led.times[si],
                        **_coords(),
                        "obj_id": led.child_ids[si],
                        "parent": led.parent_ids[si],
                        "overlap": led.areas[si],
                    }
                )
            )
        if frames:
            return pd.concat(frames, ignore_index=True)
        empty = np.array([], dtype=np.int64)
        empty_coords = (
            {"y": empty, "x": empty}
            if grid
            else {"cell": empty, "lat": empty.astype(float), "lon": empty.astype(float)}
        )
        return pd.DataFrame(
            {
                "block": empty,
                "kind": empty.astype(np.int32),
                "seq": empty,
                "k": empty,
                time_col: pd.to_datetime([]),
                **empty_coords,
                "obj_id": empty,
                "parent": empty,
                "overlap": empty,
            }
        )

    def _mk_round_kernel(carry_bc, carries_only: bool = False):
        """Distributed-round kernel: cells arrive as the group rows,
        the (small) carries ride a per-round broadcast keyed by block —
        so the per-round input plan is a bare filter of the cached
        partitioned cell set, with no carry union and no exchange.
        ``carries_only`` rounds return just the block's last two
        post-resolution slices (see _block_kernel_core)."""

        def _k(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf["block"].iloc[0])
            return _block_kernel_core(
                b, pdf, carry_bc.value.get(b), carries_only=carries_only
            )

        return _k

    key_cols = ["y", "x"] if grid else ["cell"]

    def _carry_key(pdf: pd.DataFrame):
        return sorted(
            zip(pdf[time_col], *[pdf[c] for c in key_cols], pdf["obj_id"])
        )

    # Seed every block's carry with the UNRESOLVED last-two slices of
    # its predecessor: a block's resolution rarely changes its own tail,
    # so the seed is usually already the fixpoint. Round 1 then resolves
    # all blocks against near-true carries, and each later round
    # re-resolves ONLY the blocks whose carry-in actually changed
    # ("stale") — typically none, so the common case is ONE full round
    # plus a cheap stability check instead of two full rounds. The
    # convergence argument is unchanged: a block is re-resolved whenever
    # its desired carry differs from the one it was last resolved with,
    # so at the fixpoint every block has been resolved against the true
    # chain (block 0 exact after round 1, block b after <= b+1 rounds).
    seed_cols = [time_col, *coord_cols, "obj_id", "block"]
    # ONE range exchange for the whole resolution, persisted: every
    # round's kernel input is a bare filter of this cached partitioned
    # table (RangePartitioning(block) satisfies applyInPandas'
    # clustering through a filter, so rounds >= 1 run with ZERO
    # exchanges and no repeated boundary-sampling scan — the A/B that
    # motivated this measured ~3-6.5 s of fixed cost per stale round
    # in the shuffle-per-round form).
    from pyspark.storagelevel import StorageLevel

    n_part = max(n_blocks, spark.sparkContext.defaultParallelism)
    inp0 = cells_b.repartitionByRange(n_part, "block").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if carry_times:
        # first action: materialises the cache AND collects the seeds
        seed_pdf = (
            inp0.filter(F.col(time_col).isin(list(carry_times)))
            .select(*seed_cols)
            .toPandas()
        )
    else:
        seed_pdf = pd.DataFrame(columns=seed_cols)
    carry_in: dict[int, pd.DataFrame | None] = {0: None}
    for b in range(n_blocks - 1):
        g = seed_pdf[seed_pdf["block"] == b][[time_col, *coord_cols, "obj_id"]]
        carry_in[b + 1] = g if len(g) else None
    _UNRESOLVED = object()
    carry_used: dict[int, object] = {b: _UNRESOLVED for b in range(n_blocks)}

    def _same_carry(a, b):
        if a is None or b is None:
            return a is None and b is None
        return _carry_key(a) == _carry_key(b)

    stale = list(range(n_blocks))
    # POST-round stale counts: entry r is how many blocks round r+1
    # re-resolves, so [3, 1, 0] means rounds processed [all, 3, 1]
    stale_log: list[int] = []
    # blocks re-resolved in a carries-only stale round: their full
    # frames are re-materialised ONCE by the post-convergence final pass
    ever_stale: set[int] = set()
    carry_bcs: list = []
    for rnd in range(n_blocks + 1):
        if not stale:
            break
        # a bare filter of the cached partitioned cells (no exchange —
        # RangePartitioning(block) survives the filter and satisfies
        # the groupBy clustering, plan-checked in tests), carries ride
        # a per-round broadcast
        inp = inp0 if rnd == 0 else inp0.filter(F.col("block").isin(stale))
        carry_bc = spark.sparkContext.broadcast(
            {b: carry_in[b] for b in stale if carry_in[b] is not None}
        )
        carry_bcs.append(carry_bc)
        if rnd == 0:
            round0 = fresh = (
                inp.groupBy("block")
                .applyInPandas(_mk_round_kernel(carry_bc), schema=out_schema)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        else:
            # stale rounds: only the carries are ever consumed between
            # rounds, so the kernel emits JUST each block's last two
            # post-resolution slices — the round's one job collects
            # them directly, with no full-output Arrow pass and no
            # persist (the full re-materialisation measured ~1.5-2 s of
            # each 2.5 s stale round at sf0.1; the re-resolved blocks'
            # full frames come from the post-convergence final pass
            # below, byte-identical because the kernel is deterministic
            # in (cells, carry)).
            ever_stale.update(stale)
            fresh = inp.groupBy("block").applyInPandas(
                _mk_round_kernel(carry_bc, carries_only=True),
                schema=out_schema,
            )
        for b in stale:
            carry_used[b] = carry_in[b]
        if carry_times:
            co = fresh.filter(
                (F.col("kind") == 0) & F.col(time_col).isin(list(carry_times))
            ).toPandas()
            for b in stale:
                if b + 1 < n_blocks:
                    g = co[co["block"] == b][[time_col, *coord_cols, "obj_id"]]
                    carry_in[b + 1] = g if len(g) else None
        stale = [
            b
            for b in range(n_blocks)
            if carry_used[b] is _UNRESOLVED
            or not _same_carry(carry_in[b], carry_used[b])
        ]
        stale_log.append(len(stale))
    if stale:
        # invariant: block b is exact after <= b+1 rounds, so #blocks+1
        # rounds always converge — returning here would silently break
        # the equal-to-one-block-resolution contract
        from marex_spark.exceptions import ProcessingError

        raise ProcessingError(
            "parallel merge resolution did not converge",
            details={"rounds": len(stale_log), "n_blocks": n_blocks},
        )

    # post-convergence final pass: blocks re-resolved in a carries-only
    # stale round are re-resolved ONCE against the exact carry each was
    # last resolved with (carry_used) and replace their round-0 frames
    final_blocks = sorted(ever_stale)
    out = round0
    cached = [round0]
    if final_blocks:
        final_bc = spark.sparkContext.broadcast(
            {
                b: carry_used[b]
                for b in final_blocks
                if carry_used[b] is not None
            }
        )
        carry_bcs.append(final_bc)
        ffresh = (
            inp0.filter(F.col("block").isin(final_blocks))
            .groupBy("block")
            .applyInPandas(_mk_round_kernel(final_bc), schema=out_schema)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cached.append(ffresh)
        out = out.filter(~F.col("block").isin(final_blocks)).unionByName(ffresh)

    # ---- ONE job collects the ledger and the link graph; block-local
    # new ids are then renumbered into the serial time-order counter.
    # A link pair shares >= 1 cell of its later slice, so the pair count
    # is bounded by the cell count: the driver-budget check costs a job
    # only when the cells alone exceed the budget
    links_df = out.filter(F.col("kind") == 1)
    budget = components.MAX_DRIVER_PAIRS
    n_links = links_df.count() if n_cells_total > budget else 0
    over_budget = n_links > budget
    col_pdf = (
        out.filter(F.col("kind") >= (2 if over_budget else 1))
        .select("block", "kind", "seq", "k", time_col, "obj_id", "parent", "overlap")
        .toPandas()
    )
    led_pdf = col_pdf[col_pdf["kind"] == 2]
    led_pdf = led_pdf.sort_values(["block", "seq", "k"]).reset_index(drop=True)
    link_pdf = col_pdf[col_pdf["kind"] == 1]
    child_arr = led_pdf["obj_id"].to_numpy(np.int64)
    # block offsets are ascending with block, local ids ascending with
    # creation order → ascending sort IS serial creation order
    created = np.unique(child_arr)
    created = created[created > global_max]

    def _renum_arr(a: np.ndarray) -> np.ndarray:
        """created[i] → global_max+1+i, everything else unchanged
        (vectorised form of the old per-element dict .get loop)."""
        if not len(created) or not len(a):
            return a
        idx = np.searchsorted(created, a)
        idx_c = np.minimum(idx, len(created) - 1)
        hit = created[idx_c] == a
        out_a = a.copy()
        out_a[hit] = global_max + 1 + idx_c[hit]
        return out_a

    def _renum_df(df: DataFrame, col: str) -> DataFrame:
        """The same renumbering as a broadcast join on one id column."""
        if not len(created):
            return df
        map_df = spark.createDataFrame(
            pd.DataFrame(
                {"_old": created, "_new": global_max + 1 + np.arange(len(created))}
            ),
            schema="_old long, _new long",
        )
        return (
            df.join(F.broadcast(map_df), F.col(col) == F.col("_old"), "left")
            .withColumn(col, F.coalesce("_new", col))
            .select(*df.columns)
        )

    cells_out = _renum_df(
        out.filter(F.col("kind") == 0).select(time_col, *key_cols, "obj_id"),
        "obj_id",
    )
    if over_budget:
        # stays distributed; checkpointed before the round caches go
        link_pairs = _renum_df(
            _renum_df(
                links_df.select(
                    F.col("obj_id").alias("id_t"), F.col("parent").alias("id_next")
                ),
                "id_t",
            ),
            "id_next",
        ).localCheckpoint()
    else:
        link_pairs = np.column_stack(
            (
                _renum_arr(link_pdf["obj_id"].to_numpy(np.int64)),
                _renum_arr(link_pdf["parent"].to_numpy(np.int64)),
            )
        )
        n_links = len(link_pairs)
    _log.debug(
        "split_merge_events_parallel: %d blocks, %d rounds, stale after "
        "each round %s, %d link pairs",
        n_blocks,
        len(stale_log),
        stale_log,
        n_links,
        extra={
            "merge_blocks": n_blocks,
            "merge_rounds": len(stale_log),
            "merge_stale": list(stale_log),
            "merge_link_pairs": n_links,
        },
    )

    ledger = MergeLedger([], [], [], [])
    if len(led_pdf):
        child_ren = _renum_arr(child_arr)
        parent_ren = _renum_arr(led_pdf["parent"].to_numpy(np.int64))
        areas_arr = led_pdf["overlap"].to_numpy(np.int64)
        keys = led_pdf[["block", "seq"]].to_numpy(np.int64)
        brk = np.flatnonzero(np.any(np.diff(keys, axis=0) != 0, axis=1)) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(led_pdf)]))
        tvals = led_pdf[time_col]
        for s, e in zip(starts, ends):
            ledger.times.append(tvals.iloc[s])
            ledger.child_ids.append(child_ren[s:e])
            ledger.parent_ids.append(parent_ren[s:e])
            ledger.areas.append(areas_arr[s:e])
    # Materialise the output NOW, then release the round caches: the
    # final round's persisted `out` and the `cells_b` checkpoint would
    # otherwise stay resident for the whole session, accumulating
    # cached blocks across repeated calls (ADVICE r2; the same concern
    # DetectResult.unpersist addresses in detect.py). The eager
    # checkpoint cuts lineage, so dropping the references lets the
    # ContextCleaner reclaim cells_b too.
    cells_out = cells_out.localCheckpoint()
    for df in cached:
        df.unpersist()
    inp0.unpersist()
    for bc in carry_bcs:
        bc.unpersist()
    return cells_out, _ledger_df(spark, ledger, time_col, time_type), link_pairs
