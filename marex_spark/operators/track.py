"""Tracker orchestration (reference ``tracker(...).run()``,
track.py:323-491/1162-1232).

No-merge path: label per timestep → temporal overlap graph (Spark,
operators/overlap.py) → event components → remap → stats. Merge path:
label → split/merge resolver (operators/merge.py), whose kernel also
emits the link graph of its final slices → event components → remap
→ stats.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.operators.components import (
    connected_components_driver,
    mapping_from_pairs,
    remap_ids,
    remap_ids_sparse,
)
from marex_spark.operators.label import label_components
from marex_spark.operators.overlap import (
    filter_overlap_fraction,
    object_areas,
    overlap_pairs,
)
from marex_spark.operators.stats import (
    attach_geo,
    event_lifetime_stats,
    event_timestep_stats,
)


def preprocess_extremes(
    extremes: DataFrame,
    ny: int,
    nx: int,
    r_fill: int = 8,
    t_fill: int = 2,
    area_quartile: float = 0.5,
    wrap_x: bool = True,
    time_col: str = "time",
    extreme_col: str = "extreme",
    area_filter_absolute: float | None = None,
    return_labels: bool = False,
    connectivity: int = 8,
    mask: DataFrame | None = None,
    drop_first_object: bool = False,
) -> DataFrame:
    """The tracker's run_preprocess (track.py:1234-1368) on a grid, as
    one pass over time blocks. Steps: closing/opening by disk(R)
    (M1), mask, temporal gap fill (M3), closing/opening by disk(R // 2)
    on the gap-filled field, mask, per-slice labelling (M4), then the
    small-object filter (A11+P6). The filter works by area QUARTILE
    (default) or by an ABSOLUTE floor (``area_filter_absolute``, the
    reference's regional-mode knob). The two are mutually exclusive
    unless the quartile is 0, and the floor must be positive (reference
    tests/test_track_edge_cases.py:551-605).

    The input may be a dense boolean field OR a sparse True-only set:
    the chain runs on the True cells, and gap days are GENERATED, not
    flipped, so both densities give the same surviving cells. A gap
    day must be a time value of the input (any row, True or not);
    missing calendar days count towards a gap but are never generated.

    ``mask`` (valid (y, x) rows) is collected once into a dense grid.
    The reference applies it AFTER each closing/opening, never to the
    input: extremes on invalid cells (land) take part in the
    morphology and are zeroed afterwards (track.py:1671 is fill_holes'
    LAST step). Masking the input instead measurably diverges on the
    reference's own fixture (tests/test_reference_parity.py).

    Plan: ``timeblocks.map_time_blocks`` sends the True cells to blocks
    of ``timeblocks.BLOCK_DAYS`` days with a ``t_fill``-day halo, and
    :func:`~marex_spark.operators.morphology.preprocess_block` runs the
    whole chain per block in one ``mapInArrow`` pass. The halo makes
    the gap fill exact: a gap of at most ``t_fill`` days never reaches
    past it. The kernel output is checkpointed, then ONE aggregate over
    the one-row-per-object heads returns the per-time max local id and
    the percentile threshold. The driver turns the former into
    exclusive-cumsum offsets (W6, track.py:2762-2766, over the
    unfiltered objects, so obj_ids equal the staged chain's). A
    map-side pass then drops small objects (and, with
    ``drop_first_object``, obj_id 1, the reference's quirk at
    track.py:1891-1892) and
    adds the offsets. At most four Spark jobs run before the result is
    consumed; nothing O(#objects) reaches the driver.

    ``return_labels=True`` returns the LABELLED surviving cells
    (time, y, x, obj_id), ready for ``track_events(labels=...)``.
    Otherwise the output is the cleaned boolean field, whose rows are
    the input rows ∪ the surviving cells. The staged reference this
    pass must equal is ``tests/reference/preprocess.py``."""
    from marex_spark.exceptions import ConfigurationError
    from marex_spark.logging_config import get_logger
    from marex_spark.operators import timeblocks
    from marex_spark.operators.morphology import preprocess_block

    if area_filter_absolute is not None:
        if area_filter_absolute <= 0:
            raise ConfigurationError(
                "area_filter_absolute must be positive",
                details={"got": area_filter_absolute},
            )
        if area_quartile not in (0, 0.5):
            raise ConfigurationError(
                "Cannot specify both area filtering parameters "
                "(area_quartile and area_filter_absolute)",
                details={
                    "area_quartile": area_quartile,
                    "area_filter_absolute": area_filter_absolute,
                },
            )
    if r_fill > 0 and ny <= 0:
        raise ConfigurationError(
            "ny is required when r_fill > 0 (dense morphology kernel shape)",
            details={"ny": ny, "r_fill": r_fill},
        )
    # the reference's filter runs even at quartile 0 (threshold = min
    # area keeps everything): significant only for its first-object
    # drop (track.py:1891-1892), which applies there too
    by_quartile = area_filter_absolute is None and (
        area_quartile > 0 or drop_first_object
    )
    labelled = return_labels or by_quartile or area_filter_absolute is not None
    valid = _dense_mask(mask, ny, nx) if mask is not None else None
    batch_cells = timeblocks.SLICE_BATCH_CELLS

    def kernel(days, own, slices, cols):
        return preprocess_block(
            days, own, slices, cols["y"], cols["x"], ny=ny, nx=nx,
            r_fill=r_fill, t_fill=t_fill, wrap_x=wrap_x, valid=valid,
            connectivity=connectivity, batch_cells=batch_cells,
        )

    cells = timeblocks.map_time_blocks(
        extremes.select(time_col, "y", "x", extreme_col),
        time_col,
        extreme_col,
        t_fill,
        kernel,
        "y int, x int, local_id int, n_cells int, head boolean",
    )
    record = {"block_days": timeblocks.BLOCK_DAYS, "halo_days": t_fill}
    kept = cells.select(time_col, "y", "x")
    if labelled:
        kept, stats = _filter_and_number(
            cells, time_col, area_quartile if by_quartile else None,
            area_filter_absolute, drop_first_object,
        )
        record.update(stats)
    get_logger(__name__).debug(
        "preprocess_extremes: fused time-block pass %s", record, extra=record
    )
    if return_labels:
        return kept
    return (
        extremes.drop(extreme_col)
        .join(
            kept.select(time_col, "y", "x", F.lit(True).alias("_t")),
            [time_col, "y", "x"],
            "full",
        )
        .withColumn(extreme_col, F.coalesce(F.col("_t"), F.lit(False)))
        .drop("_t")
    )


def _dense_mask(mask: DataFrame, ny: int, nx: int):
    """Valid (y, x) rows → dense bool grid of ``max(ny, max y + 1)``
    rows, collected once."""
    import numpy as np

    tbl = mask.select("y", "x").toArrow()
    ys = tbl["y"].to_numpy().astype(np.int64)
    xs = tbl["x"].to_numpy().astype(np.int64)
    valid = np.zeros((max(ny, int(ys.max()) + 1 if len(ys) else 0), nx), dtype=bool)
    valid[ys, xs] = True
    return valid


def _filter_and_number(
    cells: DataFrame,
    time_col: str,
    quartile: float | None,
    min_area: float | None,
    drop_first: bool,
) -> tuple[DataFrame, dict]:
    """Labelled block-kernel rows → (surviving (time, y, x, obj_id),
    record of the pass for the DEBUG log).

    One aggregate over the head rows gives the per-time max local id
    and, in quartile mode, the percentile of object cell counts (the
    grand-total row of the rollup; the staged area filter runs the same
    aggregate). An object's area is its cell count, so ``area >= thr`` is
    ``n_cells >= thr``."""
    import logging

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from marex_spark.functions.temporal import epoch_day
    from marex_spark.logging_config import get_logger
    from marex_spark.operators import timeblocks

    cells = cells.localCheckpoint(eager=False)
    heads = cells.filter(F.col("head"))
    aggs = [
        F.max("local_id").alias("max_id"),
        F.max(epoch_day(time_col)).alias("day"),
    ]
    thr = None if min_area is None else float(min_area)
    if quartile is not None:
        area = F.col("n_cells").cast("double")
        aggs.append(F.percentile(area, F.lit(quartile)).alias("thr"))
        per_time = heads.rollup(time_col).agg(*aggs).toArrow()
        is_total = pc.is_null(per_time[time_col])
        total = per_time.filter(is_total)
        per_time = per_time.filter(pc.invert(is_total))
        thr = total["thr"][0].as_py() if total.num_rows else None
    else:
        per_time = heads.groupBy(time_col).agg(*aggs).toArrow()
    codes = timeblocks.time_to_int64(per_time[time_col])
    order = np.argsort(codes)
    codes = codes[order]
    max_id = per_time["max_id"].to_numpy().astype(np.int64)[order]
    offsets = np.cumsum(max_id) - max_id

    def number(batches):
        for b in batches:
            # a quartile threshold is None only when there are no rows
            keep = np.ones(b.num_rows, dtype=bool)
            if thr is not None:
                keep = b.column("n_cells").to_numpy() >= thr
            t = timeblocks.time_to_int64(b.column(time_col))
            obj = b.column("local_id").to_numpy().astype(np.int64)
            obj += offsets[np.searchsorted(codes, t)]
            if drop_first:
                keep &= obj != 1
            rows = pa.array(np.nonzero(keep)[0])
            yield pa.RecordBatch.from_arrays(
                [b.column(c).take(rows) for c in (time_col, "y", "x")]
                + [pa.array(obj).take(rows)],
                names=[time_col, "y", "x", "obj_id"],
            )

    schema = (
        f"{time_col} {cells.schema[time_col].dataType.simpleString()}, "
        "y int, x int, obj_id long"
    )
    days = per_time["day"].to_numpy()
    record = {
        "blocks": len(np.unique(days // timeblocks.BLOCK_DAYS)),
        "objects": int(max_id.sum()),
        "area_threshold": thr,
    }
    if get_logger(__name__).isEnabledFor(logging.DEBUG):
        # two extra jobs, only when the record is logged
        record["objects_kept"] = heads.mapInArrow(number, schema=schema).count()
    return cells.mapInArrow(number, schema=schema), record


@dataclass
class TrackResult:
    """Labelled events + property tables (the Spark form of the
    reference's output Dataset, track.py:210-221)."""

    events: DataFrame  # (time, y, x, obj_id, event_id)
    timestep_stats: DataFrame | None = None
    lifetime_stats: DataFrame | None = None
    extras: dict = field(default_factory=dict)


def track_events(
    extremes: DataFrame,
    nx: int,
    ny: int = 0,
    grid_y: DataFrame | None = None,
    grid_x: DataFrame | None = None,
    overlap_threshold: float = 0.0,
    connectivity: int = 8,
    wrap_x: bool = True,
    time_col: str = "time",
    extreme_col: str = "extreme",
    compute_stats: bool = True,
    allow_merging: bool = False,
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    merge_parallel: bool = True,
    merge_block_steps: int | None = None,
    compact_ids: bool = False,
    labels: DataFrame | None = None,
    cell_areas: DataFrame | None = None,
    max_driver_cells: int | None = None,
    link_adjacency: bool = False,
) -> TrackResult:
    """Boolean extreme field → globally labelled events with stats.

    ``link_adjacency=True`` links objects that merely TOUCH between
    consecutive steps (±1 neighbourhood incl. diagonals) instead of
    sharing cells — the reference's no-merge semantics, whose 3-D
    labelling uses an all-ones 3×3×3 structure ("edges can touch",
    track.py:2013); ``overlap_threshold`` is ignored in that mode, as
    the reference's no-merge path never gates. Mutually exclusive with
    ``allow_merging`` (the resolver's transitions are exact-cell
    overlap by definition, track.py:2396-2452).

    ``compact_ids=False`` (default) keeps event_id = the component-root
    object id: stable, deterministic, and computed with NO global-order
    window. ``True`` renumbers events densely 1..K — a single-partition
    dense_rank over every object id (the reference's in-memory dict
    renumber, track.py:2888-2897); opt in only when dense ids are
    actually needed, it is the one non-scalable step in the plan.

    overlap_threshold=0 reproduces the reference's no-merge 3-D
    connectivity (M5 via J5+M7: any overlap links two objects); >0
    applies the overlap/min-area fraction gate (track.py:2506-2552)
    before linking.

    allow_merging=True runs the reference's split/merge resolution
    (track.py:3337-3802): multi-parent children are partitioned among
    parents by nearest parent centroid, merges are recorded in the
    ledger (``extras["merge_ledger"]``), and partition-boundary
    fragments are re-consolidated (M10) before event linking. Events
    are linked from the link pairs the resolver kernel emits for its
    final slices — the pairs, areas and gate ``overlap_pairs`` +
    ``object_areas`` + ``filter_overlap_fraction`` would compute over
    its output — so merge mode runs no Spark overlap chain: union-find
    on the driver, then the remap. Past
    ``components.MAX_DRIVER_PAIRS`` the pairs stay distributed and go
    to the distributed solver.

    Two resolver engines produce the same labels and ledger:
    ``merge_parallel=True`` (default) resolves time blocks concurrently
    on the executors with a Jacobi carry fixpoint
    (split_merge_events_parallel; ``merge_block_steps`` sets the block
    size, ``None`` auto-sizes it from parallelism and a per-block cell
    budget); ``merge_parallel=False`` runs the driver-paged chunk loop
    (split_merge_events_chunked; driver memory O(one cell-budgeted
    page), ``max_driver_cells`` caps a page).
    """
    if link_adjacency and allow_merging:
        from marex_spark.exceptions import ConfigurationError

        raise ConfigurationError(
            "link_adjacency applies to no-merge tracking only "
            "(merge-mode transitions are exact-cell overlap)",
        )
    if labels is None:
        labels = label_components(
            extremes,
            nx=nx,
            time_col=time_col,
            connectivity=connectivity,
            wrap_x=wrap_x,
            extreme_col=extreme_col,
        )
        # label_components already checkpoints its output, so the
        # self-join below reads materialised rows rather than
        # re-running the UDF.
    else:
        # pre-labelled input (e.g. filter_small_objects
        # return_labels=True): skip the labelling pass entirely; the
        # merge/overlap stages need materialised rows
        labels = labels.localCheckpoint()
    extras: dict = {
        # linking provenance — rewind_track_run re-links with the
        # SAME gate and numbering (persisted via write_track_result)
        "overlap_threshold": overlap_threshold,
        "compact_ids": compact_ids,
    }
    link_pairs = None
    if allow_merging:
        from marex_spark.operators.merge import (
            split_merge_events_chunked,
            split_merge_events_parallel,
        )

        if merge_parallel:
            labels, ledger, link_pairs = split_merge_events_parallel(
                labels,
                nx=nx,
                ny=ny,
                block_steps=merge_block_steps,
                overlap_threshold=overlap_threshold,
                wrap_x=wrap_x,
                time_col=time_col,
                nn_partitioning=nn_partitioning,
                max_distance=max_distance,
                labels_materialized=True,
                max_driver_cells=max_driver_cells,
            )
        else:
            labels, ledger, link_pairs = split_merge_events_chunked(
                labels,
                nx=nx,
                ny=ny,
                overlap_threshold=overlap_threshold,
                wrap_x=wrap_x,
                time_col=time_col,
                nn_partitioning=nn_partitioning,
                max_distance=max_distance,
                labels_materialized=True,  # label_components checkpoints
                max_driver_cells=max_driver_cells,
            )
        # both engines return MATERIALIZED labels (the parallel
        # engine's cells_out localCheckpoint, the chunked engine's
        # parquet spill) — re-checkpointing here paid a second full
        # materialization of the cell set per tracking run
        extras["merge_ledger"] = ledger

    if link_adjacency:
        from marex_spark.operators.overlap import adjacency_pairs

        link_pairs = adjacency_pairs(
            labels, nx=nx, wrap_x=wrap_x, time_col=time_col,
            connectivity=connectivity,
        )
    elif link_pairs is None:
        link_pairs = _overlap_links(
            labels, ("y", "x"), time_col, overlap_threshold
        )
    events = _link_events(labels, link_pairs, compact_ids)

    ts_stats = life = None
    if compute_stats and grid_y is not None and grid_x is not None:
        ts_stats = _timestep_stats_with_areas(
            events, grid_y, grid_x, cell_areas, time_col
        )
        life = event_lifetime_stats(ts_stats, time_col=time_col)
    return TrackResult(
        events=events, timestep_stats=ts_stats, lifetime_stats=life, extras=extras
    )


def _overlap_links(
    labels: DataFrame, keys: tuple, time_col: str, overlap_threshold: float
) -> DataFrame:
    """The Spark link graph (no-merge tracking and extension): overlap
    pairs between consecutive steps, gated by the overlap fraction when
    ``overlap_threshold > 0``."""
    pairs = overlap_pairs(labels, keys=keys, time_col=time_col)
    if overlap_threshold > 0:
        areas = object_areas(labels, time_col=time_col)
        pairs = filter_overlap_fraction(pairs, areas, overlap_threshold)
    return pairs


def _link_events(labels: DataFrame, pairs, compact_ids: bool) -> DataFrame:
    """Event ids from a link graph: connected components, then the
    remap. ``pairs`` is an (id_t, id_next) DataFrame, or the merge
    resolver's int64 ``(n, 2)`` array, already on the driver (union-find
    with no Spark job). ``compact_ids=False`` uses root-id numbering:
    the sparse mapping + coalescing remap skip the all-ids distinct
    pass over the cell table (identical rows)."""
    if isinstance(pairs, np.ndarray):
        mapping = mapping_from_pairs(
            pairs, labels, compact=compact_ids, include_singletons=compact_ids
        )
    else:
        mapping = connected_components_driver(
            pairs, labels, compact=compact_ids, include_singletons=compact_ids
        )
    if compact_ids:
        return remap_ids(labels, mapping)
    return remap_ids_sparse(labels, mapping)


def _mesh_timestep_stats(events, cell_geo, time_col: str):
    """Per-timestep stats on a mesh: broadcast the (cell, lat, lon
    [, area]) geometry, defaulting area to 1. Shared by
    track_events_unstructured, the mesh extension, and rewind."""
    geo = events.join(F.broadcast(cell_geo), "cell")
    if "area" not in geo.columns:
        geo = geo.withColumn("area", F.lit(1.0))
    return event_timestep_stats(geo, time_col=time_col)


def _timestep_stats_with_areas(
    events: DataFrame,
    grid_y: DataFrame,
    grid_x: DataFrame,
    cell_areas: DataFrame | None,
    time_col: str,
) -> DataFrame:
    """Per-timestep stats with the area-precedence rule (reference
    track.py:131-135): a cell_area column on the y dimension table
    (grid_resolution / cell_areas_from_resolution) wins; else a user
    (y, x, area) table; else the cos(lat) proxy. Shared by
    track_events and extend_track_events."""
    area_col = "cell_area" if "cell_area" in grid_y.columns else None
    ev = events
    if area_col is None and cell_areas is not None:
        ev = events.join(
            F.broadcast(
                cell_areas.select("y", "x", F.col("area").alias("_user_area"))
            ),
            ["y", "x"],
            "left",
        )
    geo = attach_geo(ev, grid_y, grid_x, area_col=area_col)
    if area_col is None and cell_areas is not None:
        geo = geo.withColumn(
            "area", F.coalesce(F.col("_user_area"), F.col("area"))
        ).drop("_user_area")
    return event_timestep_stats(geo, time_col=time_col)


def track_events_unstructured(
    extremes: DataFrame,
    edges: DataFrame,
    cell_geo: DataFrame | None = None,
    overlap_threshold: float = 0.0,
    time_col: str = "time",
    extreme_col: str = "extreme",
    compute_stats: bool = True,
    allow_merging: bool = False,
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    merge_parallel: bool = True,
    merge_block_steps: int | None = None,
    compact_ids: bool = False,
    labels: DataFrame | None = None,
    max_driver_cells: int | None = None,
) -> TrackResult:
    """Unstructured-mesh tracking (reference unstructured path,
    track.py:1023-1117 setup + M6/M2 kernels): boolean (time, cell)
    field + (cell, nbr) edge table → labelled events.

    ``cell_geo``: (cell, lat, lon[, area]) dimension table — needed for
    stats and for merge partitioning (haversine to parent centroids).

    ``labels``: pre-labelled (time, cell, obj_id) input (e.g. from the
    mesh area filter) — skips the labelling pass.

    ``allow_merging=True`` links events from the resolver kernel's link
    pairs, as :func:`track_events` does; no-merge tracking builds the
    overlap graph in Spark.
    """
    from marex_spark.operators.label import label_components_unstructured

    if labels is None:
        # label_components_unstructured checkpoints its final output
        labels = label_components_unstructured(
            extremes, edges, time_col=time_col, extreme_col=extreme_col
        )
    else:
        labels = labels.localCheckpoint()

    extras: dict = {
        # linking provenance — rewind_track_run re-links with the
        # SAME gate and numbering (persisted via write_track_result)
        "overlap_threshold": overlap_threshold,
        "compact_ids": compact_ids,
    }
    if allow_merging:
        if cell_geo is None:
            from marex_spark.exceptions import TrackingError

            raise TrackingError(
                "allow_merging needs cell_geo",
                details={"expected_columns": "(cell, lat, lon)"},
                suggestions=["pass cell_geo=grid dimension table"],
            )
        from marex_spark.operators.merge import (
            _collect_mesh_adj,
            split_merge_events_chunked,
            split_merge_events_parallel,
        )

        if merge_parallel:
            labels, ledger, link_pairs = split_merge_events_parallel(
                labels,
                block_steps=merge_block_steps,
                overlap_threshold=overlap_threshold,
                time_col=time_col,
                nn_partitioning=nn_partitioning,
                max_distance=max_distance,
                geometry="sphere",
                cell_geo=cell_geo,
                max_driver_cells=max_driver_cells,
                # reference hop-BFS NN (partition_nn_unstructured):
                # max_distance is in HOPS on the mesh path
                mesh_edges=edges if nn_partitioning else None,
            )
        else:
            labels, ledger, link_pairs = split_merge_events_chunked(
                labels,
                overlap_threshold=overlap_threshold,
                time_col=time_col,
                nn_partitioning=nn_partitioning,
                max_distance=max_distance,
                geometry="sphere",
                cell_geo=cell_geo,
                max_driver_cells=max_driver_cells,
                mesh_adj=(
                    _collect_mesh_adj(edges, cell_geo)
                    if nn_partitioning
                    else None
                ),
            )
        # both engines return MATERIALIZED labels (the parallel
        # engine's cells_out localCheckpoint, the chunked engine's
        # parquet spill) — re-checkpointing here paid a second full
        # materialization of the cell set per tracking run
        extras["merge_ledger"] = ledger
    else:
        link_pairs = _overlap_links(labels, ("cell",), time_col, overlap_threshold)
    events = _link_events(labels, link_pairs, compact_ids)

    ts_stats = life = None
    if compute_stats and cell_geo is not None:
        ts_stats = _mesh_timestep_stats(events, cell_geo, time_col)
        life = event_lifetime_stats(ts_stats, time_col=time_col)
    return TrackResult(
        events=events, timestep_stats=ts_stats, lifetime_stats=life, extras=extras
    )


def extend_track_events(
    prior_events: DataFrame,
    new_extremes: DataFrame,
    nx: int,
    ny: int = 0,
    grid_y: DataFrame | None = None,
    grid_x: DataFrame | None = None,
    prior_timestep_stats: DataFrame | None = None,
    overlap_threshold: float = 0.0,
    connectivity: int = 8,
    wrap_x: bool = True,
    time_col: str = "time",
    extreme_col: str = "extreme",
    compute_stats: bool = True,
    cell_areas: DataFrame | None = None,
    allow_merging: bool = False,
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    prior_merge_ledger: DataFrame | None = None,
    prior_head: tuple | None = None,
) -> TrackResult:
    """Incremental append tracking: extend a finished run with new
    timesteps WITHOUT recomputing history — the operation a
    production pipeline runs per ingest cycle, where the archive is
    100 TB and the new month is a rounding error.

    ``prior_events`` is a previous :func:`track_events` output
    (``compact_ids=False`` — root-stable ids are what make extension
    possible). Only the new slices plus the single boundary slice are
    touched:

    - new slices are labelled with ids offset past the prior maximum —
      exactly the ids a full re-run would assign (per-slice labels are
      dense 1..n and W6 offsets are prefix sums, so continuing the
      cumsum from ``max(obj_id)`` reproduces it);
    - the overlap graph is built over (boundary slice ∪ new slices)
      only; boundary objects enter the union-find collapsed to their
      prior event_id. Because every old event_id (a component-min) is
      smaller than every new obj_id, the min-root rule yields the same
      event ids as a full recompute — including the case where a new
      object bridges TWO old events, which merges them (their prior
      rows are remapped);
    - equality with the full recompute is pinned in
      tests/test_track.py (any overlap_threshold, either
      connectivity).

    Stats: per-timestep stats are computed for the new slices only and
    unioned with ``prior_timestep_stats`` (remapped through any old-old
    merges); lifetime stats are re-aggregated from the (small) combined
    per-timestep table. Without ``prior_timestep_stats`` the returned
    stats are None.

    Caveats (documented, not silent): the input must be the
    *preprocessed* boolean field — morphological time-gap closing
    (T_fill) spans the boundary, so run ``preprocess_extremes`` over
    the new slices plus the trailing ``t_fill`` old slices first if
    gap-bridging across the append boundary matters; and a prior run
    made with a global area QUARTILE froze that quantile — extension
    keeps it (pass ``area_filter_absolute`` workflows for exactness).

    ``allow_merging=True`` extends a split/merge run: the chunked
    resolver (split_merge_events_chunked, paged by its cell budget)
    resumes from (carry = the prior run's last two resolved slices,
    rebuilt from ``prior_events``; id counter past the prior max),
    which is the complete between-chunk sequencing state. The
    resulting partition STRUCTURE and ledger match a from-scratch run,
    but id VALUES are a consistent relabelling rather than numerically
    identical — a full recompute reseeds its id counter from the
    global label maximum, so it does not even preserve the prior run's
    own ids (tests pin id-free lifetime-stat and ledger-shape
    equality). New merge events land in ``extras['merge_ledger']``,
    appended to ``prior_merge_ledger`` when given.
    """
    prior_max_time, prior_max_id = _extend_head(
        prior_events, new_extremes, time_col, prior_head
    )

    labels_new = label_components(
        new_extremes,
        nx=nx,
        time_col=time_col,
        connectivity=connectivity,
        wrap_x=wrap_x,
        extreme_col=extreme_col,
    ).withColumn("obj_id", (F.col("obj_id") + F.lit(prior_max_id)).cast("long"))
    labels_new = labels_new.localCheckpoint()

    extras: dict = {
        "prior_max_time": prior_max_time,
        "prior_max_obj_id": prior_max_id,
        "overlap_threshold": overlap_threshold,
        "compact_ids": False,
    }
    if allow_merging:
        labels_new, extras["merge_ledger"] = _extend_resume_merge(
            prior_events, labels_new, prior_max_id, time_col,
            overlap_threshold, nn_partitioning, max_distance,
            prior_merge_ledger,
            nx=nx, ny=ny, wrap_x=wrap_x, cell_geo=None,
        )

    events, events_new, events_old, ev_remap = _extend_link(
        prior_events, labels_new, ("y", "x"), time_col,
        prior_max_time, overlap_threshold,
    )

    ts_stats = life = None
    if (
        compute_stats
        and grid_y is not None
        and grid_x is not None
        and prior_timestep_stats is not None
    ):
        ts_stats = _extend_stats(
            prior_timestep_stats, events_new, events_old, ev_remap,
            prior_max_id, time_col,
            lambda ev: _timestep_stats_with_areas(
                ev, grid_y, grid_x, cell_areas, time_col
            ),
        )
        life = event_lifetime_stats(ts_stats, time_col=time_col)
    return TrackResult(
        events=events,
        timestep_stats=ts_stats,
        lifetime_stats=life,
        extras=extras,
    )


def _extend_head(
    prior_events: DataFrame,
    new_extremes: DataFrame,
    time_col: str,
    prior_head: tuple | None,
):
    """Shared extension preamble: resolve (max time, max obj_id) of the
    prior run — from the archive metadata when given (skipping the one
    job that would scan the whole prior events table), else by
    aggregation — and reject appended data that overlaps the prior
    window."""
    from marex_spark.exceptions import ConfigurationError

    if prior_head is not None:
        prior_max_time, prior_max_id = prior_head[0], int(prior_head[1])
    else:
        head = prior_events.agg(
            F.max(time_col).alias("t_max"), F.max("obj_id").alias("id_max")
        ).collect()[0]
        if head.t_max is None:
            raise ConfigurationError(
                "prior_events is empty — run tracking first"
            )
        prior_max_time, prior_max_id = head.t_max, int(head.id_max)

    bad = new_extremes.filter(F.col(time_col) <= F.lit(prior_max_time)).limit(1)
    if bad.count() > 0:
        raise ConfigurationError(
            "new_extremes overlaps the prior run — extension needs "
            "strictly later timesteps",
            details={"prior_max_time": str(prior_max_time)},
        )
    return prior_max_time, prior_max_id


def _extend_resume_merge(
    prior_events: DataFrame,
    labels_new: DataFrame,
    prior_max_id: int,
    time_col: str,
    overlap_threshold: float,
    nn_partitioning: bool,
    max_distance: float | None,
    prior_merge_ledger: DataFrame | None,
    nx: int = 0,
    ny: int = 0,
    wrap_x: bool = True,
    cell_geo: DataFrame | None = None,
    mesh_edges: DataFrame | None = None,
):
    """Shared merge-mode resumption for both extension paths: rebuild
    the resolver carry from the prior run's last two resolved slices
    (prior events ARE the post-resolution labels, put back into the
    resolver's slice layout by the same build_slices pass), resume the
    chunked resolver over the new labels only, and append the new
    ledger after the prior one with dense merge ids.
    ``cell_geo=None`` selects grid geometry; a (cell, lat, lon) table
    selects the sphere form. Returns (resolved labels, ledger)."""
    from marex_spark.exceptions import ConfigurationError
    from marex_spark.operators.merge import (
        _Resolver,
        _collect_mesh_adj,
        split_merge_events_chunked,
    )

    grid = cell_geo is None
    mesh_adj = (
        _collect_mesh_adj(mesh_edges, cell_geo)
        if (not grid and nn_partitioning and mesh_edges is not None)
        else None
    )
    tail_times = [
        r[0]
        for r in prior_events.select(time_col)
        .distinct()
        .orderBy(F.desc(time_col))
        .limit(2)
        .collect()
    ]
    if not tail_times:
        # reachable only via an explicit prior_head over an empty
        # events table (e.g. clobbered archive with a surviving
        # attributes.json) — _extend_head's agg path catches it earlier
        raise ConfigurationError(
            "prior_events has no timesteps — cannot resume the merge "
            "resolver",
        )
    tail = prior_events.filter(F.col(time_col) >= F.lit(min(tail_times)))
    if grid:
        tail_pdf = tail.select(time_col, "y", "x", "obj_id").toPandas()
    else:
        tail_pdf = (
            tail.select(time_col, "cell", "obj_id")
            .join(F.broadcast(cell_geo.select("cell", "lat", "lon")), "cell")
            .select(time_col, "cell", "lat", "lon", "obj_id")
            .toPandas()
        )
    seed = _Resolver(
        nx=nx, wrap_x=wrap_x if grid else False,
        overlap_threshold=overlap_threshold,
        max_iter_per_step=10, grid=grid,
        nn_partitioning=nn_partitioning, max_distance=max_distance,
    )
    c_slices, c_times = seed.build_slices(tail_pdf, time_col)
    resume = {
        "carry": [(c_times[i], c_slices[i]) for i in range(len(c_times))],
        "next_new_id": prior_max_id + 1,
    }
    resolved, new_ledger, _ = split_merge_events_chunked(
        labels_new,
        nx=nx,
        ny=ny,
        overlap_threshold=overlap_threshold,
        wrap_x=wrap_x if grid else False,
        time_col=time_col,
        nn_partitioning=nn_partitioning,
        max_distance=max_distance,
        labels_materialized=grid,  # the sphere path re-joins geometry
        resume_state=resume,
        geometry="grid" if grid else "sphere",
        cell_geo=cell_geo,
        mesh_adj=mesh_adj,
    )
    ledger = (
        prior_merge_ledger.unionByName(
            new_ledger.withColumn(
                "merge_id",
                (F.col("merge_id") + F.lit(prior_merge_ledger.count())).cast(
                    "long"
                ),
            )
        )
        if prior_merge_ledger is not None
        else new_ledger
    )
    return resolved, ledger


def _extend_link(
    prior_events: DataFrame,
    labels_new: DataFrame,
    keys: tuple,
    time_col: str,
    prior_max_time,
    overlap_threshold: float,
):
    """Shared boundary-linking core of the extension path: overlap
    graph over (boundary slice ∪ new labels), boundary objects
    collapsed to their prior event ids, min-root union-find, remap.
    Returns (events, events_new, events_old, ev_remap)."""
    boundary = prior_events.filter(F.col(time_col) == F.lit(prior_max_time))
    if boundary.limit(1).count() == 0:
        # a mis-parsed prior_head (wrong type/timezone) would match an
        # empty boundary and silently skip linking — refuse instead
        from marex_spark.exceptions import ConfigurationError

        raise ConfigurationError(
            "boundary slice is empty — prior_head does not match any "
            "timestep of prior_events",
            details={"prior_max_time": str(prior_max_time)},
        )
    cols = [time_col, *keys, "obj_id"]
    combined = boundary.select(*cols).unionByName(labels_new.select(*cols))

    pairs = _overlap_links(combined, keys, time_col, overlap_threshold)

    # collapse boundary objects to their prior event id; new ids pass
    # through (broadcast: one slice's objects)
    b_map = boundary.select("obj_id", "event_id").distinct()
    pairs_n = (
        pairs.join(
            F.broadcast(b_map.select(F.col("obj_id").alias("id_t"),
                                     F.col("event_id").alias("_ev_t"))),
            "id_t",
            "left",
        )
        .select(
            F.coalesce("_ev_t", F.col("id_t")).alias("id_t"),
            "id_next",
            *(["overlap_area"] if "overlap_area" in pairs.columns else []),
        )
    )
    nodes = (
        b_map.select(F.col("event_id").alias("obj_id")).distinct()
        .unionByName(labels_new.select("obj_id").distinct())
    )
    mapping = connected_components_driver(pairs_n, nodes, compact=False)

    events_new = remap_ids(labels_new, mapping)
    # old events touched by a merge get remapped; everything else is
    # identity (left join keeps untouched history untouched)
    ev_remap = mapping.select(
        F.col("obj_id").alias("event_id"), F.col("event_id").alias("_ev2")
    )
    events_old = (
        prior_events.join(F.broadcast(ev_remap), "event_id", "left")
        .withColumn("event_id", F.coalesce("_ev2", F.col("event_id")))
        .drop("_ev2")
    )
    out_cols = [*cols, "event_id"]
    events = events_old.select(*out_cols).unionByName(
        events_new.select(*out_cols)
    )
    return events, events_new, events_old, ev_remap


def _extend_stats(
    prior_timestep_stats: DataFrame,
    events_new: DataFrame,
    events_old: DataFrame,
    ev_remap: DataFrame,
    prior_max_id: int,
    time_col: str,
    stats_fn,
) -> DataFrame:
    """Combined per-timestep stats for an extension. Old events that
    MERGED (a new object bridged them) would leave duplicate
    (time, event_id) rows after a bare remap — and the
    weighted-centroid recombination is not recoverable from the stats
    rows (each row keeps only the unit direction, not the cartesian
    sum). The merged set is tiny, so recompute those events' old-slice
    stats exactly from their cell rows; untouched events keep their
    prior rows verbatim. Only OLD event nodes (ids <= prior max) whose
    root changed indicate an old-old merge; a NEW obj id mapping to an
    old root is an ordinary continuation and touches no old stats."""
    ts_new = stats_fn(events_new)
    merged = ev_remap.filter(
        (F.col("event_id") != F.col("_ev2"))
        & (F.col("event_id") <= F.lit(prior_max_id))
    )
    merged_roots = merged.select(F.col("_ev2").alias("event_id")).distinct()
    ts_keep = prior_timestep_stats.join(
        F.broadcast(merged.select("event_id").unionByName(merged_roots)),
        "event_id",
        "left_anti",
    )
    ts_merged = stats_fn(
        events_old.join(F.broadcast(merged_roots), "event_id", "semi")
    )
    return ts_keep.unionByName(ts_merged).unionByName(ts_new)


def extend_track_events_unstructured(
    prior_events: DataFrame,
    new_extremes: DataFrame,
    edges: DataFrame,
    cell_geo: DataFrame | None = None,
    prior_timestep_stats: DataFrame | None = None,
    overlap_threshold: float = 0.0,
    time_col: str = "time",
    extreme_col: str = "extreme",
    compute_stats: bool = True,
    prior_head: tuple | None = None,
    allow_merging: bool = False,
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    prior_merge_ledger: DataFrame | None = None,
) -> TrackResult:
    """Incremental append tracking on an unstructured mesh — the
    (time, cell) form of :func:`extend_track_events`, same exactness
    argument (labels continue the W6 cumsum; boundary objects collapse
    to prior event ids; min-root numbering reproduces the full
    recompute).

    ``allow_merging=True`` resumes the sphere-geometry chunked resolver
    (split_merge_events_chunked, paged by its cell budget) from the
    prior run's last two resolved slices (joined with
    ``cell_geo``, which is required) — same structural-parity contract
    as the gridded merge extension (id values are a consistent
    relabelling, partition structure and ledger match a from-scratch
    run)."""
    from marex_spark.operators.label import label_components_unstructured

    if allow_merging and cell_geo is None:
        from marex_spark.exceptions import TrackingError

        raise TrackingError(
            "allow_merging extension needs cell_geo",
            details={"expected_columns": "(cell, lat, lon)"},
        )
    prior_max_time, prior_max_id = _extend_head(
        prior_events, new_extremes, time_col, prior_head
    )

    labels_new = label_components_unstructured(
        new_extremes, edges, time_col=time_col, extreme_col=extreme_col
    ).withColumn("obj_id", (F.col("obj_id") + F.lit(prior_max_id)).cast("long"))
    labels_new = labels_new.localCheckpoint()

    extras: dict = {
        "prior_max_time": prior_max_time,
        "prior_max_obj_id": prior_max_id,
        "overlap_threshold": overlap_threshold,
        "compact_ids": False,
    }
    if allow_merging:
        labels_new, extras["merge_ledger"] = _extend_resume_merge(
            prior_events, labels_new, prior_max_id, time_col,
            overlap_threshold, nn_partitioning, max_distance,
            prior_merge_ledger,
            cell_geo=cell_geo,
            mesh_edges=edges if nn_partitioning else None,
        )

    events, events_new, events_old, ev_remap = _extend_link(
        prior_events, labels_new, ("cell",), time_col,
        prior_max_time, overlap_threshold,
    )

    ts_stats = life = None
    if compute_stats and cell_geo is not None and prior_timestep_stats is not None:

        def _mesh_stats(ev):
            return _mesh_timestep_stats(ev, cell_geo, time_col)

        ts_stats = _extend_stats(
            prior_timestep_stats, events_new, events_old, ev_remap,
            prior_max_id, time_col, _mesh_stats,
        )
        life = event_lifetime_stats(ts_stats, time_col=time_col)
    return TrackResult(
        events=events,
        timestep_stats=ts_stats,
        lifetime_stats=life,
        extras=extras,
    )
