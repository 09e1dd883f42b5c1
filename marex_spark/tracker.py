"""User-facing tracker facade — the Spark analogue of the reference's
``marEx.tracker(...)`` class and ``marEx.regional_tracker(...)``
convenience constructor (reference track.py:66-360 for the parameter
surface, 5471-5560 for the regional variant).

The reference couples configuration (R_fill, T_fill, area filters,
merge policy, regional/unstructured switches) with a ``run()`` driver
that executes preprocess → label → track.  Here the same configuration
maps onto the engine's composable operators:

- hole/gap filling + area filter → ``operators.track.preprocess_extremes``
  (gridded) or the mesh morphology ops (unstructured),
- labelling + overlap linking + split/merge → ``operators.track.
  track_events`` / ``track_events_unstructured``,
- per-event statistics → ``operators.stats`` via the grid dimension
  tables.

Everything stays lazy DataFrames; ``run()`` returns the same
``TrackResult`` the functional API produces, so either entry point can
be used interchangeably.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.exceptions import ConfigurationError, DataValidationError
from marex_spark.operators.track import (
    TrackResult,
    preprocess_extremes,
    track_events,
    track_events_unstructured,
)

_EARTH_RADIUS_KM = 6371.0


def cell_areas_from_resolution(grid_y: DataFrame, resolution_deg: float) -> DataFrame:
    """Per-latitude-band true spherical cell area in km² for a regular
    lat/lon grid of ``resolution_deg`` spacing (the reference's
    ``grid_resolution`` knob, track.py:131-135: "automatically
    calculates cell areas using spherical geometry").

    A(φ) = R² · Δλ · (sin(φ+Δφ/2) − sin(φ−Δφ/2)) — exact for a
    spherical quadrangle, no small-angle approximation.  Returns
    ``grid_y`` with a ``cell_area`` column; broadcast-sized (one row
    per y)."""
    dlam = math.radians(resolution_deg)
    half = resolution_deg / 2.0
    area = (
        F.lit(_EARTH_RADIUS_KM**2)
        * F.lit(dlam)
        * (F.sin(F.radians(F.col("lat") + half)) - F.sin(F.radians(F.col("lat") - half)))
    )
    return grid_y.withColumn("cell_area", F.abs(area))


@dataclass
class Tracker:
    """Configuration + ``run()`` driver mirroring ``marEx.tracker``.

    Parameters (names follow the reference where the concept carries
    over; Spark-specific inputs replace the xarray ones):

    data_bin : boolean long-format DataFrame — (time, y, x, extreme)
        gridded, or (time, cell, extreme) unstructured.  The reference
        takes a boolean DataArray (track.py:85-88).
    mask : optional DataFrame of valid cells — (y, x[, mask]) /
        (cell[, mask]); True = valid (track.py:89-90).  Cells outside
        the mask are forced False before any morphology.
    R_fill : morphological closing/opening radius in grid cells
        (track.py:91-93).
    area_filter_quartile / area_filter_absolute : mutually exclusive
        small-object filters (track.py:94-101); default quartile 0.5
        when neither is given, as in the reference.
    T_fill : permissible temporal gap in steps, must be even
        (track.py:102-104, validation at 706).
    allow_merging / nn_partitioning / overlap_threshold / max_distance:
        split-merge policy knobs (track.py:105-121, 5224-5238).
    unstructured_grid : mesh mode; needs ``edges`` (track.py:122-129).
    grid_y / grid_x : (y, lat) / (x, lon) dimension tables for stats —
        the Spark form of the reference's coordinate arrays.
    cell_geo : (cell, lat, lon[, area]) for unstructured stats.
    cell_areas : optional (y, x, area) / per-band table overriding the
        cos(lat) default (track.py:124-130).
    grid_resolution : degrees; derives true spherical cell areas and
        overrides ``cell_areas`` (track.py:131-135).
    regional_mode / coordinate_units : non-global domain — disables the
        periodic x seam (track.py:149-155; wrap handling 921-940).
        ``coordinate_units`` must be 'degrees' or 'radians' when
        regional.
    """

    data_bin: DataFrame
    mask: DataFrame | None = None
    R_fill: int = 8
    area_filter_quartile: float | None = None
    area_filter_absolute: float | None = None
    T_fill: int = 2
    allow_merging: bool = True
    nn_partitioning: bool = False
    overlap_threshold: float = 0.5
    max_distance: float | None = None
    unstructured_grid: bool = False
    edges: DataFrame | None = None
    ny: int | None = None
    nx: int | None = None
    grid_y: DataFrame | None = None
    grid_x: DataFrame | None = None
    cell_geo: DataFrame | None = None
    cell_areas: DataFrame | None = None
    grid_resolution: float | None = None
    regional_mode: bool = False
    coordinate_units: str | None = None
    time_col: str = "time"
    extreme_col: str = "extreme"
    connectivity: int = 8
    compact_ids: bool = False
    checkpoint: str | None = None  # 'save' | 'load' | None (track.py:138,342)
    temp_dir: str | None = None
    dimensions: dict | None = None  # canonical -> actual column names
    # Replicate the reference's structured-grid area-filter quirk
    # (track.py:1891-1892 "object_ids_keep[0] = -1  # Don't keep
    # ID=0"): regionprops never emits background 0, so that line
    # unconditionally drops the FIRST props row — object ID 1, a real
    # object. Its pinned test statistics bake this in (q=0 filtering
    # reports 1046 -> 1045; the q=0.8 fraction pin 1.5423 only
    # reproduces with the drop). Default True so a reference user gets
    # identical numbers; set False for the engine's own behaviour
    # (keep every object above threshold). Gridded path only — the
    # reference's unstructured branch has no such line.
    drop_first_object: bool = True
    # Input-data attributes carried verbatim onto the run output (the
    # reference copies data_bin.attrs at construction — track.py:
    # 428-430, empty dict when the input has none — and updates them
    # onto events_ds.attrs LAST, after the run-summary attrs, at
    # track.py:1484). DataFrames carry no attrs, so the caller passes
    # them explicitly (e.g. from the NetCDF/zarr ingestion's attribute
    # dict); write_track_result applies them with the same precedence.
    data_attrs: dict | None = None
    extras: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.data_attrs = dict(self.data_attrs or {})
        if self.dimensions is not None:
            # reference track.py:119-127 dimensions mapping; canonical
            # names drive everything downstream
            from marex_spark.datamodel import apply_dimensions

            spatial = ("cell",) if self.unstructured_grid else ("y", "x")
            mapping = dict(self.dimensions)
            mapping.setdefault("extreme", self.extreme_col)
            mapping.setdefault("time", self.time_col)
            self.data_bin = apply_dimensions(
                self.data_bin, mapping,
                unstructured=self.unstructured_grid,
                require=(*spatial, "time", "extreme"),
            )
            self.time_col, self.extreme_col = "time", "extreme"
        if self.checkpoint not in (None, "None", "save", "load"):
            raise ConfigurationError(
                "checkpoint must be 'save', 'load', or None",
                details={"checkpoint": self.checkpoint},
            )
        if self.checkpoint in ("save", "load") and not self.temp_dir:
            raise ConfigurationError(
                "checkpoint='save'/'load' needs temp_dir",
                details={"temp_dir": self.temp_dir},
            )
        if self.T_fill % 2 != 0:
            # reference track.py:706
            raise ConfigurationError(
                "T_fill must be even for temporal symmetry",
                details={"T_fill": self.T_fill},
            )
        if self.area_filter_quartile is not None and self.area_filter_absolute is not None:
            raise ConfigurationError(
                "area_filter_quartile and area_filter_absolute are mutually exclusive",
                details={
                    "area_filter_quartile": self.area_filter_quartile,
                    "area_filter_absolute": self.area_filter_absolute,
                },
            )
        if self.area_filter_quartile is not None and not (
            0.0 <= self.area_filter_quartile < 1.0
        ):
            raise ConfigurationError(
                "area_filter_quartile must be in [0, 1)",
                details={"area_filter_quartile": self.area_filter_quartile},
            )
        if self.area_filter_absolute is not None and self.area_filter_absolute <= 0:
            # reference edge_cases:551-574 — negative/zero absolute
            # thresholds are configuration errors, not silent no-ops
            raise ConfigurationError(
                "area_filter_absolute must be positive",
                details={"area_filter_absolute": self.area_filter_absolute},
            )
        if self.grid_resolution is not None and self.unstructured_grid:
            # reference edge_cases:523-546 — mesh cell areas come from
            # cell_geo, not a regular-grid resolution
            raise DataValidationError(
                "grid_resolution parameter is not supported for "
                "unstructured grids (pass areas via cell_geo)",
                details={"grid_resolution": self.grid_resolution},
            )
        if self.regional_mode:
            if self.unstructured_grid:
                # reference track.py:501-502 raises NotImplementedError
                raise NotImplementedError(
                    "regional_mode is not yet implemented for unstructured grids"
                )
            if self.coordinate_units not in ("degrees", "radians"):
                # reference track.py:922-929
                raise ConfigurationError(
                    "coordinate_units must be specified when regional_mode=True",
                    details={"coordinate_units": self.coordinate_units},
                    suggestions=[
                        "Set coordinate_units='degrees' for degree-based coordinates",
                        "Set coordinate_units='radians' for radian-based coordinates",
                    ],
                )
        if self.unstructured_grid:
            if self.edges is None:
                raise DataValidationError(
                    "unstructured_grid=True needs the (cell, nbr) edge table",
                    details={"edges": None},
                )
            if self.cell_geo is not None:
                # reference test_missing_coordinates_unstructured
                # (tests/test_track_edge_cases.py:198-228): a geometry
                # table without the named spatial coordinates must fail
                # LOUDLY at construction, not as an unresolved-column
                # AnalysisException deep inside the stats plan
                missing = {"cell", "lat", "lon"} - set(self.cell_geo.columns)
                if missing:
                    raise DataValidationError(
                        "Missing required coordinates on cell_geo: "
                        + ", ".join(sorted(missing)),
                        details={
                            "missing": sorted(missing),
                            "columns": list(self.cell_geo.columns),
                        },
                        suggestions=[
                            "cell_geo needs (cell, lat, lon[, area]) columns",
                        ],
                    )
        else:
            if self.nx is None or (self.R_fill > 0 and self.ny is None):
                raise DataValidationError(
                    "gridded tracking needs nx (row-major label encoding) "
                    "and ny when R_fill > 0 (dense morphology kernel shape)",
                    details={"nx": self.nx, "ny": self.ny},
                )
        self._normalize_coordinate_units()

    def _normalize_coordinate_units(self) -> None:
        """Reference _validate_coordinates (track.py:905-977): global
        runs AUTO-DETECT coordinate units from the longitude RANGE
        (≈360 ±1 → degrees, ≈2π ±0.02 → radians, anything else is a
        coordinate error); radian coordinates convert to degrees in
        place (track.py:974-977) so every downstream consumer —
        haversine partitioning, spherical centroids, cos(lat) areas —
        sees degrees. ``coordinate_units`` keeps the DETECTED value
        (the reference's attribute does too). Regional runs must state
        units explicitly (validated above); index-only runs with no
        coordinate tables skip detection entirely."""
        import math

        geo = self.cell_geo if self.unstructured_grid else self.grid_x
        if geo is None or "lon" not in geo.columns:
            return
        if self.coordinate_units is None:
            mn, mx = geo.agg(F.min("lon"), F.max("lon")).first()
            rng = float(mx) - float(mn)
            if abs(rng - 360.0) <= 1.0:
                self.coordinate_units = "degrees"
            elif abs(rng - 2 * math.pi) <= 0.02:
                self.coordinate_units = "radians"
            else:
                raise ConfigurationError(
                    f"Cannot auto-detect coordinate units from range {rng:.3f}",
                    details={
                        "detected_range": rng,
                        "expected": f"~360 degrees or ~{2 * math.pi:.3f} radians",
                    },
                    suggestions=[
                        "Use regional_mode=True with coordinate_units specified for regional data",
                        "Specify coordinate_units='degrees' or coordinate_units='radians' explicitly",
                        "Check that your coordinate values are correct",
                    ],
                )
        if self.coordinate_units == "radians":
            deg = 180.0 / math.pi
            if self.unstructured_grid:
                self.cell_geo = self.cell_geo.withColumn(
                    "lat", F.col("lat") * F.lit(deg)
                ).withColumn("lon", F.col("lon") * F.lit(deg))
            else:
                self.grid_x = self.grid_x.withColumn(
                    "lon", F.col("lon") * F.lit(deg)
                )
                if self.grid_y is not None and "lat" in self.grid_y.columns:
                    self.grid_y = self.grid_y.withColumn(
                        "lat", F.col("lat") * F.lit(deg)
                    )

    # -- internals ---------------------------------------------------

    def _spatial_keys(self) -> list[str]:
        return ["cell"] if self.unstructured_grid else ["y", "x"]

    def _valid_mask_df(self) -> DataFrame | None:
        """Normalized valid-cell key table (gridded (y, x) rows), or
        None. The GRIDDED pipeline applies it AFTER each spatial
        closing/opening (the reference's fill_holes masks as its last
        step, track.py:1671 — data_bin is never pre-masked, so invalid
        cells participate in the morphology and are zeroed after)."""
        if self.mask is None or self.unstructured_grid:
            return None
        m = self.mask
        if "mask" in m.columns:
            m = m.filter(F.col("mask"))
        return m.select("y", "x")

    def _apply_mask(self, d: DataFrame) -> DataFrame:
        """Force cells outside the valid mask to False — the
        UNSTRUCTURED pipeline's pre-clustering rule (track.py:1985)."""
        if self.mask is None:
            return d
        keys = self._spatial_keys()
        m = self.mask
        if "mask" in m.columns:
            m = m.filter(F.col("mask")).select(*keys)
        else:
            m = m.select(*keys)
        valid = m.withColumn("_valid", F.lit(True))
        return (
            d.join(F.broadcast(valid), keys, "left")
            .withColumn(
                self.extreme_col,
                F.col(self.extreme_col) & F.coalesce(F.col("_valid"), F.lit(False)),
            )
            .drop("_valid")
        )

    def _grid_y_with_area(self) -> DataFrame | None:
        if self.grid_y is None:
            return None
        if self.grid_resolution is not None:
            return cell_areas_from_resolution(self.grid_y, self.grid_resolution)
        return self.grid_y

    @property
    def mean_cell_area(self) -> float:
        """Mean of the physical cell-area table, 1.0 when the tracker
        defaults to unit areas / cell counts — the reference exposes
        the same attribute (track.py:481-484: ``self.mean_cell_area =
        float(cell_areas.mean())``) and its tests pin it.

        Gridded: a user ``cell_areas`` (y, x, area) table averages
        directly; a ``grid_resolution``-derived per-band table averages
        unweighted, which equals the full-grid mean because every
        latitude band holds the same ``nx`` cells. Unstructured: the
        ``cell_geo`` area column. One scalar agg; only runs when
        called (diagnostic, not on ``run()``'s path)."""
        if self.unstructured_grid:
            if self.cell_geo is not None and "area" in self.cell_geo.columns:
                v = self.cell_geo.agg(F.avg("area")).first()[0]
                return float(v) if v is not None else 1.0
            return 1.0
        if self.grid_resolution is not None:
            ga = self._grid_y_with_area()
            if ga is not None:
                v = ga.agg(F.avg("cell_area")).first()[0]
                return float(v) if v is not None else 1.0
            return 1.0
        if self.cell_areas is not None and "area" in self.cell_areas.columns:
            v = self.cell_areas.agg(F.avg("area")).first()[0]
            return float(v) if v is not None else 1.0
        return 1.0

    def _preprocess_unstructured(
        self, d: DataFrame, return_labels: bool = False
    ) -> DataFrame:
        """Mesh-mode preprocessing: closing then opening by R hops over
        the edge table (M2), temporal gap fill (M3), then the area
        filter via per-slice mesh labelling (reference unstructured
        preprocess, track.py:1560-1660)."""
        from marex_spark.operators.label import label_components_unstructured
        from marex_spark.operators.morphology import (
            fill_time_gaps_true_set,
            morph_close_open_unstructured,
        )
        from marex_spark.operators.overlap import object_areas

        cells = d.filter(F.col(self.extreme_col)).select(self.time_col, "cell")
        if self.R_fill > 0:
            # ONE kernel pass for the whole closing/opening chain —
            # the frontier-join form pays 2-3 shuffles per hop and its
            # 4·R-round plan costs minutes of Catalyst planning alone;
            # the kernel broadcasts the (metadata-sized) edge list and
            # runs E-length bincount rounds per slice, one shuffle
            # total (same shape as the reference's sparse_bool_power)
            # symmetrize=False: the reference's sparse dilation matrix
            # uses the neighbour lists AS GIVEN (directed) — real mesh
            # fixtures carry asymmetric boundary rows
            cells = morph_close_open_unstructured(
                cells, self.edges, self.R_fill, time_col=self.time_col,
                symmetrize=False,
            ).localCheckpoint()
        # True-set chain (mirrors preprocess_extremes): gap rows are
        # GENERATED from consecutive True days, so a sparse-True input
        # gets the same temporal closing a dense field does, and the
        # dense-field join the old form paid per run disappears.
        if self.T_fill > 0:
            cells = fill_time_gaps_true_set(
                cells, self.T_fill, d, self.time_col, keys=("cell",)
            )
            # re-fill spatial holes opened by the temporal closing with
            # R/2 — the reference's fill_time_gaps ends with
            # fill_holes(R_fill // 2) on BOTH geometries
            # (track.py:1724); the gridded path already mirrors it
            if self.R_fill > 1:
                cells = morph_close_open_unstructured(
                    cells,
                    self.edges,
                    self.R_fill // 2,
                    time_col=self.time_col,
                    symmetrize=False,
                )
        dense = cells.withColumn(self.extreme_col, F.lit(True)).localCheckpoint()

        quartile = self._area_quartile()
        absolute = self.area_filter_absolute
        if quartile <= 0 and absolute is None:
            if return_labels:
                return label_components_unstructured(
                    dense, self.edges, time_col=self.time_col,
                    extreme_col=self.extreme_col,
                )
            return (
                d.drop(self.extreme_col)
                .join(
                    dense.select(self.time_col, "cell", self.extreme_col),
                    [self.time_col, "cell"],
                    "full",
                )
                .withColumn(
                    self.extreme_col,
                    F.coalesce(F.col(self.extreme_col), F.lit(False)),
                )
            )

        labels = label_components_unstructured(
            dense, self.edges, time_col=self.time_col, extreme_col=self.extreme_col
        )
        # The reference's UNSTRUCTURED filter works on CELL COUNTS and
        # keeps strictly ABOVE the threshold; in quartile mode the
        # percentile runs only over objects > 50 cells (its documented
        # performance pre-filter, track.py:1812-1815 — which raises the
        # threshold versus an all-objects percentile), > 5 in absolute
        # mode. Mirrored exactly; the gridded branch keeps its
        # area-based >= semantics, as the reference's does.
        areas = object_areas(labels, time_col=self.time_col)
        if absolute is not None:
            keep = areas.filter(F.col("n_cells") > float(absolute)).select(
                "obj_id"
            )
        else:
            thr = areas.filter(F.col("n_cells") > 50).agg(
                F.percentile("n_cells", F.lit(quartile)).alias("thr")
            )
            keep = (
                areas.crossJoin(F.broadcast(thr))
                .filter(F.col("n_cells") > F.col("thr"))
                .select("obj_id")
            )
        kept = labels.join(keep, "obj_id", "left_semi")
        if return_labels:
            # same contract as the gridded fused path: dropping whole
            # components keeps the remaining labels valid tracking input
            return kept.select(self.time_col, "cell", "obj_id")
        kept = kept.withColumn("_k", F.lit(True))
        # boolean form: rows = input rows ∪ surviving cells (the True
        # set no longer carries the input's False rows)
        return (
            d.drop(self.extreme_col)
            .join(
                kept.select(self.time_col, "cell", "_k"),
                [self.time_col, "cell"],
                "full",
            )
            .withColumn(self.extreme_col, F.coalesce(F.col("_k"), F.lit(False)))
            .drop("_k")
        )

    def _area_quartile(self) -> float:
        """The small-object quartile in effect: 0.5 when neither area
        filter is given (reference default, track.py:94-96), 0 under
        an absolute floor."""
        if self.area_filter_quartile is None and self.area_filter_absolute is None:
            return 0.5
        return self.area_filter_quartile or 0.0

    def _preprocess_gridded(self, return_labels: bool = False) -> DataFrame:
        """Gridded preprocessing with this tracker's settings: the
        boolean field, or its surviving labelled cells."""
        return preprocess_extremes(
            self.data_bin,
            ny=self.ny or 0,
            nx=self.nx,
            r_fill=self.R_fill,
            t_fill=self.T_fill,
            area_quartile=self._area_quartile(),
            wrap_x=not self.regional_mode,
            time_col=self.time_col,
            extreme_col=self.extreme_col,
            area_filter_absolute=self.area_filter_absolute,
            return_labels=return_labels,
            connectivity=self.connectivity,
            mask=self._valid_mask_df(),
            drop_first_object=self.drop_first_object,
        )

    # -- public API --------------------------------------------------

    def _checkpoint_path(self) -> str:
        # also guards the run(checkpoint=...)/run_preprocess(checkpoint=...)
        # overrides, which bypass the constructor validation
        if not self.temp_dir:
            raise ConfigurationError(
                "checkpoint='save'/'load' needs temp_dir",
                details={"temp_dir": self.temp_dir},
            )
        return f"{self.temp_dir}/marex_checkpoint_proc_bin.parquet"

    def run_preprocess(self, checkpoint: str | None = None) -> DataFrame:
        """Morphological preprocessing only (the reference's
        ``run_preprocess``, track.py:1234-1368): mask → closing/opening
        → temporal gap fill → small-object filter.

        ``checkpoint`` overrides the instance strategy (track.py:1234):
        'load' reads the preprocessed field back from ``temp_dir``
        (skipping all morphology); 'save' materialises it to parquet
        and re-reads — durable lineage break, the reference's
        checkpoint-zarr analogue (track.py:1317-1327)."""
        from marex_spark.logging_config import get_logger, log_timing

        log = get_logger("tracker")
        ckpt = checkpoint or self.checkpoint
        if ckpt == "load":
            log.info("Loading preprocessed data from checkpoint")
            return self.data_bin.sparkSession.read.parquet(self._checkpoint_path())

        with log_timing(log, "Morphological preprocessing"):
            if self.unstructured_grid:
                out = self._preprocess_unstructured(self._apply_mask(self.data_bin))
            else:
                out = self._preprocess_gridded()
        if ckpt == "save":
            from marex_spark.sources.io import checkpoint_parquet

            log.info("Saving preprocessed data to checkpoint")
            out = checkpoint_parquet(out, self._checkpoint_path())
        return out

    def preprocess_stats(self) -> dict:
        """The reference's preprocessing ``object_stats`` diagnostics
        (track.py:1330-1351): object counts and area fractions around
        the small-object filter.  Keys: ``total_area_IDed``,
        ``N_objects_prefiltered``, ``N_objects_filtered``,
        ``area_threshold``, ``accepted_area_fraction``,
        ``preprocessed_area_fraction``.

        Runs its own labelling pass over the hole/gap-filled field (the
        engine's filter does not expose its internals), so this is an
        opt-in diagnostic job, not part of ``run()``'s critical path.
        All reductions are distributed aggs; only six scalars reach the
        driver."""
        from marex_spark.operators.overlap import object_areas

        # raw area of the INPUT field (reference track.py:1285 —
        # computed before fill_holes, so unmasked on the gridded path).
        # The reference's unstructured compute_area (track.py:1513-1514)
        # weights by PHYSICAL cell_areas — counts and physical areas
        # differ on variable-resolution meshes (ICON), so use the
        # cell_geo area column when it is available.
        raw_src = (
            self._apply_mask(self.data_bin)
            if self.unstructured_grid
            else self.data_bin
        )
        phys = (
            self.unstructured_grid
            and self.cell_geo is not None
            and "area" in self.cell_geo.columns
        )
        if phys:
            # LEFT join + coalesce(0): cells missing from a user-supplied
            # cell_geo must not drop rows (that would corrupt the
            # count-based stats the reference defines over ALL cells)
            cell_area = self.cell_geo.select("cell", F.col("area").alias("_ca"))
            raw_area = float(
                raw_src.filter(F.col(self.extreme_col))
                .join(cell_area, "cell", "left")
                .agg(F.sum(F.coalesce("_ca", F.lit(0.0))))
                .first()[0]
                or 0.0
            )
        else:
            raw_area = raw_src.filter(F.col(self.extreme_col)).count()

        # hole/gap filling WITHOUT the area filter
        saved = (
            self.area_filter_quartile,
            self.area_filter_absolute,
            self.drop_first_object,
        )
        self.area_filter_quartile, self.area_filter_absolute = 0.0, None
        self.drop_first_object = False
        try:
            if self.unstructured_grid:
                filled = self._preprocess_unstructured(raw_src)
            else:
                filled = self._preprocess_gridded()
        finally:
            (
                self.area_filter_quartile,
                self.area_filter_absolute,
                self.drop_first_object,
            ) = saved
        filled = filled.localCheckpoint()

        if self.unstructured_grid:
            from marex_spark.operators.label import label_components_unstructured

            labels = label_components_unstructured(
                filled, self.edges, time_col=self.time_col,
                extreme_col=self.extreme_col,
            )
        else:
            from marex_spark.operators.label import label_components

            labels = label_components(
                filled, nx=self.nx, time_col=self.time_col,
                extreme_col=self.extreme_col, wrap_x=not self.regional_mode,
            )
        if phys:
            # physical per-object areas ride alongside the counts; the
            # filter thresholds stay COUNT-based (reference cluster_sizes,
            # track.py:1786-1843) — only the preprocessed-area fraction
            # is physically weighted (compute_area, track.py:1513-1514)
            labels = labels.join(cell_area, "cell", "left").withColumn(
                "_ca", F.coalesce("_ca", F.lit(0.0))
            )
            areas = object_areas(labels, time_col=self.time_col, area_col="_ca")
        else:
            areas = object_areas(labels, time_col=self.time_col)

        quartile = self._area_quartile()
        if self.unstructured_grid:
            # the reference's mesh conventions (track.py:1812-1849):
            # count-based, strictly-above threshold, percentile (and
            # the REPORTED prefiltered count) over objects above the
            # performance pre-filter (> 50 cells; > 5 in absolute mode)
            prefilter = 5.0 if self.area_filter_absolute is not None else 50.0
            eligible = areas.filter(F.col("n_cells") > prefilter)
            if self.area_filter_absolute is not None:
                thr = float(self.area_filter_absolute)
            else:
                thr = float(
                    eligible.agg(
                        F.percentile("n_cells", F.lit(quartile))
                    ).first()[0]
                )
            # total_area_IDed / accepted_area_fraction are COUNT-based
            # like the reference's cluster_sizes (track.py:1838-1841);
            # the physically-weighted kept-cell area feeds only the
            # preprocessed fraction's denominator
            row = areas.agg(
                F.sum(F.when(F.col("n_cells") > prefilter, 1).otherwise(0)).alias(
                    "n_pre"
                ),
                F.sum("n_cells").cast("double").alias("total"),
                F.sum(F.when(F.col("n_cells") > thr, 1).otherwise(0)).alias(
                    "n_post"
                ),
                F.sum(
                    F.when(F.col("n_cells") > thr, F.col("n_cells"))
                ).cast("double").alias("accepted"),
                F.sum(F.when(F.col("n_cells") > thr, F.col("area"))).alias(
                    "accepted_phys"
                ),
            ).first()
            accepted_phys = float(row.accepted_phys or 0.0)
        else:
            if self.area_filter_absolute is not None:
                thr = float(self.area_filter_absolute)
            else:
                thr = float(
                    areas.agg(
                        F.percentile("area", F.lit(quartile))
                    ).first()[0]
                )
            # reference quirk (track.py:1891-1892): the kept set and its
            # reported stats exclude the first props row — object ID 1
            # (see Tracker.drop_first_object)
            kept_pred = F.col("area") >= thr
            if self.drop_first_object:
                first_id = areas.agg(F.min("obj_id")).first()[0]
                kept_pred = kept_pred & (F.col("obj_id") != F.lit(first_id))
            row = areas.agg(
                F.count("*").alias("n_pre"),
                F.sum("area").alias("total"),
                F.sum(F.when(kept_pred, 1).otherwise(0)).alias("n_post"),
                F.sum(F.when(kept_pred, F.col("area"))).alias("accepted"),
            ).first()
            accepted_phys = float(row.accepted or 0.0)  # gridded = pixels
        total = float(row.total or 0.0)
        accepted = float(row.accepted or 0.0)
        return {
            "total_area_IDed": total,
            "N_objects_prefiltered": int(row.n_pre),
            "N_objects_filtered": int(row.n_post),
            "area_threshold": thr,
            "accepted_area_fraction": accepted / total if total else float("nan"),
            "preprocessed_area_fraction": (
                raw_area / accepted_phys if accepted_phys else float("nan")
            ),
        }

    def run(
        self, return_merges: bool = False, checkpoint: str | None = None
    ):
        """Preprocess then track; the reference's ``tracker.run()``
        (track.py:1162-1232, signature at 1163). Returns the engine's
        ``TrackResult`` (events / timestep_stats / lifetime_stats /
        merge ledger) — or ``(TrackResult, merges_df)`` when
        ``return_merges=True``, matching the reference's two-value
        form. ``checkpoint`` overrides the instance strategy for the
        preprocessing stage.

        Unless a checkpoint strategy needs the boolean field on disk,
        the area filter's labels feed tracking directly, skipping a
        second labelling pass: event structure is identical, only the
        arbitrary obj-id numbering differs."""
        if checkpoint:
            if checkpoint not in ("save", "load"):
                raise ConfigurationError(
                    "checkpoint override must be 'save' or 'load'",
                    details={"checkpoint": checkpoint},
                )
            saved = self.checkpoint
            self.checkpoint = checkpoint
            try:
                res = self.run(return_merges=return_merges)
            finally:
                self.checkpoint = saved
            return res
        res = self._run_impl()
        if self.data_attrs:
            res.extras.setdefault("data_attrs", dict(self.data_attrs))
        if return_merges:
            return res, res.extras.get("merge_ledger")
        return res

    def _run_impl(self) -> TrackResult:
        labels = None
        if self.checkpoint in ("save", "load"):
            cleaned = self.run_preprocess()
        else:
            cleaned = self.data_bin.limit(0)  # unused when labels given
            if self.unstructured_grid:
                labels = self._preprocess_unstructured(
                    self._apply_mask(self.data_bin), return_labels=True
                )
            else:
                labels = self._preprocess_gridded(return_labels=True)
        if self.unstructured_grid:
            return track_events_unstructured(
                cleaned,
                self.edges,
                cell_geo=self.cell_geo,
                overlap_threshold=self.overlap_threshold,
                time_col=self.time_col,
                extreme_col=self.extreme_col,
                allow_merging=self.allow_merging,
                nn_partitioning=self.nn_partitioning,
                max_distance=self.max_distance,
                compact_ids=self.compact_ids,
                labels=labels,
            )
        gy = self._grid_y_with_area()
        res = track_events(
            cleaned,
            nx=self.nx,
            ny=self.ny or 0,
            grid_y=gy,
            grid_x=self.grid_x,
            overlap_threshold=self.overlap_threshold,
            connectivity=self.connectivity,
            wrap_x=not self.regional_mode,
            time_col=self.time_col,
            extreme_col=self.extreme_col,
            compute_stats=gy is not None and self.grid_x is not None,
            allow_merging=self.allow_merging,
            nn_partitioning=self.nn_partitioning,
            max_distance=self.max_distance,
            compact_ids=self.compact_ids,
            labels=labels,
            cell_areas=self.cell_areas if self.grid_resolution is None else None,
            # reference no-merge tracking is 3-D labelling with an
            # all-ones structure — objects link when they TOUCH
            # (diagonals included), ungated (track.py:2013)
            link_adjacency=not self.allow_merging,
        )
        return res


    def extend(self, prior, prior_timestep_stats: DataFrame | None = None):
        """Incremental append: treat this tracker's ``data_bin`` as the
        NEW timesteps and extend ``prior`` (a ``TrackResult`` or its
        events DataFrame) without recomputing history — the
        per-ingest-cycle form of ``run()``
        (operators/track.py extend_track_events; exact no-merge parity
        with a full recompute, id-free parity for merge runs).

        Preprocessing (mask, morphology, area filter) applies to the
        new slices only — see extend_track_events' boundary caveats
        (T_fill closing across the append boundary; a quartile area
        filter re-quantiles over the new slices alone, so prefer
        ``area_filter_absolute`` for append workflows; likewise the
        reference's first-object drop (``drop_first_object``) applies
        per preprocessing run — set it False for appends that must
        equal a single full run)."""
        from marex_spark.operators.track import (
            extend_track_events,
            extend_track_events_unstructured,
        )

        events = prior.events if hasattr(prior, "events") else prior
        if self.unstructured_grid:
            if prior_timestep_stats is None and hasattr(prior, "timestep_stats"):
                prior_timestep_stats = prior.timestep_stats
            cleaned = self.run_preprocess()
            return extend_track_events_unstructured(
                events,
                cleaned,
                self.edges,
                cell_geo=self.cell_geo,
                prior_timestep_stats=prior_timestep_stats,
                overlap_threshold=self.overlap_threshold,
                time_col=self.time_col,
                extreme_col=self.extreme_col,
                compute_stats=self.cell_geo is not None
                and prior_timestep_stats is not None,
                allow_merging=self.allow_merging,
                nn_partitioning=self.nn_partitioning,
                max_distance=self.max_distance,
                prior_merge_ledger=(
                    prior.extras.get("merge_ledger")
                    if hasattr(prior, "extras")
                    else None
                ),
            )
        if prior_timestep_stats is None and hasattr(prior, "timestep_stats"):
            prior_timestep_stats = prior.timestep_stats
        prior_ledger = (
            prior.extras.get("merge_ledger")
            if hasattr(prior, "extras")
            else None
        )
        cleaned = self.run_preprocess()
        gy = self._grid_y_with_area()
        return extend_track_events(
            events,
            cleaned,
            nx=self.nx,
            ny=self.ny or 0,
            grid_y=gy,
            grid_x=self.grid_x,
            prior_timestep_stats=prior_timestep_stats,
            overlap_threshold=self.overlap_threshold,
            connectivity=self.connectivity,
            wrap_x=not self.regional_mode,
            time_col=self.time_col,
            extreme_col=self.extreme_col,
            compute_stats=gy is not None
            and self.grid_x is not None
            and prior_timestep_stats is not None,
            cell_areas=self.cell_areas if self.grid_resolution is None else None,
            allow_merging=self.allow_merging,
            nn_partitioning=self.nn_partitioning,
            max_distance=self.max_distance,
            prior_merge_ledger=prior_ledger,
        )


def tracker(data_bin: DataFrame, mask: DataFrame | None = None, **kwargs) -> Tracker:
    """Lower-case constructor matching the reference's class name
    (``marEx.tracker``, track.py:66)."""
    return Tracker(data_bin, mask, **kwargs)


def regional_tracker(
    data_bin: DataFrame,
    mask: DataFrame | None = None,
    *,
    coordinate_units: str,
    R_fill: int,
    area_filter_quartile: float | None = None,
    area_filter_absolute: float | None = None,
    **kwargs,
) -> Tracker:
    """Regional (non-global) convenience constructor: sets
    ``regional_mode=True`` and requires explicit coordinate units,
    exactly as the reference (track.py:5471-5560).  Regional mode turns
    the periodic x seam off — objects do not wrap across the domain
    edge."""
    return Tracker(
        data_bin,
        mask,
        regional_mode=True,
        coordinate_units=coordinate_units,
        R_fill=R_fill,
        area_filter_quartile=area_filter_quartile,
        area_filter_absolute=area_filter_absolute,
        **kwargs,
    )
