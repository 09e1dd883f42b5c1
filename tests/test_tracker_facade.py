"""Tracker facade (marex_spark.tracker) — the reference's
``marEx.tracker(...)`` / ``regional_tracker(...)`` API surface
(reference track.py:66-360, 5471-5560) on top of the engine operators.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from marex_spark.exceptions import ConfigurationError, DataValidationError
from marex_spark.operators.track import preprocess_extremes, track_events
from marex_spark.sources.synthetic import synthetic_extremes_gridded
from marex_spark.tracker import (
    Tracker,
    cell_areas_from_resolution,
    regional_tracker,
    tracker,
)

NY, NX = 24, 48


def _grid_dims(spark):
    gy = spark.range(NY).select(
        F.col("id").cast("int").alias("y"),
        (-85.0 + F.col("id") * (170.0 / (NY - 1))).alias("lat"),
    )
    gx = spark.range(NX).select(
        F.col("id").cast("int").alias("x"),
        ((F.col("id") + 0.5) * (360.0 / NX)).alias("lon"),
    )
    return gy, gx


class TestValidation:
    def test_t_fill_must_be_even(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(ConfigurationError, match="T_fill must be even"):
            Tracker(ext, ny=NY, nx=NX, T_fill=3)

    def test_area_filters_mutually_exclusive(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(ConfigurationError, match="mutually exclusive"):
            Tracker(
                ext, ny=NY, nx=NX,
                area_filter_quartile=0.5, area_filter_absolute=10,
            )

    def test_negative_area_filter_absolute(self, spark):
        # reference edge_cases:551-574
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(ConfigurationError, match="must be positive"):
            Tracker(ext, ny=NY, nx=NX, area_filter_absolute=-100.0)

    def test_grid_resolution_rejected_on_mesh(self, spark):
        # reference edge_cases:523-546
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        edges = ext.sparkSession.createDataFrame(
            [(0, 1)], "cell long, nbr long"
        )
        with pytest.raises(DataValidationError, match="not supported for"):
            Tracker(
                ext.selectExpr("time", "CAST(y*8+x AS LONG) AS cell", "extreme"),
                unstructured_grid=True, edges=edges, grid_resolution=0.1,
            )

    def test_missing_coordinates_on_cell_geo(self, spark):
        # reference edge_cases:198-228: a geometry table without the
        # named spatial coordinates fails loudly at construction
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        edges = ext.sparkSession.createDataFrame(
            [(0, 1)], "cell long, nbr long"
        )
        bad_geo = ext.sparkSession.createDataFrame(
            [(0, 1.0)], "cell long, weight double"
        )
        with pytest.raises(
            DataValidationError, match="Missing required coordinates"
        ):
            Tracker(
                ext.selectExpr("time", "CAST(y*8+x AS LONG) AS cell", "extreme"),
                unstructured_grid=True, edges=edges, cell_geo=bad_geo,
            )

    def test_regional_needs_units(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(ConfigurationError, match="coordinate_units"):
            Tracker(ext, ny=NY, nx=NX, regional_mode=True)

    def test_regional_unstructured_not_implemented(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(NotImplementedError):
            Tracker(
                ext, regional_mode=True, coordinate_units="degrees",
                unstructured_grid=True, edges=ext.limit(0),
            )

    def test_gridded_needs_nx(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(DataValidationError, match="nx"):
            Tracker(ext)


class TestRunParity:
    """tracker(...).run() must equal the functional pipeline it wraps."""

    def test_run_matches_functional_composition(self, spark):
        """The facade reuses the area filter's labels as tracking input:
        the same ids as preprocess_extremes(return_labels=True) handed
        to track_events(labels=...)."""
        ext = synthetic_extremes_gridded(spark, n_time=10, ny=NY, nx=NX)
        t = tracker(
            ext, ny=NY, nx=NX, R_fill=2, T_fill=2,
            area_filter_quartile=0.25, allow_merging=False,
            overlap_threshold=0.5,
        )
        got = t.run().events

        labels = preprocess_extremes(
            ext, ny=NY, nx=NX, r_fill=2, t_fill=2, area_quartile=0.25,
            # the facade defaults to the reference's first-object-drop
            # quirk (track.py:1891-1892) — the composition must too
            drop_first_object=True, return_labels=True,
        )
        # the facade's no-merge tracking uses the reference's 3-D
        # touch-linking semantics (link_adjacency), not the gated
        # exact-cell overlap form
        want = track_events(
            ext.limit(0), nx=NX, compute_stats=False, link_adjacency=True,
            labels=labels,
        ).events

        cols = ["time", "y", "x", "obj_id", "event_id"]
        g = sorted(map(tuple, got.select(*cols).collect()))
        w = sorted(map(tuple, want.select(*cols).collect()))
        assert g and g == w

    def test_fused_default_same_structure(self, spark):
        """Reusing the filter's labels gives the same cells and event
        partition structure as relabelling the preprocessed field
        (run_preprocess() + track_events); only the ids renumber."""
        from collections import defaultdict

        ext = synthetic_extremes_gridded(spark, n_time=10, ny=NY, nx=NX)

        def structure(events):
            groups = defaultdict(set)
            for r in events.collect():
                groups[r.event_id].add((str(r.time), r.y, r.x))
            return frozenset(frozenset(v) for v in groups.values())

        t = tracker(
            ext, ny=NY, nx=NX, R_fill=2, T_fill=2,
            area_filter_quartile=0.25, allow_merging=False,
            overlap_threshold=0.5,
        )
        fused = t.run().events
        two_pass = track_events(
            t.run_preprocess(), nx=NX, compute_stats=False,
            link_adjacency=True,
        ).events
        assert structure(fused) == structure(two_pass)

    def test_default_area_quartile_is_half(self, spark):
        """Neither filter given → quartile 0.5, as the reference defaults
        (track.py:94-96)."""
        ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
        t = tracker(ext, ny=NY, nx=NX, R_fill=0, T_fill=0, allow_merging=False)
        via_default = t.run_preprocess()
        via_explicit = preprocess_extremes(
            ext, ny=NY, nx=NX, r_fill=0, t_fill=0, area_quartile=0.5
        )
        n_def = via_default.filter(F.col("extreme")).count()
        n_exp = via_explicit.filter(F.col("extreme")).count()
        assert n_def == n_exp

    def test_mask_zeroes_invalid_cells(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
        # mask out the left half of the domain
        mask = (
            spark.range(NY).select(F.col("id").cast("int").alias("y"))
            .crossJoin(spark.range(NX).select(F.col("id").cast("int").alias("x")))
            .withColumn("mask", F.col("x") >= NX // 2)
        )
        t = tracker(
            ext, mask, ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
        )
        events = t.run().events
        assert events.filter(F.col("x") < NX // 2).count() == 0
        assert events.count() > 0

    def test_stats_with_grid_resolution_areas(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
        gy, gx = _grid_dims(spark)
        t = tracker(
            ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
            grid_y=gy, grid_x=gx, grid_resolution=360.0 / NX,
            coordinate_units="degrees",
        )
        res = t.run()
        assert res.lifetime_stats is not None
        row = res.timestep_stats.agg(F.max("area").alias("a")).first()
        # true spherical areas in km² — a 7.5° cell near the equator is
        # ~687k km²; cos-lat proxy areas are ≤ 1. Orders of magnitude apart.
        assert row.a > 1000.0


class TestRegional:
    def test_regional_tracker_disables_wrap(self, spark):
        # one blob straddling the x seam: global mode links it into one
        # object; regional mode must keep two
        rows = []
        for t in range(3):
            for y in range(8, 12):
                for x in list(range(0, 3)) + list(range(NX - 3, NX)):
                    rows.append((t, y, x))
        base = spark.createDataFrame(rows, "t int, y int, x int")
        full = (
            spark.range(3).select(F.col("id").cast("int").alias("t"))
            .crossJoin(spark.range(NY).select(F.col("id").cast("int").alias("y")))
            .crossJoin(spark.range(NX).select(F.col("id").cast("int").alias("x")))
        )
        ext = (
            full.join(base.withColumn("_e", F.lit(True)), ["t", "y", "x"], "left")
            .select(
                F.col("t").cast("timestamp").alias("time"),
                "y", "x",
                F.coalesce(F.col("_e"), F.lit(False)).alias("extreme"),
            )
        )
        reg = regional_tracker(
            ext, coordinate_units="degrees", R_fill=0,
            area_filter_quartile=0.0, ny=NY, nx=NX, T_fill=0,
            allow_merging=False,
        ).run()
        glob = tracker(
            ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
        ).run()
        n_reg = reg.events.select("event_id").distinct().count()
        n_glob = glob.events.select("event_id").distinct().count()
        assert n_glob == 1
        assert n_reg == 2


class TestUnstructured:
    def test_mesh_run(self, spark):
        n_cell = 64
        cells = spark.range(n_cell).select(F.col("id").cast("int").alias("cell"))
        edges = cells.select(
            "cell", ((F.col("cell") + 1) % n_cell).alias("nbr")
        )
        rows = []
        for t in range(4):
            for c in range(10, 20):
                rows.append((t, c, True))
        # dense boolean field over all cells
        base = spark.createDataFrame(rows, "t int, cell int, extreme boolean")
        full = (
            spark.range(4).select(F.col("id").cast("int").alias("t"))
            .crossJoin(cells)
        )
        ext = (
            full.join(base.drop("extreme").withColumn("_e", F.lit(True)), ["t", "cell"], "left")
            .select(
                F.col("t").cast("timestamp").alias("time"),
                "cell",
                F.coalesce(F.col("_e"), F.lit(False)).alias("extreme"),
            )
        )
        t = tracker(
            ext, unstructured_grid=True, edges=edges, R_fill=1, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
        )
        res = t.run()
        assert res.events.select("event_id").distinct().count() == 1
        # closing+opening preserves the solid 10-cell run
        assert res.events.count() >= 4 * 10


def test_cell_areas_from_resolution_exact(spark):
    gy = spark.createDataFrame([(0, 0.0), (1, 60.0)], "y int, lat double")
    out = {r.y: r.cell_area for r in cell_areas_from_resolution(gy, 1.0).collect()}
    r = 6371.0
    dlam = math.radians(1.0)
    a0 = r * r * dlam * (math.sin(math.radians(0.5)) - math.sin(math.radians(-0.5)))
    a60 = r * r * dlam * (math.sin(math.radians(60.5)) - math.sin(math.radians(59.5)))
    assert out[0] == pytest.approx(a0, rel=1e-9)
    assert out[1] == pytest.approx(a60, rel=1e-9)
    # cos-lat scaling: the 60° band is ~half the equatorial band
    assert out[1] / out[0] == pytest.approx(math.cos(math.radians(60.0)), rel=1e-3)


class TestCheckpoint:
    """checkpoint='save'/'load' strategy (reference track.py:1234-1330)."""

    def test_save_then_load_roundtrip(self, spark, tmp_path):
        ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
        t_save = tracker(
            ext, ny=NY, nx=NX, R_fill=1, T_fill=2,
            area_filter_quartile=0.25, allow_merging=False,
            checkpoint="save", temp_dir=str(tmp_path),
        )
        saved = t_save.run_preprocess()
        n_saved = saved.filter(F.col("extreme")).count()
        # a fresh tracker with checkpoint='load' skips morphology entirely
        t_load = tracker(
            ext.limit(0), ny=NY, nx=NX, R_fill=1, T_fill=2,
            allow_merging=False, checkpoint="load", temp_dir=str(tmp_path),
        )
        loaded = t_load.run_preprocess()
        assert loaded.filter(F.col("extreme")).count() == n_saved
        assert n_saved > 0

    def test_checkpoint_validation(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        with pytest.raises(ConfigurationError, match="checkpoint"):
            Tracker(ext, ny=NY, nx=NX, checkpoint="bogus")
        with pytest.raises(ConfigurationError, match="temp_dir"):
            Tracker(ext, ny=NY, nx=NX, checkpoint="save")


def test_preprocess_stats(spark):
    """object_stats diagnostics (reference track.py:1330-1351)."""
    ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
    t = tracker(
        ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
        area_filter_quartile=0.5, allow_merging=False,
    )
    s = t.preprocess_stats()
    assert set(s) == {
        "total_area_IDed", "N_objects_prefiltered", "N_objects_filtered",
        "area_threshold", "accepted_area_fraction",
        "preprocessed_area_fraction",
    }
    assert s["N_objects_filtered"] <= s["N_objects_prefiltered"]
    assert 0.0 < s["accepted_area_fraction"] <= 1.0
    assert s["area_threshold"] > 0.0
    # with no morphology, every raw cell is still IDed pre-filter
    raw = ext.filter(F.col("extreme")).count()
    assert s["total_area_IDed"] == pytest.approx(raw)


def test_run_return_merges(spark):
    """run(return_merges=True) returns the (result, merges) pair the
    reference's run() does (track.py:1163)."""
    ext = synthetic_extremes_gridded(spark, n_time=6, ny=NY, nx=NX)
    t = tracker(
        ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
        area_filter_quartile=0.0, allow_merging=True,
        overlap_threshold=0.5,
    )
    res, merges = t.run(return_merges=True)
    assert merges is res.extras["merge_ledger"]
    assert res.events.count() > 0


class TestReviewFixes:
    """Regression tests for the round-3 code-review findings."""

    def test_fused_path_honours_connectivity(self, spark):
        """connectivity=4 must not silently become 8 on the default
        fused path: two diagonal cells are one 8-conn object but two
        4-conn objects."""
        rows = [(0, 5, 5), (0, 6, 6)]
        base = spark.createDataFrame(rows, "t int, y int, x int")
        full = (
            spark.range(1).select(F.col("id").cast("int").alias("t"))
            .crossJoin(spark.range(NY).select(F.col("id").cast("int").alias("y")))
            .crossJoin(spark.range(NX).select(F.col("id").cast("int").alias("x")))
        )
        ext = (
            full.join(base.withColumn("_e", F.lit(True)), ["t", "y", "x"], "left")
            .select(
                F.col("t").cast("timestamp").alias("time"), "y", "x",
                F.coalesce(F.col("_e"), F.lit(False)).alias("extreme"),
            )
        )
        # drop_first_object=False: the reference quirk would delete the
        # first object outright — this test is about connectivity only
        kw = dict(ny=NY, nx=NX, R_fill=0, T_fill=0,
                  area_filter_quartile=0.0, allow_merging=False,
                  drop_first_object=False)
        n8 = tracker(ext, connectivity=8, **kw).run().events.select(
            "event_id").distinct().count()
        n4 = tracker(ext, connectivity=4, **kw).run().events.select(
            "event_id").distinct().count()
        assert n8 == 1
        assert n4 == 2

    def test_cell_areas_table_consumed(self, spark):
        """A user (y, x, area) table must flow into event stats."""
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        gy, gx = _grid_dims(spark)
        areas = (
            spark.range(NY).select(F.col("id").cast("int").alias("y"))
            .crossJoin(spark.range(NX).select(F.col("id").cast("int").alias("x")))
            .withColumn("area", F.lit(7777.0))
        )
        res = tracker(
            ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
            grid_y=gy, grid_x=gx, cell_areas=areas,
            coordinate_units="degrees",
        ).run()
        one_cell = res.timestep_stats.filter(F.col("n_cells") == 1).first()
        if one_cell is not None:
            assert one_cell.area == 7777.0
        # every area is a multiple of the constant cell area
        bad = res.timestep_stats.filter(
            F.abs(F.col("area") - F.col("n_cells") * 7777.0) > 1e-6
        ).count()
        assert bad == 0

    def test_physical_area_vs_counts(self, spark):
        """Reference test_gridded_tracking.py:748
        (test_physical_area_functionality) at the upstream assertion
        level: cos-lat physical areas in km² make event areas much
        larger than unit cell counts, ``mean_cell_area`` equals the
        table mean, and the default (no cell_areas) tracker reports
        mean_cell_area == 1.0."""
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        gy, gx = _grid_dims(spark)
        # reference: 111320² · cos(lat) "km² per degree" proxy areas
        areas = (
            gy.crossJoin(spark.range(NX).select(F.col("id").cast("int").alias("x")))
            .withColumn("area", F.lit(111.32 * 111.32) * F.cos(F.radians("lat")))
            .select("y", "x", "area")
        )
        kw = dict(
            ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.5, allow_merging=False,
            grid_y=gy, grid_x=gx, coordinate_units="degrees",
        )
        t_phys = tracker(ext, cell_areas=areas, **kw)
        t_counts = tracker(ext, **kw)
        mean_phys = (
            t_phys.run().timestep_stats.agg(F.avg("area")).first()[0]
        )
        mean_counts = (
            t_counts.run().timestep_stats.agg(F.avg("area")).first()[0]
        )
        assert mean_phys > mean_counts  # km² ≫ cell counts
        expected = areas.agg(F.avg("area")).first()[0]
        assert abs(t_phys.mean_cell_area - expected) < 1e-6
        assert t_counts.mean_cell_area == 1.0

    def test_mean_cell_area_grid_resolution(self, spark):
        """grid_resolution-derived spherical areas: the per-band table
        mean equals the full-grid mean (every band holds nx cells)."""
        ext = synthetic_extremes_gridded(spark, n_time=2, ny=NY, nx=NX)
        gy, gx = _grid_dims(spark)
        t = tracker(
            ext, ny=NY, nx=NX, R_fill=0, T_fill=0,
            area_filter_quartile=0.0, allow_merging=False,
            grid_y=gy, grid_x=gx, grid_resolution=360.0 / NX,
            coordinate_units="degrees",
        )
        expected = (
            cell_areas_from_resolution(gy, 360.0 / NX)
            .agg(F.avg("cell_area"))
            .first()[0]
        )
        assert abs(t.mean_cell_area - expected) < 1e-9
        assert t.mean_cell_area > 1000.0  # true km² cells, not counts

    def test_run_checkpoint_override_validated(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        t = tracker(ext, ny=NY, nx=NX, allow_merging=False)
        with pytest.raises(ConfigurationError, match="temp_dir"):
            t.run(checkpoint="save")
        with pytest.raises(ConfigurationError, match="save"):
            t.run(checkpoint="bogus")


class TestExtendFacade:
    """Tracker.extend: the per-ingest-cycle form of run() — a tracker
    over the NEW slices extends a prior result; with no-op
    preprocessing the combined events equal one full run()."""

    def test_extend_equals_full_run(self, spark):
        ext = synthetic_extremes_gridded(
            spark, n_time=10, ny=NY, nx=NX, density=0.06, seed=9
        )
        gy, gx = _grid_dims(spark)
        kw = dict(
            ny=NY, nx=NX, grid_y=gy, grid_x=gx,
            R_fill=0, T_fill=0, area_filter_quartile=0.0,
            coordinate_units="degrees",
            # the reference's first-object drop applies PER preprocessing
            # run, so append workflows must disable it for prior+extend
            # to equal one full run (same caveat as quartile re-quantiling
            # — see Tracker.extend)
            drop_first_object=False,
        )
        full = Tracker(ext, **kw).run()
        times = sorted(r[0] for r in ext.select("time").distinct().collect())
        cutoff = times[6]
        prior = Tracker(ext.filter(F.col("time") <= F.lit(cutoff)), **kw).run()
        extd = Tracker(ext.filter(F.col("time") > F.lit(cutoff)), **kw).extend(prior)
        cols = ["time", "y", "x", "obj_id", "event_id"]
        assert sorted(map(tuple, full.events.select(*cols).collect())) == sorted(
            map(tuple, extd.events.select(*cols).collect())
        )
        # stats flow through: same event set in lifetime stats
        assert {r.event_id for r in full.lifetime_stats.collect()} == {
            r.event_id for r in extd.lifetime_stats.collect()
        }

    def test_extend_unstructured_equals_full(self, spark):
        """Mesh facade extension: a tracker over the new slices extends
        a prior mesh run; with no-op preprocessing the combined events
        equal one full run()."""
        import datetime

        n_cell = 40
        cells = spark.range(n_cell).select(F.col("id").alias("cell"))
        edges = cells.select(
            "cell", ((F.col("cell") + 1) % n_cell).alias("nbr")
        )
        t0 = datetime.datetime(2022, 1, 1)
        rows = []
        for t in range(8):
            c0 = 5 + 2 * t
            for c in range(n_cell):
                if min(abs(c - c0), n_cell - abs(c - c0)) <= 3:
                    rows.append((t0 + datetime.timedelta(days=t), c, True))
        df = spark.createDataFrame(
            rows, "time timestamp, cell long, extreme boolean"
        )
        kw = dict(unstructured_grid=True, edges=edges, R_fill=0, T_fill=0,
                  area_filter_quartile=0.0, allow_merging=False)
        full = Tracker(df, **kw).run()
        cutoff = t0 + datetime.timedelta(days=4)
        prior = Tracker(df.filter(F.col("time") <= F.lit(cutoff)), **kw).run()
        extd = Tracker(
            df.filter(F.col("time") > F.lit(cutoff)), **kw
        ).extend(prior)
        cols = ["time", "cell", "obj_id", "event_id"]
        assert sorted(
            map(tuple, full.events.select(*cols).collect())
        ) == sorted(map(tuple, extd.events.select(*cols).collect()))


class TestDataAttrs:
    """Input-attribute carry-through (reference edge_cases:181-196,
    459-521 empty/missing attrs; track.py:428-430 copy-or-empty and
    1484 update-last precedence)."""

    def test_missing_and_empty_attrs_normalise_to_empty_dict(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        assert Tracker(ext, ny=NY, nx=NX).data_attrs == {}
        assert Tracker(ext, ny=NY, nx=NX, data_attrs={}).data_attrs == {}

    def test_attrs_copied_not_aliased(self, spark):
        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        src = {"title": "sst", "institution": "x"}
        trk = Tracker(ext, ny=NY, nx=NX, data_attrs=src)
        src["title"] = "mutated"
        assert trk.data_attrs["title"] == "sst"

    def test_attrs_flow_to_written_metadata_with_reference_precedence(
        self, spark, tmp_path
    ):
        from marex_spark.sources.io import write_track_result

        ext = synthetic_extremes_gridded(spark, n_time=4, ny=NY, nx=NX)
        trk = Tracker(
            ext,
            ny=NY,
            nx=NX,
            data_attrs={"title": "sst", "N_events_final": "user-wins"},
        )
        res = trk.run()
        assert res.extras["data_attrs"] == {
            "title": "sst",
            "N_events_final": "user-wins",
        }
        meta = write_track_result(res, str(tmp_path / "attrs_run"))
        assert meta["title"] == "sst"
        # reference precedence: data attrs update LAST (track.py:1484)
        assert meta["N_events_final"] == "user-wins"
