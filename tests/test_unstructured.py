"""Unstructured-mesh pipeline tests (SURVEY M2/M6 + unstructured
tracking): ring mesh, two drifting blobs — label propagation, event
linking, merge partitioning with haversine centroids."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from marex_spark.operators.track import track_events_unstructured

N_CELL = 100
HALF = 4
T0 = datetime.datetime(2022, 1, 1)


@pytest.fixture(scope="module")
def ring(spark):
    cells = spark.range(N_CELL).select(F.col("id").cast("long").alias("cell"))
    edges = cells.select("cell", ((F.col("cell") + 1) % N_CELL).alias("nbr"))
    geo = cells.select(
        "cell",
        F.lit(0.0).alias("lat"),
        (F.col("cell") * (360.0 / N_CELL)).alias("lon"),
    )
    return edges, geo


@pytest.fixture(scope="module")
def two_blob_mesh(spark):
    """Blob A centred at cell 10+2t, blob B at 60-2t; collide ~t=10."""
    rows = []
    for t in range(13):
        ca, cb = 10 + 2 * t, 60 - 2 * t
        for c in range(N_CELL):
            da = min(abs(c - ca), N_CELL - abs(c - ca))
            db = min(abs(c - cb), N_CELL - abs(c - cb))
            if da <= HALF or db <= HALF:
                rows.append((T0 + datetime.timedelta(days=t), c, True))
    return spark.createDataFrame(rows, "time timestamp, cell long, extreme boolean")


def test_unstructured_no_merge_welds(spark, ring, two_blob_mesh):
    edges, geo = ring
    res = track_events_unstructured(
        two_blob_mesh, edges, geo, overlap_threshold=0.5, compute_stats=False
    )
    assert res.events.select("event_id").distinct().count() == 1


def test_unstructured_merging_preserves_identities(spark, ring, two_blob_mesh):
    edges, geo = ring
    res = track_events_unstructured(
        two_blob_mesh, edges, geo, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    assert res.events.select("event_id").distinct().count() == 2
    ledger = res.extras["merge_ledger"].collect()
    assert len(ledger) >= 1
    assert len(ledger[0].parent_ids) == 2


def test_unstructured_paged_matches_reference(spark, ring, two_blob_mesh, monkeypatch):
    """The sphere-geometry resolver must reproduce the whole-series
    reference exactly (labels + ledger), in one page and paged two
    steps at a time so carries cross the collision."""
    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components_unstructured
    from tests.reference.merge import split_merge_reference

    edges, geo = ring
    labels = label_components_unstructured(two_blob_mesh, edges).localCheckpoint()

    def run():
        out, ledger, _ = M.split_merge_events(
            labels, overlap_threshold=0.5, geometry="sphere", cell_geo=geo,
        )
        return out, ledger

    def rows(out, ledger, *_):
        return (
            {(r.time, r.cell, r.obj_id) for r in out.collect()},
            [
                (r.time, tuple(r.parent_ids), tuple(r.child_ids))
                for r in ledger.collect()
            ],
        )

    ref = rows(*split_merge_reference(labels, cell_geo=geo, overlap_threshold=0.5))
    assert rows(*run()) == ref
    monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", 40)  # 18 cells/step
    out, ledger = run()
    assert len(out.inputFiles()) >= 4  # really paged
    assert rows(out, ledger) == ref


@pytest.mark.parametrize("seed", [5, 17])
def test_sphere_tiers_agree_on_random_mesh(spark, ring, seed, monkeypatch):
    """Sphere whole-series reference vs the resolver in one page and
    paged a few steps at a time, on random clumpy mesh activity —
    beyond the structured colliding-blob path."""
    import datetime as _dt

    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components_unstructured
    from tests.reference.merge import split_merge_reference

    edges, geo = ring
    t0 = _dt.datetime(2023, 1, 1)
    base = spark.range(N_CELL * 14).select(
        (F.col("id") % N_CELL).alias("cell"),
        F.timestamp_add(
            "DAY", (F.col("id") / N_CELL).cast("int"), F.lit(t0)
        ).alias("time"),
    )
    field = base.withColumn(
        "extreme",
        F.pmod(F.xxhash64("cell", (F.col("cell") / 7).cast("int"), "time", F.lit(seed)), F.lit(10))
        < 3,
    )
    labels = label_components_unstructured(field, edges)
    one, l1 = split_merge_reference(labels, cell_geo=geo, overlap_threshold=0.5)
    led = lambda df: [  # noqa: E731
        (r.time, tuple(r.parent_ids), tuple(r.child_ids)) for r in df.collect()
    ]
    for budget, min_pages in ((M.TARGET_BLOCK_CELLS, 1), (60, 4)):
        monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", budget)
        out, l2, _ = M.split_merge_events(
            labels, overlap_threshold=0.5, geometry="sphere", cell_geo=geo,
        )
        assert len(out.inputFiles()) >= min_pages
        assert sorted(map(tuple, one.collect())) == sorted(
            map(tuple, out.collect())
        )
        assert led(l1) == led(l2)


def test_unstructured_centroids_follow_path(spark, ring, two_blob_mesh):
    edges, geo = ring
    res = track_events_unstructured(
        two_blob_mesh, edges, geo, overlap_threshold=0.5, allow_merging=True
    )
    rows = res.timestep_stats.collect()
    deg_per_cell = 360.0 / N_CELL
    for r in rows:
        t = (r.time - T0).days
        if t >= 9:
            continue
        lon = r.centroid_lon % 360.0
        expect = [(10 + 2 * t) * deg_per_cell, (60 - 2 * t) * deg_per_cell]
        dl = min(
            min(abs(lon - e), 360.0 - abs(lon - e)) for e in expect
        )
        assert dl < 2.0, (t, lon, expect)
        assert abs(r.centroid_lat) < 1e-6


@pytest.mark.slow
def test_label_kernel_matches_propagation(spark):
    """The per-slice induced-subgraph union-find must produce identical
    global ids to the declarative min-label propagation fixpoint
    (tests/reference/label.py) — including on a high-diameter mesh (a
    ring), where propagation needs O(diameter) rounds."""
    from marex_spark.operators.label import label_components_unstructured
    from tests.reference.label import label_unstructured_propagate

    n = 60
    cells = spark.range(n).select(F.col("id").cast("long").alias("cell"))
    edges = cells.select("cell", ((F.col("cell") + 1) % n).alias("nbr"))
    # three timesteps: full ring, two arcs, sparse singletons
    act = []
    for c in range(n):
        act.append((1, c, True))
    for c in range(n):
        act.append((2, c, c % 30 != 0))  # two arcs split at 0 and 30
    for c in range(0, n, 7):
        act.append((3, c, True))
    ext = spark.createDataFrame(act, "t long, cell long, extreme boolean")
    a = {
        (r.t, r.cell, r.obj_id)
        for r in label_components_unstructured(ext, edges, time_col="t").collect()
    }
    b = {
        (r.t, r.cell, r.obj_id)
        for r in label_unstructured_propagate(ext, edges, time_col="t").collect()
    }
    assert a == b
    # day-2 arcs: exactly two components
    day2 = {oid for (t, c, oid) in a if t == 2}
    assert len(day2) == 2


def test_unstructured_extension_matches_full(spark, ring, two_blob_mesh):
    """Mesh incremental append: extending a prior run with the last 4
    timesteps (including the blob collision) must equal the full
    recompute exactly — same min-root argument as the gridded path."""
    from marex_spark.operators.track import (
        extend_track_events_unstructured,
        track_events_unstructured,
    )

    edges, geo = ring
    full = track_events_unstructured(
        two_blob_mesh, edges, geo, overlap_threshold=0.5
    )
    times = sorted(r[0] for r in two_blob_mesh.select("time").distinct().collect())
    cutoff = times[8]
    prior = track_events_unstructured(
        two_blob_mesh.filter(F.col("time") <= F.lit(cutoff)),
        edges, geo, overlap_threshold=0.5,
    )
    extd = extend_track_events_unstructured(
        prior.events,
        two_blob_mesh.filter(F.col("time") > F.lit(cutoff)),
        edges,
        cell_geo=geo,
        prior_timestep_stats=prior.timestep_stats,
        overlap_threshold=0.5,
    )
    cols = ["time", "cell", "obj_id", "event_id"]
    a = sorted(map(tuple, full.events.select(*cols).collect()))
    b = sorted(map(tuple, extd.events.select(*cols).collect()))
    assert a == b
    fa = {(r.time, r.event_id): r.n_cells for r in full.timestep_stats.collect()}
    fb = {(r.time, r.event_id): r.n_cells for r in extd.timestep_stats.collect()}
    assert fa == fb


@pytest.mark.slow
def test_unstructured_merge_extension_idfree_parity(spark, ring, two_blob_mesh):
    """Mesh merge-mode extension: the sphere resolver resumes from the
    prior run's carry; id-free lifetime-stat multiset and ledger shape
    must match a from-scratch run (same contract as the gridded merge
    extension — absolute ids renumber)."""
    from marex_spark.operators.track import (
        extend_track_events_unstructured,
        track_events_unstructured,
    )

    edges, geo = ring
    full = track_events_unstructured(
        two_blob_mesh, edges, geo, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    times = sorted(r[0] for r in two_blob_mesh.select("time").distinct().collect())
    cutoff = times[8]  # split BEFORE the ~t=10 collision
    prior = track_events_unstructured(
        two_blob_mesh.filter(F.col("time") <= F.lit(cutoff)),
        edges, geo, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    extd = extend_track_events_unstructured(
        prior.events,
        two_blob_mesh.filter(F.col("time") > F.lit(cutoff)),
        edges,
        cell_geo=geo,
        overlap_threshold=0.5,
        compute_stats=False,
        allow_merging=True,
        prior_merge_ledger=prior.extras["merge_ledger"],
    )

    def idfree(events):
        rows = (
            events.groupBy("event_id")
            .agg(
                F.min("time").alias("t0"),
                F.max("time").alias("t1"),
                F.countDistinct("time").alias("nt"),
                F.count("*").alias("cells"),
            )
            .select("t0", "t1", "nt", "cells")
            .collect()
        )
        return sorted(map(tuple, rows))

    assert idfree(full.events) == idfree(extd.events)

    def ledger_shape(led):
        rows = led.select(
            "time",
            F.size("parent_ids").alias("np"),
            F.sort_array("overlap_areas").alias("areas"),
        ).collect()
        return sorted((r[0], r.np, tuple(r.areas)) for r in rows)

    assert ledger_shape(full.extras["merge_ledger"]) == ledger_shape(
        extd.extras["merge_ledger"]
    )
    # the collision merge happens in the APPENDED window and is ledgered
    assert extd.extras["merge_ledger"].count() > 0


def test_mesh_kernel_matches_join_form(spark):
    """morph_close_open_unstructured (one kernel pass) must produce
    exactly the frontier-join chain's surviving cells, including the
    optional refill stage."""
    import numpy as np
    from pyspark.sql import functions as F

    from marex_spark.operators.morphology import (
        dilate_unstructured,
        erode_unstructured,
        morph_close_open_unstructured,
    )

    rng = np.random.default_rng(4)
    # a ring-of-grids mesh: 12x12 grid graph
    NC = 144
    edges = []
    for y in range(12):
        for x in range(12):
            c = y * 12 + x
            if x < 11:
                edges.append((c, c + 1))
            if y < 11:
                edges.append((c, c + 12))
    edf = spark.createDataFrame(edges, "cell long, nbr long")
    rows = [
        (int(t), int(c))
        for t in range(4)
        for c in range(NC)
        if rng.random() < 0.45
    ]
    cells = spark.createDataFrame(rows, "time int, cell long")

    for r, refill in ((1, 0), (2, 1)):
        got = {
            (x.time, x.cell)
            for x in morph_close_open_unstructured(
                cells, edf, r, refill_radius=refill
            ).collect()
        }
        # checkpoint between ops: the join form's value is pinned here,
        # not its plan — an un-broken 4R-round lineage costs minutes of
        # Catalyst planning alone (the reason the kernel form exists)
        step = erode_unstructured(
            dilate_unstructured(cells, edf, r, "time"), edf, r, "time"
        ).localCheckpoint()
        step = dilate_unstructured(
            erode_unstructured(step, edf, r, "time"), edf, r, "time"
        ).localCheckpoint()
        if refill:
            step = erode_unstructured(
                dilate_unstructured(step, edf, refill, "time"), edf, refill, "time"
            ).localCheckpoint()
            step = dilate_unstructured(
                erode_unstructured(step, edf, refill, "time"), edf, refill, "time"
            )
        want = {(x.time, x.cell) for x in step.collect()}
        assert got == want, (r, refill)
