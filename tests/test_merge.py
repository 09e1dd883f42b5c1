"""Split/merge tracking tests (SURVEY M8-M10 + J9): analytic two-blob
merge — with merging enabled each original blob keeps its identity and
the collision is recorded in the ledger; without, the collision welds
the events together (reference tests/test_gridded_tracking.py merge
scenarios)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from marex_spark.operators.track import track_events

NY, NX = 30, 80
HALF = 5
T0 = datetime.datetime(2021, 1, 1)


@pytest.fixture(scope="module")
def two_blob_field(spark):
    """Blob A drifts east from x=20, blob B west from x=60 (2 px/day,
    11×11 squares at y=15); they collide around t=8."""
    rows = []
    for t in range(10):
        ax, bx = 20 + 2 * t, 60 - 2 * t
        for y in range(NY):
            for x in range(NX):
                v = (abs(y - 15) <= HALF) and (abs(x - ax) <= HALF or abs(x - bx) <= HALF)
                rows.append((T0 + datetime.timedelta(days=t), y, x, v))
    return spark.createDataFrame(rows, "time timestamp, y int, x int, extreme boolean")


def test_merging_preserves_identities(spark, two_blob_field):
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    n_events = res.events.select("event_id").distinct().count()
    assert n_events == 2


def test_no_merging_welds_events(spark, two_blob_field):
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        compute_stats=False, allow_merging=False,
    )
    assert res.events.select("event_id").distinct().count() == 1


def test_merge_ledger_records_collision(spark, two_blob_field):
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    ledger = res.extras["merge_ledger"].collect()
    assert len(ledger) >= 1
    first = min(ledger, key=lambda r: r.time)
    assert (first.time - T0).days == 8
    assert len(first.parent_ids) == 2
    assert len(first.child_ids) == 2
    assert first.merge_id == 1


def test_nn_partitioning_mode(spark, two_blob_field):
    """NN mode (nearest parent cell, track.py:4973-5113) must also keep
    both identities through the collision and conserve cells."""
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True, nn_partitioning=True,
    )
    assert res.events.select("event_id").distinct().count() == 2
    assert res.events.count() == two_blob_field.filter("extreme").count()


def test_partition_conserves_cells(spark, two_blob_field):
    """Partitioning relabels cells but never creates or destroys them."""
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        compute_stats=False, allow_merging=True,
    )
    n_cells_out = res.events.count()
    n_cells_in = two_blob_field.filter("extreme").count()
    assert n_cells_out == n_cells_in
    dup = (
        res.events.groupBy("time", "y", "x").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_pieces_follow_parents_before_collision(spark, two_blob_field):
    """Until the collision the two events match the analytic blob paths."""
    gy = spark.range(NY).select(F.col("id").cast("int").alias("y"), F.col("id").cast("double").alias("lat"))
    gx = spark.range(NX).select(F.col("id").cast("int").alias("x"), F.col("id").cast("double").alias("lon"))
    res = track_events(
        two_blob_field, nx=NX, overlap_threshold=0.5,
        grid_y=gy, grid_x=gx, allow_merging=True,
    )
    rows = res.timestep_stats.collect()
    for r in rows:
        t = (r.time - T0).days
        if t >= 8:
            continue
        lon = r.centroid_lon % 360.0
        assert any(
            abs(lon - expect) < 1.5 for expect in (20 + 2 * t, 60 - 2 * t)
        ), (t, lon)


@pytest.mark.parametrize("seed,density", [(3, 0.05), (11, 0.12), (29, 0.2)])
def test_three_tiers_agree_on_random_fields(spark, monkeypatch, seed, density):
    """The whole-series reference, the resolver paged into several
    pages and the resolver in one page must agree exactly on
    unstructured random fields too — clumpy noise produces empty
    timesteps, singletons, simultaneous merges and splits that the
    analytic two-blob fixture never exercises."""
    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components
    from marex_spark.sources.synthetic import synthetic_extremes_gridded
    from tests.reference.merge import split_merge_reference

    field = synthetic_extremes_gridded(
        spark, n_time=12, ny=16, nx=24, density=density, seed=seed
    )
    labels = label_components(field, nx=24)
    one, l1 = split_merge_reference(labels, nx=24, overlap_threshold=0.5)
    whole, l3, _ = M.split_merge_events(labels, nx=24, overlap_threshold=0.5)
    assert len(whole.inputFiles()) == 1  # one page
    monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", 100)
    chk, l2, _ = M.split_merge_events(labels, nx=24, overlap_threshold=0.5)
    assert len(chk.inputFiles()) >= 2  # really paged
    a = sorted(map(tuple, one.collect()))
    assert a == sorted(map(tuple, chk.collect()))
    assert a == sorted(map(tuple, whole.collect()))
    led = lambda df: [  # noqa: E731
        (r.time, tuple(r.parent_ids), tuple(r.child_ids), tuple(r.overlap_areas))
        for r in df.collect()
    ]
    assert led(l1) == led(l2) == led(l3)


def test_chunked_matches_oneshot(spark, two_blob_field, monkeypatch):
    """The memory-bounded chunk loop must reproduce the whole-series
    (one-shot) resolution exactly — labels, event count, and ledger —
    with a cell budget of two timesteps per page."""
    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components
    from tests.reference.merge import split_merge_reference

    labels = label_components(two_blob_field, nx=NX)
    one, ledger_one = split_merge_reference(labels, nx=NX, overlap_threshold=0.5)
    monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", 500)  # 242 cells/step
    chk, ledger_chk, _ = M.split_merge_events(
        labels, nx=NX, overlap_threshold=0.5
    )
    assert len(chk.inputFiles()) >= 4
    a = {(r.time, r.y, r.x, r.obj_id) for r in one.collect()}
    b = {(r.time, r.y, r.x, r.obj_id) for r in chk.collect()}
    assert a == b
    la = [(r.time, tuple(r.parent_ids), tuple(r.child_ids)) for r in ledger_one.collect()]
    lb = [(r.time, tuple(r.parent_ids), tuple(r.child_ids)) for r in ledger_chk.collect()]
    assert la == lb


def test_pages_live_on_the_default_filesystem(
    spark, two_blob_field, monkeypatch, tmp_path
):
    """The page spill and the resolved pages go through the Hadoop
    FileSystem that resolves the tmp dir's path — on a cluster, the
    shared default filesystem — not the driver's own disk. Under a
    ``viewfs://`` default filesystem that mounts the tmp dir on another
    directory, the output's files are ``viewfs://`` paths and the
    output equals the reference; a driver-local write leaves that read
    without its files."""
    import tempfile
    import uuid

    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components
    from tests.reference.merge import split_merge_reference

    def cells(df):
        return {(r.time, r.y, r.x, r.obj_id) for r in df.collect()}

    def track():
        res = track_events(
            two_blob_field, nx=NX, overlap_threshold=0.5,
            compute_stats=False, allow_merging=True,
        )
        return {tuple(r) for r in res.events.collect()}

    labels = label_components(two_blob_field, nx=NX)
    ref, _ = split_merge_reference(labels, nx=NX, overlap_threshold=0.5)
    events = track()
    conf = spark._jsc.hadoopConfiguration()
    mount = f"marex{uuid.uuid4().hex[:8]}"
    default_fs = conf.get("fs.defaultFS")
    conf.set(
        f"fs.viewfs.mounttable.{mount}.link.{tempfile.gettempdir()}",
        tmp_path.as_uri(),
    )
    monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", 500)  # 242 cells/step
    conf.set("fs.defaultFS", f"viewfs://{mount}/")
    try:
        out, _, _ = M.split_merge_events(labels, nx=NX, overlap_threshold=0.5)
        files = out.inputFiles()
        got = cells(out)
        viewfs_events = track()
    finally:
        conf.set("fs.defaultFS", default_fs)
    assert len(files) >= 4
    assert all(f.startswith(f"viewfs://{mount}/") for f in files)
    assert list(tmp_path.glob("marex_chunk_out_*"))
    assert got == cells(ref)
    assert viewfs_events == events


class TestMaxDistance:
    """max_distance knob parity with the reference's NN partitioning
    (track.py:4979 parameter, 5224-5238 beyond-cap fallback; reference
    tests/test_track_helpers.py::test_partition_nn_grid_max_distance):
    child cells farther than max_distance from every parent's member
    cells fall back to nearest-CENTROID assignment."""

    @staticmethod
    def _fixture():
        import pandas as pd

        rows = []
        # t=0: parent 1 = a 20-cell column at x=0 (centroid y=9.5);
        #      parent 2 = a 3x3 blob at x=19..21, y=0..2 (centroid ~(1,20))
        for y in range(20):
            rows.append((0, y, 0, 1))
        for y in range(3):
            for x in (19, 20, 21):
                rows.append((0, y, x, 2))
        # t=1: one child covering both parents plus an outlier at (0,8):
        # nearest parent MEMBER is parent 1's (0,0) (d=8 < d=11 to
        # parent 2's (0,19)), but nearest parent CENTROID is parent 2's.
        for y in range(20):
            rows.append((1, y, 0, 3))
        for y in range(3):
            for x in (19, 20, 21):
                rows.append((1, y, x, 3))
        rows.append((1, 0, 8, 3))
        return pd.DataFrame(rows, columns=["t", "y", "x", "obj_id"])

    @pytest.mark.parametrize(
        "max_distance,expect_nn",
        [
            # auto md = max(3*sqrt(20), 40) = 40 → gs=10: the outlier's
            # block adjoins parent 1's and d=8 <= 40 → NN
            (None, True),
            # md=20 → gs=5: |8//5 - 0//5| = 1, window reached, d <= 20 → NN
            (20.0, True),
            # md=9 → gs=2: parent 1's member at x=0 is 4 blocks away —
            # OUTSIDE the reference's 3x3 block window even though
            # d=8 <= 9 (the window, not the cap, bounds the search,
            # track.py:5014,5040-5056) → centroid fallback → parent 2
            (9.0, False),
            # md=5 < 8: capped out everywhere → centroid → parent 2
            (5.0, False),
        ],
    )
    def test_grid_cap(self, max_distance, expect_nn):
        from tests.reference.merge import resolve_series

        out, _ = resolve_series(
            self._fixture(), nx=100, overlap_threshold=0.5, wrap_x=False,
            time_col="t", nn_partitioning=True, max_distance=max_distance,
        )
        t1 = out[out["t"] == 1]
        outlier_id = int(t1[(t1.y == 0) & (t1.x == 8)]["obj_id"].iloc[0])
        group1_id = int(t1[(t1.y == 5) & (t1.x == 0)]["obj_id"].iloc[0])
        group2_id = int(t1[(t1.y == 1) & (t1.x == 20)]["obj_id"].iloc[0])
        assert group1_id != group2_id  # partition actually happened
        assert outlier_id == (group1_id if expect_nn else group2_id)


def test_merge_fixture_centroid_paths_and_identity(spark, two_blob_field):
    """Differential fixture vs the reference's published merge
    semantics (tests/test_gridded_tracking.py:587-683 centroid
    tolerances + its merge-event assertions): on a 1°/px geo grid the
    two blobs' tracked centroids must follow their analytic paths
    (lon_A = 20+2t, lon_B = 60-2t, lat = 0) within 0.5° lon / 0.25°
    lat before the collision, both identities must survive the merge
    to the final timestep, and the ledger's parent ids must be exactly
    the two pre-collision objects."""
    gy = spark.range(NY).select(
        F.col("id").cast("int").alias("y"), (F.col("id") - 15.0).alias("lat")
    )
    gx = spark.range(NX).select(
        F.col("id").cast("int").alias("x"), F.col("id").cast("double").alias("lon")
    )
    res = track_events(
        two_blob_field, nx=NX, grid_y=gy, grid_x=gx,
        overlap_threshold=0.5, allow_merging=True,
    )
    ts = {(r.time, r.event_id): r for r in res.timestep_stats.collect()}
    by_day: dict[int, list] = {}
    for (t, _), r in ts.items():
        by_day.setdefault((t - T0).days, []).append(r)

    # identify the two events by their day-0 positions
    day0 = sorted(by_day[0], key=lambda r: r.centroid_lon)
    ev_a, ev_b = day0[0].event_id, day0[1].event_id
    assert ev_a != ev_b
    for t in range(8):  # pre-collision path
        rows = {r.event_id: r for r in by_day[t]}
        a, b = rows[ev_a], rows[ev_b]
        assert abs(a.centroid_lon - (20 + 2 * t)) <= 0.5, (t, a.centroid_lon)
        assert abs(b.centroid_lon - (60 - 2 * t)) <= 0.5, (t, b.centroid_lon)
        assert abs(a.centroid_lat) <= 0.25 and abs(b.centroid_lat) <= 0.25

    # both identities survive through the merge to the last timestep
    last = {r.event_id for r in by_day[9]}
    assert {ev_a, ev_b} <= last

    # ledger: one merge at t=8 whose parents are the t=7 objects of the
    # two events (obj ids map to events via the final remap table)
    ledger = res.extras["merge_ledger"].collect()
    first = min(ledger, key=lambda r: r.time)
    assert (first.time - T0).days == 8
    obj_to_event = {
        r.obj_id: r.event_id
        for r in res.events.select("obj_id", "event_id").distinct().collect()
    }
    parent_events = {obj_to_event[p] for p in first.parent_ids}
    assert parent_events == {ev_a, ev_b}


class TestSerialBudgetGuard:
    """The resolver fails fast (typed error naming ``max_driver_cells``)
    instead of OOMing the driver mid-collect."""

    def _labels(self, spark):
        from marex_spark.operators.label import label_components
        from marex_spark.sources.synthetic import synthetic_extremes_gridded

        ext = synthetic_extremes_gridded(spark, n_time=4, ny=8, nx=16, seed=3)
        return label_components(ext, nx=16)

    def test_chunked_over_budget_fails_fast(self, spark):
        from marex_spark.exceptions import TrackingError
        from marex_spark.operators.merge import split_merge_events

        labels = self._labels(spark)
        with pytest.raises(TrackingError, match="max_driver_cells"):
            split_merge_events(labels, nx=16, max_driver_cells=10)
        # within budget: runs
        out, _, _ = split_merge_events(
            labels, nx=16, max_driver_cells=10**9
        )
        assert out.count() == labels.count()


# ------------------------------------------------- reference-replay parity


def _sim():
    """Import the faithful reference-serial-loop replay
    (tools/ref_nn_sim.py: line-by-line numpy translation of
    track.py:3337-3802 + partition_nn_grid 4973-5113)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import ref_nn_sim

    return ref_nn_sim


@pytest.mark.parametrize(
    "nn,max_distance",
    [(False, None), (True, None), (True, 6.0)],
    ids=["centroid", "nn-auto", "nn-md6-window-binds"],
)
def test_resolver_equals_reference_replay(nn, max_distance):
    """The engine's serial resolver must reproduce the reference
    algorithm EXACTLY — same ledger rows (times, parents, children,
    overlaps) and same relabelled field — on dense replays of the
    reference's own serial loop. Covers centroid partitioning, NN with
    the auto max_distance heuristic, and NN with an explicit cap small
    enough that the 3x3 block window (grid_size = max(2, md//4))
    actually bounds the search. Runs pandas-vs-numpy, no Spark."""
    import numpy as np
    import pandas as pd

    sim = _sim()
    rng = np.random.default_rng(7)
    NYs, NXs, NT = 28, 48, 8
    dense = np.zeros((NT, NYs, NXs), dtype=bool)
    # two drifting blobs that collide + random clutter
    for t in range(NT):
        ax, bx = 10 + 2 * t, 34 - 2 * t
        for cx in (ax, bx):
            dense[t, 10:19, max(cx - 4, 0):cx + 5] = True
        clutter = rng.random((NYs, NXs)) < 0.04
        dense[t] |= clutter
    fields = sim.label_slices(dense)

    ledger_ref, fields_ref = sim.simulate(
        fields, thr=0.5, nn=nn, max_distance=max_distance
    )

    from tests.reference.merge import resolve_series

    t_idx, ys, xs = np.nonzero(fields)
    cells = pd.DataFrame(
        {"time": t_idx, "y": ys, "x": xs, "obj_id": fields[t_idx, ys, xs]}
    )
    out, ledger = resolve_series(
        cells, nx=NXs, overlap_threshold=0.5,
        nn_partitioning=nn, max_distance=max_distance,
    )

    assert len(ledger.times) == len(ledger_ref), (
        len(ledger.times), len(ledger_ref),
    )
    for i, (rt, rc, rp, ro) in enumerate(ledger_ref):
        assert ledger.times[i] == rt
        assert list(ledger.child_ids[i]) == list(rc)
        assert list(ledger.parent_ids[i]) == list(rp)
        assert list(ledger.areas[i]) == list(ro)

    got = np.zeros_like(fields)
    got[out["time"].to_numpy(), out["y"].to_numpy(), out["x"].to_numpy()] = (
        out["obj_id"].to_numpy()
    )
    assert np.array_equal(got, fields_ref)


def test_mesh_nn_hop_bfs_vs_geodesic(spark):
    """Mesh NN partitioning follows the reference's hop-BFS over mesh
    edges (partition_nn_unstructured, track.py:5117-5242) when the edge
    table is supplied: a chain mesh 0-1-2-3-4 whose cell 2 sits
    geodesically nearer parent B's member but one hop from BOTH parents
    goes to parent A (earlier parent wins equal hop counts), while the
    geodesic fallback (no edges) assigns it to B."""
    from marex_spark.operators.merge import _collect_mesh_adj, split_merge_events

    def resolve(mesh_edges=None, **kw):
        return split_merge_events(
            labels, geometry="sphere", cell_geo=geo, overlap_threshold=0.5,
            time_col="t", nn_partitioning=True,
            mesh_adj=None if mesh_edges is None else _collect_mesh_adj(mesh_edges, geo),
            **kw,
        )

    # lon: cell 2 at 22 deg — geodesically nearer cell 3 (30) than 1 (10)
    geo = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.0, 10.0), (2, 0.0, 22.0),
         (3, 0.0, 30.0), (4, 0.0, 1.0)],
        "cell long, lat double, lon double",
    )
    edges = spark.createDataFrame(
        [(a, b) for a, b in ((0, 1), (1, 2), (2, 3), (3, 4))
         for a, b in ((a, b), (b, a))],
        "cell long, nbr long",
    )
    labels = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 1), (0, 3, 2), (0, 4, 2)]
        + [(1, c, 3) for c in range(5)],
        "t long, cell long, obj_id long",
    )
    out_hop, *_ = resolve(mesh_edges=edges)
    got = {(r.t, r.cell): r.obj_id for r in out_hop.collect()}
    assert got[(1, 2)] == got[(1, 0)], got   # hop tie -> earlier parent A
    assert got[(1, 3)] == got[(1, 4)]
    assert got[(1, 0)] != got[(1, 3)]

    out_geo, *_ = resolve()
    got2 = {(r.t, r.cell): r.obj_id for r in out_geo.collect()}
    assert got2[(1, 2)] == got2[(1, 3)], got2  # geodesic -> parent B

    # max_distance=0 hops: BFS never expands past the seeded overlap
    # cells, so cell 2 takes the centroid fallback (track.py:5227-5238)
    # -> parent B (nearer centroid, lon ~15.5 vs A's ~5)
    out_fb, *_ = resolve(mesh_edges=edges, max_distance=0.0)
    got3 = {(r.t, r.cell): r.obj_id for r in out_fb.collect()}
    assert got3[(1, 2)] == got3[(1, 3)], got3


def test_chunked_timestamp_tz_safe(spark, two_blob_field, monkeypatch):
    """Non-UTC session timezone: the resolver's parquet spill
    paths must not shift timestamp time columns (toPandas yields
    session-local wall times, pyarrow reads Spark INT96 as UTC wall —
    mixing them shifted output by the tz offset). Times ride the spill
    as epoch micros; output, ledger and one-shot equality all hold."""
    import marex_spark.operators.merge as M
    from marex_spark.operators.label import label_components
    from tests.reference.merge import split_merge_reference

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        labels = label_components(
            two_blob_field, nx=NX, time_col="time"
        ).localCheckpoint()
        one, led_one = split_merge_reference(
            labels, nx=NX, overlap_threshold=0.5
        )
        # a one-step cell budget over 10 steps -> 10 chunks >= 4:
        # pyarrow page fast path engaged
        monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", 300)
        chk, led_chk, _ = M.split_merge_events(
            labels, nx=NX, overlap_threshold=0.5,
            labels_materialized=True,
        )
        assert len(chk.inputFiles()) >= 4
        assert chk.schema["time"].dataType.simpleString() == "timestamp"
        a = sorted(map(tuple, one.collect()))
        b = sorted(map(tuple, chk.collect()))
        assert a == b
        la = sorted(map(tuple, led_one.collect()))
        lb = sorted(map(tuple, led_chk.collect()))
        assert la == lb
        # and the times are the INPUT instants, not shifted copies
        in_times = {r[0] for r in two_blob_field.select("time").distinct().collect()}
        out_times = {r[0] for r in chk.select("time").distinct().collect()}
        assert out_times <= in_times
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_mesh_adj_edge_budget_guard(spark):
    from marex_spark.exceptions import TrackingError
    from marex_spark.operators.merge import _collect_mesh_adj

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "cell long, nbr long"
    )
    with pytest.raises(TrackingError):
        _collect_mesh_adj(edges, edge_budget=2)
    adj = _collect_mesh_adj(edges)  # default budget passes
    assert len(adj.indptr) == 4
    assert adj.cell_areas is None


def test_mesh_adj_slot_padded(spark):
    """A slot column produces the reference's padded (n_nbr, cells)
    layout: uniform stride, -1 at missing slots, slot positions kept."""
    from marex_spark.operators.merge import _collect_mesh_adj

    edges = spark.createDataFrame(
        # cell 0: slots (1, -, 2); cell 1: slot (0); cell 2: slots (-, 0)
        [(0, 1, 0), (0, 2, 2), (1, 0, 0), (2, 0, 1)],
        "cell long, nbr long, slot long",
    )
    adj = _collect_mesh_adj(edges)
    assert list(adj.indptr) == [0, 3, 6, 9]
    assert list(adj.indices) == [1, -1, 2, 0, -1, -1, -1, 0, -1]


def test_nn_grid_block_window_wraps_y():
    """partition_nn_grid wraps BOTH block axes via modulo
    (track.py:5046/5050): on a short-y domain a parent member across
    the y edge is a candidate. ny=8, block=2 -> 4 y-blocks; child at
    y=0 (block 0), parent at y=7 (block 3): |bdy|=3 wraps to 1 -> in
    window; unwrapped distance 49 <= cap 64 -> finite. Without ny the
    wrap cannot apply (documented fallback)."""
    import numpy as np

    from marex_spark.operators.merge import _min_dist_to_members

    c1 = np.array([0])   # child y
    c2 = np.array([0])   # child x
    m1 = np.array([7])   # parent y (opposite edge)
    m2 = np.array([0])
    kw = dict(grid=True, nx=8, wrap_x=False, block=2, cap2=64.0)
    with_ny = _min_dist_to_members(c1, c2, m1, m2, ny=8, **kw)
    assert with_ny[0] == 49.0
    without_ny = _min_dist_to_members(c1, c2, m1, m2, ny=0, **kw)
    assert not np.isfinite(without_ny[0])
    # the x block axis wraps even when wrap_x=False (reference modulo
    # is unconditional; only the DISTANCE stays unwrapped)
    far_x = _min_dist_to_members(
        np.array([0]), np.array([0]), np.array([0]), np.array([7]),
        grid=True, nx=8, wrap_x=False, block=2, cap2=64.0, ny=8,
    )
    assert far_x[0] == 49.0


def test_to_epoch_micros_dst_edges():
    """Resume-carry conversion must not raise on DST-ambiguous or
    nonexistent wall times: ambiguous hours take the earlier (DST)
    offset like the JVM's naive-time parse; spring-forward gaps shift
    forward; already-converted ints pass through."""
    import pandas as pd

    from marex_spark.operators.merge import _to_epoch_micros

    amb = _to_epoch_micros(
        pd.Timestamp("2025-11-02 01:30"), "America/New_York"
    )
    assert amb == int(pd.Timestamp("2025-11-02 05:30", tz="UTC").value // 1000)
    gap = _to_epoch_micros(
        pd.Timestamp("2025-03-09 02:30"), "America/New_York"
    )
    assert gap == int(pd.Timestamp("2025-03-09 07:00", tz="UTC").value // 1000)
    assert _to_epoch_micros(123, "UTC") == 123


def test_wrapped_distance_helper_parity():
    """Reference wrapped-distance helper pins (tests/
    test_track_helpers.py:16-133, against track.py:4827-4884) replayed
    on the engine's `_wrapped_dist2` NN kernel: basic unwrapped
    distance, seam wrapping, NO wrap at exactly half the grid width,
    the y axis never wrapping inside the distance, zero at the
    centroid itself, and point↔centroid symmetry."""
    import numpy as np

    from marex_spark.operators.merge import _wrapped_dist2

    def d(y, x, cy, cx, nx, wrap=True):
        return float(
            np.sqrt(
                _wrapped_dist2(
                    np.array([y], dtype=float),
                    np.array([x], dtype=float),
                    cy,
                    cx,
                    nx,
                    wrap,
                )[0]
            )
        )

    # basic (helpers:16-30): (5,5) vs centroid (3,3) → sqrt(8)
    assert np.isclose(d(5, 5, 3.0, 3.0, 10), np.sqrt(8), atol=1e-6)
    # wrapping (helpers:32-46): (5,9) vs (5,1) on nx=10 → 2, not 8
    assert np.isclose(d(5, 9, 5.0, 1.0, 10), 2.0, atol=1e-6)
    # exact half (helpers:123-130): x-gap of 5 on nx=10 does NOT wrap
    assert np.isclose(d(0, 0, 0.0, 5.0, 10), 5.0, atol=1e-6)
    # the y axis never wraps in the distance (helpers:115-121)
    assert np.isclose(d(9, 0, 0.0, 0.0, 10), 9.0, atol=1e-6)
    # zero at the centroid; never negative (helpers:68-85, 401)
    assert d(2, 2, 2.0, 2.0, 5) == 0.0
    # symmetry (helpers:370-383): swap point and centroid, same value
    rng = np.random.default_rng(7)
    for _ in range(50):
        y1, y2 = rng.uniform(0, 30, 2)
        x1, x2 = rng.uniform(0, 80, 2)
        assert np.isclose(
            d(y1, x1, y2, x2, 80), d(y2, x2, y1, x1, 80), atol=1e-9
        )
