"""The merge resolver's link graph against the Spark overlap chain.

In merge mode the resolver kernel emits the overlap pairs of its final
slices and ``track_events`` links events from them; no-merge tracking,
extension and rewind link through ``overlap_pairs`` +
``object_areas`` + ``filter_overlap_fraction``. Both must give the same
pairs, and the same events with ids, over the engine's own output
labels — paged and in one page, grid and sphere, with and without the
overlap gate (θ = 0.55 is where the multiplied gate form used to drop
pairs the divided form keeps)."""

from __future__ import annotations

import datetime
import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

import marex_spark.operators.merge as M
from marex_spark.logging_config import get_logger
from marex_spark.operators import components
from marex_spark.operators.track import (
    _link_events,
    _overlap_links,
    track_events,
    track_events_unstructured,
)

T0 = datetime.datetime(2021, 1, 1)
NX = 80
N_CELL = 100
THETAS = [0.0, 0.5, 0.55]


@pytest.fixture(scope="module")
def grid_labels(spark):
    """Two 11×11 blobs drifting together (collision ~t=8): the extreme
    cells of tests/test_merge.py's ``two_blob_field``."""
    from marex_spark.operators.label import label_components

    rows = []
    for t in range(10):
        ax, bx = 20 + 2 * t, 60 - 2 * t
        for y in range(15 - 5, 15 + 6):
            for x in range(NX):
                if abs(x - ax) <= 5 or abs(x - bx) <= 5:
                    rows.append((T0 + datetime.timedelta(days=t), y, x, True))
    field = spark.createDataFrame(rows, "time timestamp, y int, x int, extreme boolean")
    return field, label_components(field, nx=NX).localCheckpoint()


@pytest.fixture(scope="module")
def sphere_labels(spark):
    """Ring mesh, two 9-cell blobs drifting together (collision ~t=10)."""
    from marex_spark.operators.label import label_components_unstructured

    cells = spark.range(N_CELL).select(F.col("id").alias("cell"))
    edges = cells.select("cell", ((F.col("cell") + 1) % N_CELL).alias("nbr"))
    geo = cells.select(
        "cell", F.lit(0.0).alias("lat"), (F.col("cell") * (360.0 / N_CELL)).alias("lon")
    )
    rows = []
    for t in range(13):
        for c in range(N_CELL):
            if any(min(abs(c - m), N_CELL - abs(c - m)) <= 4 for m in (10 + 2 * t, 60 - 2 * t)):
                rows.append((T0 + datetime.timedelta(days=t), c, True))
    field = spark.createDataFrame(rows, "time timestamp, cell long, extreme boolean")
    labels = label_components_unstructured(field, edges).localCheckpoint()
    return field, labels, edges, geo


def _set_pages(monkeypatch, pages, step_cells):
    """The resolver's page budget for the ``pages`` parameter: one step
    per page ("chunked": every step boundary is a page boundary), or
    the default budget, the whole series in one page ("whole")."""
    if pages == "chunked":
        monkeypatch.setattr(M, "TARGET_BLOCK_CELLS", step_cells)


def _engine(labels, geometry, pages, theta, geo=None):
    """(output labels, link pairs) from one resolver run; also checks
    the run's DEBUG record against the pages and the pairs."""
    kw = dict(overlap_threshold=theta)
    if geometry == "grid":
        kw.update(nx=NX)
    else:
        kw.update(geometry="sphere", cell_geo=geo)
    records: list[logging.LogRecord] = []

    class _Cap(logging.Handler):
        def emit(self, record):
            records.append(record)

    log = get_logger("marex_spark.operators.merge")
    h = _Cap(level=logging.DEBUG)
    prev_level = log.level
    log.addHandler(h)
    log.setLevel(logging.DEBUG)
    try:
        out, _, pairs = M.split_merge_events(labels, **kw)
    finally:
        log.removeHandler(h)
        log.setLevel(prev_level)
    (rec,) = [r for r in records if hasattr(r, "merge_pages")]
    n_files = len(out.inputFiles())
    assert rec.merge_pages == n_files
    assert (n_files >= 4) if pages == "chunked" else (n_files == 1)
    assert rec.merge_cells == labels.count()
    n_pairs = len(pairs) if isinstance(pairs, np.ndarray) else pairs.count()
    assert rec.merge_link_pairs == n_pairs > 0
    return out, pairs


def _rows(events, keys):
    return sorted(events.select("time", *keys, "obj_id", "event_id").collect())


def _check(out, pairs, keys, theta, events):
    assert isinstance(pairs, np.ndarray) and pairs.dtype == np.int64
    got = set(map(tuple, pairs.tolist()))
    assert len(got) == len(pairs)  # one row per pair
    chain_pairs = _overlap_links(out, keys, "time", theta).collect()
    assert got == {(r.id_t, r.id_next) for r in chain_pairs}
    assert len(got) > 0
    # track_events' events (ids included) equal the chain composition
    # over the engine's own output labels
    cols = ["time", *keys, "obj_id"]
    lab = events.select(*cols)
    assert sorted(lab.collect()) == sorted(out.select(*cols).collect())
    chain = _link_events(lab, _overlap_links(lab, keys, "time", theta), False)
    assert _rows(events, keys) == _rows(chain, keys)


@pytest.mark.parametrize("theta", THETAS)
@pytest.mark.parametrize("pages", ["chunked", "whole"])
def test_grid_link_pairs_equal_overlap_chain(spark, grid_labels, monkeypatch, pages, theta):
    field, labels = grid_labels
    _set_pages(monkeypatch, pages, 250)  # 242 cells/step
    out, pairs = _engine(labels, "grid", pages, theta)
    res = track_events(
        field, nx=NX, labels=labels, overlap_threshold=theta, compute_stats=False,
        allow_merging=True,
    )
    _check(out, pairs, ("y", "x"), theta, res.events)


@pytest.mark.parametrize("theta", THETAS)
@pytest.mark.parametrize("pages", ["chunked", "whole"])
def test_sphere_link_pairs_equal_overlap_chain(spark, sphere_labels, monkeypatch, pages, theta):
    field, labels, edges, geo = sphere_labels
    _set_pages(monkeypatch, pages, 20)  # 18 cells/step
    out, pairs = _engine(labels, "sphere", pages, theta, geo=geo)
    res = track_events_unstructured(
        field, edges, geo, labels=labels, overlap_threshold=theta, compute_stats=False,
        allow_merging=True,
    )
    _check(out, pairs, ("cell",), theta, res.events)


@pytest.mark.parametrize("pages", ["chunked", "whole"])
def test_over_budget_link_pairs_stay_distributed(spark, grid_labels, monkeypatch, pages):
    """Past ``MAX_DRIVER_PAIRS`` the resolver hands back the pairs as a
    DataFrame and ``track_events`` links through the distributed
    solver: same pairs, same events."""
    field, labels = grid_labels
    _set_pages(monkeypatch, pages, 250)
    out, pairs = _engine(labels, "grid", pages, 0.5)
    monkeypatch.setattr(components, "MAX_DRIVER_PAIRS", 3)
    out2, pairs_df = _engine(labels, "grid", pages, 0.5)
    assert not isinstance(pairs_df, np.ndarray)
    assert {(r.id_t, r.id_next) for r in pairs_df.collect()} == set(map(tuple, pairs.tolist()))
    assert sorted(out2.collect()) == sorted(out.collect())
    res = track_events(
        field, nx=NX, labels=labels, overlap_threshold=0.5, compute_stats=False,
        allow_merging=True,
    )
    monkeypatch.setattr(components, "MAX_DRIVER_PAIRS", 10**9)
    chain = _link_events(out, _overlap_links(out, ("y", "x"), "time", 0.5), False)
    assert _rows(res.events, ("y", "x")) == _rows(chain, ("y", "x"))


def test_overlap_gate_is_the_division_form(spark):
    """θ = 0.55 with 55/100 and 99/180 cells: overlap / min(area) is
    exactly 0.55 and kept, where ``overlap >= 0.55 · min(area)`` drops
    it (0.55 · 100 rounds above 55 in float64). The resolver's gate,
    the kernel's link gate and ``filter_overlap_fraction`` agree."""
    from marex_spark.operators.overlap import filter_overlap_fraction

    assert 55 < 0.55 * 100 and 99 < 0.55 * 180  # the multiplied form drops both
    pairs = np.array([[1, 2, 55], [3, 4, 99], [5, 6, 54]], dtype=np.int64)
    areas = {1: 100, 2: 120, 3: 180, 4: 200, 5: 100, 6: 100}
    kept = M._apply_threshold(pairs, areas, 0.55)
    assert kept[:, :2].tolist() == [[1, 2], [3, 4]]

    # the kernel link gate: slice a holds object 1 (100 cells), slice
    # b object 2 (120 cells) sharing 55 of them
    key_a = np.arange(100, dtype=np.int64)
    key_b = np.arange(45, 165, dtype=np.int64)
    sl_a = {"key": key_a, "id": np.full(100, 1, dtype=np.int64)}
    sl_b = {"key": key_b, "id": np.full(120, 2, dtype=np.int64)}
    (step,) = M._link_pairs([sl_a, sl_b], 0.55)
    assert step.tolist() == [[1, 2, 55]]

    pdf = spark.createDataFrame(
        [(1, 2, 55.0), (3, 4, 99.0), (5, 6, 54.0)], "id_t long, id_next long, overlap_area double"
    )
    adf = spark.createDataFrame(
        [(k, float(v)) for k, v in areas.items()], "obj_id long, area double"
    )
    spark_kept = sorted(
        (r.id_t, r.id_next) for r in filter_overlap_fraction(pdf, adf, 0.55).collect()
    )
    assert spark_kept == [(1, 2), (3, 4)]
