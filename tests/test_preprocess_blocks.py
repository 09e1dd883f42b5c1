"""The fused gridded preprocessing pass (``preprocess_extremes`` over
``timeblocks.map_time_blocks``) equals the staged chain it replaced,
``tests/reference/preprocess.py``, row for row, obj_ids included, in
both return forms.

Blocks are shrunk to 3-5 days so gaps straddle block edges and the
closing/opening disks sit on halo days."""

from __future__ import annotations

import datetime
import logging

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from marex_spark.logging_config import get_logger
from marex_spark.operators import timeblocks
from marex_spark.operators.track import preprocess_extremes
from marex_spark.tracker import tracker
from tests.reference.preprocess import preprocess_staged

NY, NX = 6, 8
T0 = datetime.datetime(2021, 3, 1)
SCHEMA = "time timestamp, y int, x int, extreme boolean"


def _both_forms(df, **kw):
    """(labelled rows, boolean-field rows) of the fused pass and of the
    staged reference."""
    out = []
    for fn in (preprocess_extremes, preprocess_staged):
        out.append(
            tuple(
                sorted(map(tuple, fn(df, return_labels=rl, **kw).collect()))
                for rl in (True, False)
            )
        )
    return out


def _assert_equal_to_reference(df, **kw):
    fused, staged = _both_forms(df, **kw)
    assert staged[0], "the reference keeps no object: the case pins nothing"
    assert fused[0] == staged[0]
    assert fused[1] == staged[1]
    return fused


def _random_field(spark, seed, n_days, dense, missing_day):
    rng = np.random.default_rng(seed)
    g = rng.random((n_days, NY, NX)) < 0.35
    g[rng.integers(n_days)] = False  # an all-False day
    rows = [
        (T0 + datetime.timedelta(days=d), y, x, bool(g[d, y, x]))
        for d in range(n_days)
        if d != missing_day
        for y in range(NY)
        for x in range(NX)
        if dense or g[d, y, x]
    ]
    return spark.createDataFrame(rows, SCHEMA)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    block_days=st.integers(3, 5),
    r_fill=st.integers(0, 3),
    t_fill=st.integers(0, 2),
    absolute=st.booleans(),
    quartile=st.sampled_from([0.0, 0.25, 0.5]),
    drop_first=st.booleans(),
    wrap_x=st.booleans(),
    connectivity=st.sampled_from([4, 8]),
    dense=st.booleans(),
    missing_day=st.sampled_from([None, 4, 7]),
    seed=st.integers(0, 2**16),
)
def test_fused_pass_equals_staged_chain(
    spark, block_days, r_fill, t_fill, absolute, quartile, drop_first,
    wrap_x, connectivity, dense, missing_day, seed,
):
    field = _random_field(spark, seed, 12, dense, missing_day)
    kw = dict(
        ny=NY, nx=NX, r_fill=r_fill, t_fill=t_fill, wrap_x=wrap_x,
        connectivity=connectivity, drop_first_object=drop_first,
        area_quartile=0.0 if absolute else quartile,
        area_filter_absolute=3.0 if absolute else None,
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(timeblocks, "BLOCK_DAYS", block_days)
        _assert_equal_to_reference(field, **kw)


# ------------------------------------------------------------ edge inputs

BLOB = {(y, x) for y in range(1, 5) for x in range(2, 6)}


@pytest.fixture
def short_blocks(monkeypatch):
    monkeypatch.setattr(timeblocks, "BLOCK_DAYS", 3)


def _blob_rows(days, all_days, dense):
    return [
        (T0 + datetime.timedelta(days=d), y, x, d in days and (y, x) in BLOB)
        for d in all_days
        for y in range(NY)
        for x in range(NX)
        if dense or (d in days and (y, x) in BLOB)
    ]


def test_dense_all_false_day_inside_gap_is_filled(spark, short_blocks):
    """Days 2 and 3 exist only as all-False rows: they are time values
    of the series, so the 2-day gap fills them."""
    df = spark.createDataFrame(
        _blob_rows({0, 1, 4, 5}, range(7), dense=True), SCHEMA
    )
    labels, _ = _assert_equal_to_reference(
        df, ny=NY, nx=NX, r_fill=1, t_fill=2, area_quartile=0.5
    )
    filled = {r[0] for r in labels}
    assert T0 + datetime.timedelta(days=2) in filled
    assert T0 + datetime.timedelta(days=3) in filled


@pytest.mark.parametrize("dense", [True, False])
def test_missing_calendar_day_counts_but_is_not_generated(
    spark, short_blocks, dense
):
    """Day 3 is absent from the series. The gap between days 1 and 4 is
    2 calendar days, so day 2 fills; day 3 has no time value and stays
    absent."""
    days = [0, 1, 2, 4, 5]
    rows = _blob_rows({0, 1, 4, 5}, days, dense)
    # day 2 is a time value of the sparse series too
    rows.append((T0 + datetime.timedelta(days=2), 0, 0, True))
    df = spark.createDataFrame(rows, SCHEMA)
    labels, _ = _assert_equal_to_reference(
        df, ny=NY, nx=NX, r_fill=0, t_fill=2, area_quartile=0.5
    )
    times = {r[0] for r in labels}
    assert T0 + datetime.timedelta(days=2) in times
    assert T0 + datetime.timedelta(days=3) not in times


def test_date_time_column(spark, short_blocks):
    df = _random_field(spark, 3, 10, dense=False, missing_day=None)
    df = df.withColumn("time", F.to_date("time"))
    labels, _ = _assert_equal_to_reference(
        df, ny=NY, nx=NX, r_fill=2, t_fill=2, area_quartile=0.5
    )
    assert isinstance(labels[0][0], datetime.date)


def test_mask(spark, short_blocks):
    """Invalid cells take part in the closing/opening and are dropped
    after it, on halo days too."""
    df = _random_field(spark, 5, 10, dense=True, missing_day=None)
    mask = spark.createDataFrame(
        [(y, x) for y in range(NY) for x in range(NX) if x < NX - 2 and y > 0],
        "y int, x int",
    )
    labels, _ = _assert_equal_to_reference(
        df, ny=NY, nx=NX, r_fill=2, t_fill=2, area_quartile=0.25, mask=mask
    )
    assert all(x < NX - 2 and y > 0 for _, y, x, _ in labels)


def test_tracker_without_ny(spark, short_blocks):
    """``Tracker(R_fill=0, ny=None)`` is a valid configuration: the
    kernel never sizes a dense stack then, and the output still equals
    the reference."""
    df = _random_field(spark, 11, 10, dense=False, missing_day=None)
    tr = tracker(df, nx=NX, R_fill=0, T_fill=2, area_filter_quartile=0.5)
    got = sorted(map(tuple, tr.run_preprocess().collect()))
    want = sorted(
        map(
            tuple,
            preprocess_staged(
                df, ny=0, nx=NX, r_fill=0, t_fill=2, area_quartile=0.5,
                drop_first_object=True,
            ).collect(),
        )
    )
    assert any(r[3] for r in want)
    assert got == want


# ---------------------------------------------------------- observability


def test_one_debug_record_per_call(spark, short_blocks):
    records: list[logging.LogRecord] = []

    class _Cap(logging.Handler):
        def emit(self, record):
            records.append(record)

    df = spark.createDataFrame(
        _blob_rows({0, 1, 4, 5}, range(7), dense=False)
        + [(T0 + datetime.timedelta(days=d), 0, 7, True) for d in range(7)],
        SCHEMA,
    )
    log = get_logger("marex_spark.operators.track")
    h = _Cap(level=logging.DEBUG)
    prev_level = log.level
    log.addHandler(h)
    log.setLevel(logging.DEBUG)
    try:
        preprocess_extremes(
            df, ny=NY, nx=NX, r_fill=0, t_fill=2, area_quartile=0.5
        )
    finally:
        log.removeHandler(h)
        log.setLevel(prev_level)
    (rec,) = [r for r in records if hasattr(r, "objects_kept")]
    # days 0-6 fall in 3 blocks of 3 days; the gap fill puts the blob
    # on days 2-3, and the speck at (0, 7) is one object per day
    assert rec.block_days == 3
    assert rec.halo_days == 2
    assert rec.blocks == 3
    assert rec.objects == 13  # the blob on days 0-5, the speck on 0-6
    assert rec.area_threshold == 1.0
    assert rec.objects_kept == 13
