"""The time-slice runner (``marex_spark.operators.timeblocks``): every
per-slice kernel accepts a DATE or a TIMESTAMP time column with the
same result, and splitting a partition's slices across kernel calls
changes no output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marex_spark.operators import timeblocks
from marex_spark.operators.detect_blocked import (
    detect_extremes_blocked,
    pack_gridded,
)
from marex_spark.operators.label import (
    label_components,
    label_components_unstructured,
)
from marex_spark.operators.morphology import (
    morph_close_open_blocked,
    morph_close_open_unstructured,
)
from marex_spark.operators.track import preprocess_extremes
from marex_spark.sources.synthetic import (
    synthetic_extremes_gridded,
    synthetic_sst_gridded,
)

NY, NX = 12, 24


def _as_date(df):
    return df.withColumn("time", F.to_date("time"))


def _rows(df):
    return sorted(map(tuple, _as_date(df).collect()))


@pytest.fixture(scope="module")
def field(spark):
    # 20 slices over at most 8 time partitions: some partition
    # holds ≥ 2 slices, so a one-slice budget really splits it
    return synthetic_extremes_gridded(spark, n_time=20, ny=NY, nx=NX).cache()


@pytest.fixture(scope="module")
def mesh(spark, field):
    """The grid as a mesh: cell = y·NX + x, 4-neighbour edges with the
    x seam wrapped."""
    cells = spark.range(NY * NX).select(F.col("id").alias("cell"))
    right = cells.select(
        "cell",
        (F.col("cell") - F.col("cell") % NX + (F.col("cell") + 1) % NX).alias("nbr"),
    )
    down = cells.filter(F.col("cell") < (NY - 1) * NX).select(
        "cell", (F.col("cell") + NX).alias("nbr")
    )
    edges = right.unionByName(down)
    active = field.filter("extreme").select(
        "time", (F.col("y") * NX + F.col("x")).cast("long").alias("cell")
    )
    return edges, active


def _kernels(field, mesh):
    """The four per-slice kernels and the fused preprocessing block
    kernel, each on one input."""
    edges, active = mesh
    trues = field.filter("extreme").select("time", "y", "x")
    return {
        "grid_morphology": morph_close_open_blocked(trues, 2, NY, NX),
        "mesh_morphology": morph_close_open_unstructured(active, edges, 1, 1),
        "grid_labels": label_components(field, nx=NX),
        "mesh_labels": label_components_unstructured(
            active.withColumn("extreme", F.lit(True)), edges
        ),
        "preprocess": preprocess_extremes(
            field, ny=NY, nx=NX, r_fill=2, t_fill=2, return_labels=True
        ),
    }


def test_date_and_timestamp_time_agree(spark, field, mesh):
    """A DateType time column runs through every time-decoding kernel
    (it used to crash on the date32 → int64 cast) and gives the same
    rows as the TimestampType column, once time is cast to a date."""
    series = synthetic_sst_gridded(spark, n_years=2, ny=3, nx=8)
    edges, active = mesh

    def runs(ts_field, ts_series, ts_active):
        return {
            "preprocess": preprocess_extremes(
                ts_field, ny=NY, nx=NX, r_fill=2, t_fill=2
            ),
            "detect": detect_extremes_blocked(ts_series),
            "pack": pack_gridded(ts_series, nx=8),
            "labels": label_components(ts_field, nx=NX),
            "mesh_morphology": morph_close_open_unstructured(
                ts_active, edges, 1
            ),
        }

    by_ts = runs(field, series, active)
    by_date = runs(_as_date(field), _as_date(series), _as_date(active))
    for name, df in by_date.items():
        assert dict(df.dtypes)["time"] == "date", name
        want = _rows(by_ts[name])
        assert want, name
        assert _rows(df) == want, name


def test_one_slice_per_kernel_call_matches_unsplit(field, mesh, monkeypatch):
    whole = {k: _rows(v) for k, v in _kernels(field, mesh).items()}
    monkeypatch.setattr(timeblocks, "SLICE_BATCH_CELLS", 1)
    split = {k: _rows(v) for k, v in _kernels(field, mesh).items()}
    for name, rows in whole.items():
        assert rows, name
        assert split[name] == rows, name
