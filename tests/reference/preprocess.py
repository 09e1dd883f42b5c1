"""The staged gridded preprocessing chain — the reference for
``marex_spark.operators.track.preprocess_extremes``.

Each stage is its own Spark operator with its own shuffle:
closing/opening (``morph_close_open_blocked``), mask semi-join, the
sparse gap fill (``fill_time_gaps_true_set``), the R/2 refill, then
labelling and the area filter (``filter_small_objects`` or
``label_components``). The fused time-block pass must return the same
rows, obj_ids included, in both return forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.operators.label import label_components
from marex_spark.operators.morphology import (
    fill_time_gaps_true_set,
    filter_small_objects,
    morph_close_open_blocked,
)


def preprocess_staged(
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
    """Same arguments and output as ``preprocess_extremes`` (argument
    validation left out)."""
    # The whole chain runs on the TRUE SET only — closing/opening,
    # temporal gap GENERATION (fill_time_gaps_true_set: gap rows are
    # created, not flipped, so a sparse-True input gets the same
    # temporal closing a dense field does) and the area filter are all
    # fully determined by the True cells. No full-field joins between
    # stages (the boolean form paid one per stage); the dense boolean
    # output is reassembled once at the end when asked for.
    def _mask(df):
        if mask is None:
            return df
        keys = mask.select("y", "x")
        return df.join(F.broadcast(keys), ["y", "x"], "leftsemi")

    d_true = extremes.filter(F.col(extreme_col)).select(time_col, "y", "x")
    if r_fill > 0:
        d_true = morph_close_open_blocked(
            d_true, r_fill, ny, nx, wrap_x, time_col
        )
    # fill_holes masks at its end even when R=0 skips the morphology
    d_true = _mask(d_true)
    if t_fill > 0:
        d_true = fill_time_gaps_true_set(
            d_true, t_fill, extremes, time_col, keys=("y", "x")
        )
        # re-fill spatial holes opened by the temporal closing with R/2
        # (track.py:1717-1726), masked again at the stage's end
        if r_fill > 1:
            d_true = _mask(
                morph_close_open_blocked(
                    d_true, r_fill // 2, ny, nx, wrap_x, time_col
                )
            )
    field = d_true.withColumn(extreme_col, F.lit(True))
    labels = None
    if area_filter_absolute is not None:
        labels = filter_small_objects(
            field, nx, 0.0, time_col, extreme_col, wrap_x,
            min_area=area_filter_absolute, return_labels=True,
            connectivity=connectivity, drop_first_object=drop_first_object,
        )
    elif area_quartile > 0 or drop_first_object:
        # the reference's filter runs even at quartile 0 (threshold =
        # min area keeps everything) — significant only for its
        # first-object drop (track.py:1891-1892), which applies there
        # too
        labels = filter_small_objects(
            field, nx, area_quartile, time_col, extreme_col, wrap_x,
            return_labels=True, connectivity=connectivity,
            drop_first_object=drop_first_object,
        )
    elif return_labels:
        labels = label_components(
            field, nx=nx, time_col=time_col, extreme_col=extreme_col,
            wrap_x=wrap_x, connectivity=connectivity,
        )
    if return_labels:
        return labels
    kept = labels.select(time_col, "y", "x") if labels is not None else d_true
    return (
        extremes.drop(extreme_col)
        .join(
            kept.withColumn("_t", F.lit(True)), [time_col, "y", "x"], "full"
        )
        .withColumn(extreme_col, F.coalesce(F.col("_t"), F.lit(False)))
        .drop("_t")
    )
