"""Whole-series split/merge resolution — the reference for
``marex_spark.operators.merge``'s chunked and parallel engines.

One resolver runs the engines' block kernel (``_resolve_block``) ONCE
over every timestep with an empty carry: no paging, no time blocks, no
Jacobi rounds. Both engines must reproduce its labels and ledger for
any chunking or block size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from marex_spark.operators.merge import (
    MergeLedger,
    _collect_mesh_adj,
    _ledger_df,
    _resolve_block,
    _Resolver,
)


def resolve_series(
    cells: pd.DataFrame,
    nx: int = 0,
    overlap_threshold: float = 0.5,
    wrap_x: bool = True,
    max_iter_per_step: int = 10,
    time_col: str = "time",
    geometry: str = "grid",
    nn_partitioning: bool = False,
    max_distance: float | None = None,
    mesh_adj=None,
    ny: int = 0,
) -> tuple[pd.DataFrame, MergeLedger]:
    """Resolve sparse labelled cells in pandas. ``geometry="grid"``:
    (time_col, y, x, obj_id); ``"sphere"``: (time_col, cell, lat, lon,
    obj_id). Returns (relabelled cells, ledger)."""
    grid = geometry == "grid"
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
    slices, times = resolver.build_slices(cells, time_col)
    resolver.next_new_id = int(cells["obj_id"].max()) + 1 if len(cells) else 1
    _resolve_block(resolver, [], slices, times)
    if not times:
        return cells.iloc[0:0], resolver.ledger
    coords = ("y", "x") if grid else ("cell", "lat", "lon")
    fields = ("c1", "c2") if grid else ("key", "c1", "c2")
    out = pd.concat(
        [
            pd.DataFrame(
                {
                    time_col: t,
                    **{c: slices[i][f] for c, f in zip(coords, fields)},
                    "obj_id": slices[i]["id"],
                }
            )
            for i, t in enumerate(times)
        ],
        ignore_index=True,
    )
    return out, resolver.ledger


def split_merge_reference(
    labels: DataFrame,
    cell_geo: DataFrame | None = None,
    mesh_edges: DataFrame | None = None,
    time_col: str = "time",
    **kw,
) -> tuple[DataFrame, DataFrame]:
    """Spark-in / Spark-out form of :func:`resolve_series`, shaped like
    the engines' output: grid labels (time, y, x, obj_id), or with
    ``cell_geo`` sphere labels (time, cell, obj_id); plus the ledger.
    ``mesh_edges`` switches sphere NN partitioning to the hop-BFS."""
    spark = labels.sparkSession
    time_type = labels.schema[time_col].dataType.simpleString()
    if cell_geo is None:
        pdf = labels.select(time_col, "y", "x", "obj_id").toPandas()
        out, ledger = resolve_series(pdf, time_col=time_col, **kw)
        schema = f"{time_col} {time_type}, y long, x long, obj_id long"
    else:
        pdf = (
            labels.select(time_col, "cell", "obj_id")
            .join(F.broadcast(cell_geo.select("cell", "lat", "lon")), "cell")
            .toPandas()
        )
        adj = None
        if kw.get("nn_partitioning") and mesh_edges is not None:
            adj = _collect_mesh_adj(mesh_edges, cell_geo)
        out, ledger = resolve_series(
            pdf, time_col=time_col, geometry="sphere", mesh_adj=adj, **kw
        )
        out = out[[time_col, "cell", "obj_id"]]
        schema = f"{time_col} {time_type}, cell long, obj_id long"
    return (
        spark.createDataFrame(out, schema=schema),
        _ledger_df(spark, ledger, time_col, time_type),
    )
