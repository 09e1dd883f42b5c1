"""Time-slice runner for the per-slice numpy kernels, and the Arrow
time codec the blocked detect shares with it.

Morphology and labelling follow the reference's chunk → function →
chunk ``apply_ufunc`` contract (track.py:1630-1634, 2007-2046): cells
hash-partition by time, a numpy kernel runs over whole slices, and the
time column goes back in its input type. :func:`map_time_slices` is
that scaffold, written once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

# Work cap of one kernel call: a slice costs ny·nx in the dense
# morphology stack, its row count in the sparse kernels. Sized for cache
# residency: at 720×1440 under 32 concurrent tasks the morphology wave
# took 9.7-16.4 s/task with 64 MB stacks vs 1.8-2.6 s at 2 MB, same
# outputs (OPTIMIZATION_r09.md).
SLICE_BATCH_CELLS = 2_000_000


def time_unit(ts_type: pa.DataType) -> tuple[str, bool]:
    """(numpy datetime64 unit, is_date) of the int64 values
    :func:`time_to_int64` returns for ``ts_type``. Dates are
    timezone-free; timestamps are UTC instants."""
    if pa.types.is_date32(ts_type):
        return "D", True
    if pa.types.is_date64(ts_type):
        return "ms", True
    if pa.types.is_timestamp(ts_type):
        return ts_type.unit, False
    raise TypeError(f"unsupported time column type: {ts_type}")


def time_to_int64(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """Arrow time column → int64: the unit of :func:`time_unit` for
    dates and timestamps, the values themselves for integer columns."""
    if pa.types.is_date32(col.type):  # date32 refuses a direct int64 cast
        col = col.cast(pa.int32())
    return col.cast(pa.int64()).to_numpy()


def time_from_int64(vals: np.ndarray, ts_type: pa.DataType) -> pa.Array:
    """Inverse of :func:`time_to_int64`: int64 values → ``ts_type``."""
    if pa.types.is_date32(ts_type):
        vals = vals.astype(np.int32)
    return pa.array(vals, type=ts_type)


def map_time_slices(
    df: DataFrame,
    time_col: str,
    kernel: Callable[[np.ndarray, dict], tuple[np.ndarray, dict]],
    schema: str,
    slice_cells: int | None = None,
) -> DataFrame:
    """Run ``kernel(slices, cols) -> (slices_out, cols_out)`` over whole
    time slices of ``df`` in one ``mapInArrow`` pass. ``slices`` is each
    row's call-local slice code 0..k-1 (ascending, none missing),
    ``cols`` the other columns as numpy in that row order. ``schema`` is
    the DDL of ``cols_out``; the time column is prepended in its input
    type.

    A call gets a run of consecutive slices whose cost fits
    :data:`SLICE_BATCH_CELLS` (at least one slice). A slice costs
    ``slice_cells`` when given, else its row count."""
    budget = SLICE_BATCH_CELLS

    def _run(batches) -> Iterator[pa.RecordBatch]:
        blist = [b for b in batches if b.num_rows]
        if not blist:
            return
        tbl = pa.Table.from_batches(blist).combine_chunks()
        ts_type = tbl.schema.field(time_col).type
        ut, t_inv = np.unique(time_to_int64(tbl[time_col]), return_inverse=True)
        order = np.argsort(t_inv, kind="stable")
        slices = t_inv[order]
        cols = {
            c: tbl[c].to_numpy()[order] for c in tbl.column_names if c != time_col
        }
        starts = np.searchsorted(slices, np.arange(len(ut) + 1))
        per_slice = np.full(len(ut), slice_cells) if slice_cells else np.diff(starts)
        cost = np.r_[0, np.cumsum(per_slice)]
        lo = 0
        while lo < len(ut):
            fit = int(np.searchsorted(cost, cost[lo] + budget, side="right")) - 1
            hi = max(lo + 1, fit)
            r0, r1 = starts[lo], starts[hi]
            out_slices, out = kernel(
                slices[r0:r1] - lo, {c: v[r0:r1] for c, v in cols.items()}
            )
            yield pa.RecordBatch.from_arrays(
                [time_from_int64(ut[out_slices + lo], ts_type)]
                + [pa.array(v) for v in out.values()],
                names=[time_col, *out],
            )
            lo = hi

    time_type = df.schema[time_col].dataType.simpleString()
    # explicit partition count: an AQE-coalesced shuffle would funnel
    # all slices into one task and serialise the Python kernel
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parallelism, time_col).mapInArrow(
        _run, schema=f"{time_col} {time_type}, {schema}"
    )
