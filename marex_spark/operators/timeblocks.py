"""Time-slice and time-block runners for the per-slice numpy kernels,
and the Arrow time codec the blocked detect shares with them.

Morphology and labelling follow the reference's chunk → function →
chunk ``apply_ufunc`` contract (track.py:1630-1634, 2007-2046): cells
hash-partition by time, a numpy kernel runs over whole slices, and the
time column goes back in its input type. :func:`map_time_slices` is
that scaffold, written once.

:func:`map_time_blocks` is its multi-day form for kernels that also
look along the time axis (the fused preprocessing pass, whose gap fill
spans ``T_fill`` days). Rows go to blocks of :data:`BLOCK_DAYS` epoch
days; a row within ``halo_days`` of a block edge is also copied into
the neighbouring block, so a block's kernel sees every day its own
days depend on. The kernel computes halo days but emits only its own:
partition-local work plus boundary reconciliation, as in REPOSE
(ICDE 2021), with the halo as the reconciliation.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marex_spark.functions.temporal import epoch_day

# Work cap of one kernel call: a slice costs ny·nx in the dense
# morphology stack, its row count in the sparse kernels. Sized for cache
# residency: at 720×1440 under 32 concurrent tasks the morphology wave
# took 9.7-16.4 s/task with 64 MB stacks vs 1.8-2.6 s at 2 MB, same
# outputs (OPTIMIZATION_r09.md).
SLICE_BATCH_CELLS = 2_000_000

# Epoch days per block of :func:`map_time_blocks`. Blocks, not slices,
# are its unit of hash partitioning and kernel calls: 64 days keep a
# block's rows small while the halo copies (2·halo_days per block) stay
# a few percent of the rows.
BLOCK_DAYS = 64


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


def map_time_blocks(
    df: DataFrame,
    time_col: str,
    keep_col: str,
    halo_days: int,
    kernel: Callable[..., tuple[np.ndarray, dict]],
    schema: str,
) -> DataFrame:
    """Run ``kernel(days, own, slices, cols) -> (slices_out, cols_out)``
    once per block of :data:`BLOCK_DAYS` epoch days, in one shuffle and
    one ``mapInArrow`` pass.

    Rows where ``keep_col`` is true are the data: each goes to its own
    block and to every block whose days lie within ``halo_days`` of its
    day (at most 3 blocks while ``halo_days`` ≤ :data:`BLOCK_DAYS`).
    Every other row only makes its time known to its own block, so a
    block knows all the series' time values on its days, data or not
    (one distinct over those rows' times, which the optimizer drops
    when ``keep_col`` is a literal true).

    Per block the kernel gets ``days`` (epoch day of each slice, by
    ascending time), ``own`` (slice lies in the block rather than its
    halo), ``slices`` (slice index of each data row, ascending) and
    ``cols`` (the data rows' other columns as numpy, ``keep_col``
    excluded). It returns the slice index and the ``schema`` columns of
    its output rows; the time column is prepended in its input type.
    Kernels should emit own slices only, or halo rows come out twice."""
    block = BLOCK_DAYS
    data_cols = [c for c in df.columns if c not in (time_col, keep_col)]
    epoch = epoch_day(time_col).cast("long")
    keep = F.coalesce(F.col(keep_col), F.lit(False))
    first_blk, last_blk = (
        F.floor((epoch + d) / F.lit(block)).cast("long")
        for d in (-halo_days, halo_days)
    )
    data = df.filter(keep).select(
        F.explode(F.sequence(first_blk, last_blk)).alias("_blk"),
        F.lit(True).alias("_data"),
        time_col,
        epoch.cast("int").alias("_day"),
        *data_cols,
    )
    marks = (
        df.filter(~keep)
        .select(time_col)
        .distinct()
        .select(
            F.floor(epoch / F.lit(block)).cast("long").alias("_blk"),
            F.lit(False).alias("_data"),
            time_col,
            epoch.cast("int").alias("_day"),
            *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in data_cols],
        )
    )
    routed = data.unionByName(marks)

    def _run(batches) -> Iterator[pa.RecordBatch]:
        blist = [b for b in batches if b.num_rows]
        if not blist:
            return
        tbl = pa.Table.from_batches(blist).combine_chunks()
        ts_type = tbl.schema.field(time_col).type
        t = time_to_int64(tbl[time_col])
        blk = tbl["_blk"].to_numpy()
        order = np.lexsort((t, blk))
        t, blk = t[order], blk[order]
        day = tbl["_day"].to_numpy()[order]
        data = tbl["_data"].to_numpy()[order]
        picked = pa.array(order[data])
        cols = {c: tbl[c].take(picked).to_numpy() for c in data_cols}
        n_data = np.r_[0, np.cumsum(data)]
        bounds = np.r_[0, np.nonzero(np.diff(blk))[0] + 1, len(blk)]
        for r0, r1 in zip(bounds[:-1], bounds[1:]):
            ut, first, inv = np.unique(t[r0:r1], return_index=True, return_inverse=True)
            days = day[r0:r1][first].astype(np.int64)
            own = days // block == blk[r0]
            d0, d1 = n_data[r0], n_data[r1]
            out_slices, out = kernel(
                days, own, inv[data[r0:r1]], {c: v[d0:d1] for c, v in cols.items()}
            )
            if not len(out_slices):
                continue
            yield pa.RecordBatch.from_arrays(
                [time_from_int64(ut[out_slices], ts_type)]
                + [pa.array(v) for v in out.values()],
                names=[time_col, *out],
            )

    time_type = df.schema[time_col].dataType.simpleString()
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return routed.repartition(parallelism, "_blk").mapInArrow(
        _run, schema=f"{time_col} {time_type}, {schema}"
    )
