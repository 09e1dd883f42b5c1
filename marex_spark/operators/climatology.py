"""Anomaly engine — Spark-native re-expression of marEx
``compute_normalised_anomaly`` (reference detect.py:891-1116).

Input convention: long-format DataFrame with columns
``(time timestamp, <cell keys...>, value double)`` where cell keys are
``y, x`` (gridded) or ``cell`` (unstructured). All operators are pure
DataFrame transformations — Catalyst handles pushdown/pruning; the only
driver-side math is the tiny harmonic design-matrix pseudo-inverse
(detect.py:2161-2220 does the same with numpy).

Scale notes: climatology tables are (366 × cells) — broadcast when the
grid is small, shuffle-hash join on (doy, cell) otherwise; the join key
includes the cell so AQE can split skew.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marex_spark.functions.temporal import decimal_year, epoch_day

DEFAULT_KEYS = ("y", "x")


def add_time_keys(df: DataFrame, time_col: str = "time") -> DataFrame:
    """Attach (year, doy) derivation columns (detect.py:1605-1606)."""
    return df.withColumn("year", F.year(time_col)).withColumn(
        "doy", F.dayofyear(time_col)
    )


def smooth_rolling_mean(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    smooth_days: int = 21,
    time_col: str = "time",
    value_col: str = "value",
    out_col: str = "value",
) -> DataFrame:
    """Centered rolling-mean smoother (detect.py:1810-1812, W1).

    rangeBetween on epoch-day so calendar gaps don't shift the window.
    """
    half = smooth_days // 2
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_day(time_col))
        .rangeBetween(-half, half)
    )
    return df.withColumn(out_col, F.avg(value_col).over(w))


def partition_by_cells(
    df: DataFrame, keys: tuple[str, ...] = DEFAULT_KEYS
) -> DataFrame:
    """THE detect-engine shuffle: hash-partition by cell key so every
    downstream stage (climatology window, smoothing window, threshold
    agg, compare join) is partition-local. One shuffle for the whole
    detect pipeline — the property that makes it survive a 100× scale-up
    (cells × full time series per partition; uniform grid → no skew)."""
    return df.repartition(*[F.col(k) for k in keys])


def anomaly_fixed_baseline(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    value_col: str = "value",
    clim: DataFrame | None = None,
    reference_period: tuple[int, int] | None = None,
) -> DataFrame:
    """Anomaly vs fixed doy climatology (detect.py:2334-2440):
    anomaly = value − clim(doy, cell).

    Expressed as a full-frame window over (cell, doy) rather than the
    agg+self-join the reference's flox call implies: with the input
    partitioned by cell (partition_by_cells) this is join-free and
    shuffle-free — the J1/J2 alignment collapses into the window.

    ``reference_period=(start_year, end_year)`` (inclusive) restricts
    the climatology to that year range while still scoring every sample
    (detect.py:358-362) — a conditional avg over the same window, so
    the knob costs no extra shuffle and the plan shape is unchanged."""
    d = add_time_keys(df)
    if clim is not None:  # caller supplied an external climatology table
        return d.join(clim, ["doy", *keys]).withColumn(
            "anomaly", (F.col(value_col) - F.col("clim")).cast("double")
        )
    w = Window.partitionBy(*keys, "doy")
    if reference_period is not None:
        y0, y1 = int(reference_period[0]), int(reference_period[1])
        in_ref = F.col("year").between(y0, y1)
        clim_expr = F.avg(F.when(in_ref, F.col(value_col))).over(w)
    else:
        clim_expr = F.avg(value_col).over(w)
    return d.withColumn("clim", clim_expr).withColumn(
        "anomaly", (F.col(value_col) - F.col("clim")).cast("double")
    )


def shifting_climatology(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    window_year_baseline: int = 5,
    smooth_days: int = 21,
    value_col: str = "value",
) -> DataFrame:
    """Shifting-baseline climatology (detect.py:1617-1669, A2): each
    (year, doy, cell) sample contributes to target years
    ``year+1 .. year+window``; group-mean per (target_year, doy, cell).

    Fan-out is via sequence+explode — the contribution table is
    generated inline, no driver loop (the reference builds a Python
    long-form index loop at detect.py:1622-1645; Spark expresses it
    declaratively so the optimizer parallelises the amplification).
    """
    sm = smooth_rolling_mean(df, keys, smooth_days, value_col=value_col)
    d = add_time_keys(sm)
    fan = d.select(
        *keys,
        "doy",
        F.col(value_col).alias("v"),
        F.explode(
            F.sequence(F.col("year") + 1, F.col("year") + window_year_baseline)
        ).alias("target_year"),
    )
    return fan.groupBy("target_year", "doy", *keys).agg(F.avg("v").alias("clim"))


def anomaly_shifting_baseline(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    window_year_baseline: int = 5,
    smooth_days: int = 21,
    value_col: str = "value",
) -> DataFrame:
    """Anomaly vs shifting baseline (detect.py:1839-1844). Rows in the
    first ``window_year_baseline`` years have no climatology and are
    dropped (detect.py:614-641's trim).

    The "each year contributes to the next N target years" fan-out
    (detect.py:1622-1645) is a year-range window in disguise: for each
    row, clim = mean of the smoothed series at the same (cell, doy)
    over the previous N years. rangeBetween(-N, -1) on year expresses
    it with zero data amplification and zero joins — with cell
    partitioning the whole method is one shuffle.
    """
    sm = smooth_rolling_mean(df, keys, smooth_days, value_col=value_col, out_col="_sm")
    d = add_time_keys(sm)
    w = (
        Window.partitionBy(*keys, "doy")
        .orderBy("year")
        .rangeBetween(-window_year_baseline, -1)
    )
    wmin = Window.partitionBy(*keys)
    d = d.withColumn("clim", F.avg("_sm").over(w)).withColumn(
        "_y0", F.min("year").over(wmin)
    )
    return (
        d.filter(F.col("year") >= F.col("_y0") + window_year_baseline)
        .withColumn("anomaly", (F.col(value_col) - F.col("clim")).cast("double"))
        .drop("_sm", "_y0")
    )


def _design_matrix(
    times_decimal: list[float],
    n_harmonics: int = 2,
    detrend_orders: tuple[int, ...] = (1,),
):
    """Tiny (T × k) polynomial+harmonic design matrix and its
    pseudo-inverse, computed on the driver with numpy
    (detect.py:2143-2220; k ≤ ~8 so this is microseconds regardless of
    data scale). ``detrend_orders`` are the polynomial trend powers
    (reference detect.py:299/2146: [1]=linear, [1,2]=+quadratic); the
    fitted values are basis-shift invariant, so the reference's
    orthogonalisation pass is unnecessary here."""
    import numpy as np

    t = np.asarray(times_decimal, dtype=np.float64)
    cols = [np.ones_like(t)]
    for order in detrend_orders:
        cols.append((t - t.mean()) ** order)
    for h in range(1, n_harmonics + 1):
        cols.append(np.sin(2 * math.pi * h * t))
        cols.append(np.cos(2 * math.pi * h * t))
    X = np.stack(cols, axis=1)  # (T, k)
    pinv = np.linalg.pinv(X)  # (k, T)
    return X, pinv


def _validate_detrend_orders(detrend_orders) -> tuple[int, ...]:
    """Reference validation (detect.py:2100-2127): non-empty, all ≥ 1."""
    from marex_spark.exceptions import ConfigurationError

    orders = tuple(detrend_orders)
    if not orders:
        raise ConfigurationError(
            "detrend_orders cannot be empty",
            suggestions=["use detrend_orders=[1] for linear detrending"],
        )
    if any(o < 1 for o in orders):
        raise ConfigurationError(
            f"Invalid polynomial orders: {[o for o in orders if o < 1]}",
            details={"rule": "polynomial orders must be >= 1"},
        )
    return orders


def anomaly_detrend_harmonic(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    n_harmonics: int = 2,
    time_col: str = "time",
    value_col: str = "value",
    detrend_orders: tuple[int, ...] = (1,),
    force_zero_mean: bool = False,
) -> DataFrame:
    """Harmonic + polynomial detrend (detect.py:2143-2220, F3).

    coef_k(cell) = Σ_t pinv[k,t]·value(t,cell) — a weighted aggregation
    after broadcast-joining the per-time weight table; the fitted value
    is the design-row dot coef, removed per row. Everything except the
    (T × k) pinv stays distributed. ``detrend_orders`` mirror the
    reference's polynomial powers; ``force_zero_mean`` subtracts the
    per-cell residual mean afterwards (detect.py:2225-2227).
    """
    detrend_orders = _validate_detrend_orders(detrend_orders)
    times = [
        r[0]
        for r in df.select(time_col).distinct().orderBy(time_col).collect()
    ]
    dec = (
        df.sparkSession.createDataFrame(
            [(t,) for t in times], schema=f"{time_col} timestamp"
        )
        .withColumn("dyear", decimal_year(time_col))
        .collect()
    )
    dyears = [r["dyear"] for r in dec]
    X, pinv = _design_matrix(dyears, n_harmonics, detrend_orders)
    k = X.shape[1]

    weights = df.sparkSession.createDataFrame(
        [
            (times[i], [float(pinv[j, i]) for j in range(k)], [float(X[i, j]) for j in range(k)])
            for i in range(len(times))
        ],
        schema=f"{time_col} timestamp, w array<double>, xrow array<double>",
    )
    d = df.join(F.broadcast(weights), time_col)
    coefs = d.groupBy(*keys).agg(
        *[
            F.sum(F.col("w")[j] * F.col(value_col)).alias(f"c{j}")
            for j in range(k)
        ]
    )
    fitted = None
    for j in range(k):
        term = F.col("xrow")[j] * F.col(f"c{j}")
        fitted = term if fitted is None else fitted + term
    out = (
        d.join(coefs, list(keys))
        .withColumn("anomaly", (F.col(value_col) - fitted).cast("double"))
        .drop("w", "xrow", *[f"c{j}" for j in range(k)])
    )
    if force_zero_mean:
        w0 = Window.partitionBy(*keys)
        out = out.withColumn(
            "anomaly", F.col("anomaly") - F.avg("anomaly").over(w0)
        )
    return out


def anomaly_detrend_fixed_baseline(
    df: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    time_col: str = "time",
    value_col: str = "value",
    reference_period: tuple[int, int] | None = None,
) -> DataFrame:
    """detrend_fixed_baseline (detect.py:2443-2460): remove the linear
    trend (no harmonics), then subtract the doy climatology of the
    detrended series. Per the reference (detect.py:2411-2413), the
    trend fit always uses the FULL series; only the climatology step
    respects ``reference_period``."""
    det = anomaly_detrend_harmonic(
        df, keys, n_harmonics=0, time_col=time_col, value_col=value_col
    ).select(time_col, *keys, F.col("anomaly").alias("detrended"))
    return anomaly_fixed_baseline(
        det, keys, value_col="detrended", reference_period=reference_period
    ).withColumnRenamed("clim", "doy_clim")


def normalise_by_doy_std(
    anom: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    std_smooth_days: int = 30,
) -> DataFrame:
    """STD-normalised anomaly (detect.py:2232-2283, A3+W3+J4): per-doy
    std, circularly smoothed over ``std_smooth_days``, divided out."""
    d = anom if "doy" in anom.columns else add_time_keys(anom)
    std = d.groupBy("doy", *keys).agg(F.stddev_pop("anomaly").alias("v"))
    # circular smoothing: fan out ±half window with doy wrap, re-average
    # (unweighted mean of per-doy stds — the reference's rolling-mean
    # smoother, detect.py:2232-2283, is likewise unweighted)
    half = std_smooth_days // 2
    offs = F.array([F.lit(o) for o in range(-half, half + 1)])
    fan = std.select(*keys, "v", "doy", F.explode(offs).alias("off"))
    center = ((F.col("doy") - 1 + F.col("off") + 366) % 366 + 1).alias("doy_c")
    smoothed = fan.groupBy(center, *keys).agg(F.avg("v").alias("std_doy"))
    return (
        d.join(
            smoothed.withColumnRenamed("doy_c", "doy"),
            ["doy", *keys],
        )
        .withColumn(
            "anomaly_norm",
            F.when(F.col("std_doy") > 0, F.col("anomaly") / F.col("std_doy")).otherwise(
                F.col("anomaly")
            ),
        )
    )
