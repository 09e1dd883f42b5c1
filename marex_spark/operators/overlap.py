"""Temporal overlap graph (SURVEY J5 + M8) in Spark (reference
``find_overlapping_objects`` track.py:2474-2504, overlap threshold
track.py:2506-2552): the linking step of no-merge tracking, of
incremental extension (``track._extend_link``), of
``rewind_track_run`` and of the queries. Merge-mode tracking does not
run it: the split/merge resolver's kernel emits the same gated pairs
from its final slices (``merge._link_pairs``, the same division-form
gate), and the tests pin the two equal.

Input: labelled field (time, <cell keys>, obj_id) — label_components
output, which contains ONLY labelled (extreme) cells. Times are
compacted to a dense step index first (dense_rank over distinct times,
metadata-sized) so the "next timestep" rule is cadence-independent.

Scale: ONE hash shuffle of the labelled field by cell for the lead
window (the next row of a cell's time-ordered history is its next
active step; a t+1 gate keeps consecutive-step pairs), then a
map-side-combinable pair aggregation. Plan pinned in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKET_DAYS = 512


def _time_bucket(df: DataFrame, time_col: str) -> Column:
    """Monotone coarse bucket of a time-like column (~512 daily steps
    per bucket): the partition key that lets per-time metadata frames
    use PARTITIONED windows instead of an empty partition spec (which
    WindowExec executes on one task and warns about, storming logs —
    VERDICT r2 #6)."""
    t = df.schema[time_col].dataType.simpleString()
    c = F.col(time_col)
    if t == "date":
        ordinal = F.datediff(c, F.to_date(F.lit("1970-01-01")))
        width = _BUCKET_DAYS
    elif t.startswith("timestamp"):
        ts = F.to_utc_timestamp(c, "UTC") if t == "timestamp_ntz" else c
        ordinal = F.unix_micros(ts)
        width = _BUCKET_DAYS * 86_400_000_000
    else:
        ordinal = c.cast("long")
        width = _BUCKET_DAYS
    return F.floor(ordinal / F.lit(width)).alias("_bkt")


def _bucket_offsets(per_bucket: DataFrame, val_col: str) -> DataFrame:
    """(_bkt, _boff): exclusive prefix sum of val_col across buckets via
    a broadcast non-equi self-join — bucket count ~ timesteps/512, so
    the pair fan-out is trivial and no global-order window exists
    anywhere in the plan."""
    a = per_bucket.select("_bkt")
    b = per_bucket.select(
        F.col("_bkt").alias("_bkt2"), F.col(val_col).alias("_v2")
    )
    return (
        a.join(F.broadcast(b), F.col("_bkt2") < F.col("_bkt"), "left")
        .groupBy("_bkt")
        .agg(F.coalesce(F.sum("_v2"), F.lit(0)).cast("long").alias("_boff"))
    )


def time_index(labels: DataFrame, time_col: str = "time") -> DataFrame:
    """Dense step index per distinct time (broadcast-sized). Two-level:
    row_number within a coarse time bucket + broadcast bucket offsets —
    same dense index as a global-order window, no single-task stage."""
    d = (
        labels.select(time_col)
        .distinct()
        .withColumn("_bkt", _time_bucket(labels, time_col))
    )
    w = Window.partitionBy("_bkt").orderBy(time_col)
    ranked = d.withColumn("_r", F.row_number().over(w).cast("long"))
    counts = d.groupBy("_bkt").agg(F.count("*").alias("_c"))
    offs = _bucket_offsets(counts, "_c")
    return (
        ranked.join(F.broadcast(offs), "_bkt")
        .select(time_col, (F.col("_r") + F.col("_boff")).alias("t"))
    )


def cumulative_offsets(
    per_time: DataFrame,
    time_col: str,
    val_col: str,
    out_col: str = "id_offset",
) -> DataFrame:
    """(time, out_col): EXCLUSIVE prefix sum of val_col in time order
    over a one-row-per-timestep frame (the W6 global-ID offset table,
    label.py). Two-level like :func:`time_index`: partitioned
    intra-bucket window + broadcast bucket offsets."""
    d = per_time.withColumn("_bkt", _time_bucket(per_time, time_col))
    w = (
        Window.partitionBy("_bkt")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = d.withColumn("_i", F.coalesce(F.sum(val_col).over(w), F.lit(0)))
    sums = d.groupBy("_bkt").agg(F.sum(val_col).alias("_c"))
    offs = _bucket_offsets(sums, "_c")
    return (
        intra.join(F.broadcast(offs), "_bkt")
        .select(
            time_col,
            (F.col("_i") + F.col("_boff")).cast("long").alias(out_col),
        )
    )


def overlap_pairs(
    labels: DataFrame,
    keys: tuple[str, ...] = ("y", "x"),
    time_col: str = "time",
    area_col: str | None = None,
) -> DataFrame:
    """Pairs of object IDs overlapping between consecutive steps with
    their overlap area: (id_t, id_next, overlap_area).

    track.py:2396-2452's per-chunk kernel, expressed as ONE shuffle: a
    per-cell ``lead`` window (labels are sparse, so the next row of a
    cell's time-ordered history is its next active step; the t+1 gate
    keeps only consecutive-step pairs) then the map-side-combinable
    pair aggregation. Replaces the previous (t+1, cell) self-equi-join,
    which shuffled both sides — same output, half the shuffle volume.
    """
    ti = time_index(labels, time_col)
    lab = labels.join(F.broadcast(ti), time_col)
    area = F.col(area_col) if area_col else F.lit(1.0)
    w = Window.partitionBy(*keys).orderBy("t")
    return (
        lab.select(
            "t",
            *[F.col(k) for k in keys],
            F.col("obj_id").alias("id_t"),
            area.alias("a"),
        )
        .withColumn("t_next", F.lead("t").over(w))
        .withColumn("id_next", F.lead("id_t").over(w))
        .filter(F.col("t_next") == F.col("t") + 1)
        .groupBy("id_t", "id_next")
        .agg(F.sum("a").alias("overlap_area"))
    )


def adjacency_pairs(
    labels: DataFrame,
    nx: int,
    wrap_x: bool = True,
    time_col: str = "time",
    connectivity: int = 8,
) -> DataFrame:
    """Distinct (id_t, id_next) pairs of objects TOUCHING between
    consecutive steps — the reference's no-merge tracking semantics:
    with ``allow_merging=False`` it labels in 3-D with an all-ones
    3x3x3 structure (track.py:2013 "edges can touch"), so two objects
    link when any cell of one lies within the +/-1 neighbourhood
    (diagonals included) of a cell of the other at the next step, not
    only on exact shared cells. connectivity=4 restricts the spatial
    reach to the von-Neumann cross (3-D 6/18-connectivity analogue).

    Shape: a bounded 9x offset explode on the earlier side, dedup, then
    the same single-shuffle lead-window pairing overlap_pairs uses —
    fan-out is constant, everything map-side before the one exchange.
    """
    ti = time_index(labels, time_col)
    lab = labels.join(F.broadcast(ti), time_col)
    if connectivity == 8:
        offs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    else:
        offs = [(0, 0), (0, 1), (0, -1), (1, 0), (-1, 0)]
    halo = F.explode(
        F.array(*[F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx")) for dy, dx in offs])
    )
    src = lab.select("t", "y", "x", F.col("obj_id").alias("id_t"), halo.alias("o"))
    xcol = (F.col("x") + F.col("o.dx"))
    xcol = (xcol % nx + nx) % nx if wrap_x else xcol
    expanded = (
        src.select(
            "t",
            (F.col("y") + F.col("o.dy")).alias("y"),
            xcol.alias("x"),
            "id_t",
        )
        .distinct()
    )
    nxt = lab.select(
        (F.col("t") - 1).alias("t"), "y", "x", F.col("obj_id").alias("id_next")
    )
    return (
        expanded.join(nxt, ["t", "y", "x"])
        .select("id_t", "id_next")
        .distinct()
    )


def object_areas(

    labels: DataFrame,
    time_col: str = "time",
    area_col: str | None = None,
) -> DataFrame:
    """Total area per object (A9). Objects exist within one timestep, so
    no time key is needed on the output."""
    area = F.col(area_col) if area_col else F.lit(1.0)
    return labels.groupBy("obj_id").agg(
        F.sum(area).alias("area"), F.count("*").alias("n_cells")
    )


def filter_overlap_fraction(
    pairs: DataFrame,
    areas: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """M8: keep pairs with overlap / min(area_t, area_next) ≥ threshold
    (track.py:2506-2552). Two broadcast lookups against the props table
    (J6) + a filter."""
    a_t = areas.select(F.col("obj_id").alias("id_t"), F.col("area").alias("area_t"))
    a_n = areas.select(
        F.col("obj_id").alias("id_next"), F.col("area").alias("area_next")
    )
    frac = F.col("overlap_area") / F.least(F.col("area_t"), F.col("area_next"))
    return (
        pairs.join(F.broadcast(a_t), "id_t")
        .join(F.broadcast(a_n), "id_next")
        .filter(frac >= threshold)
        .select("id_t", "id_next", "overlap_area")
    )
