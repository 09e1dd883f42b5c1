"""Min-label propagation fixpoint — the reference for
``marex_spark.operators.label.label_components_unstructured``.

Pure DataFrame rounds of ``min(label) over self ∪ active neighbours``
until no label changes; converges in O(component diameter) rounds. The
component label is the min member cell id, densified per time and
globally offset (W6) — the ids the per-slice union-find kernel must
reproduce exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from marex_spark.operators.overlap import cumulative_offsets


def label_unstructured_propagate(
    extremes: DataFrame,
    edges: DataFrame,
    time_col: str = "time",
    extreme_col: str = "extreme",
    max_rounds: int = 64,
) -> DataFrame:
    """``(time_col, cell, obj_id)`` per active cell."""
    active = extremes.filter(F.col(extreme_col)).select(time_col, "cell")
    labels = active.withColumn("lbl", F.col("cell").cast("long"))
    sym = edges.select("cell", "nbr").union(
        edges.select(F.col("nbr").alias("cell"), F.col("cell").alias("nbr"))
    ).distinct()

    for _ in range(max_rounds):
        nbr_lbl = (
            labels.join(sym, "cell")
            .select(time_col, F.col("nbr").alias("cell"), "lbl")
            .join(active, [time_col, "cell"], "left_semi")
        )
        new_labels = (
            labels.select(time_col, "cell", "lbl")
            .union(nbr_lbl)
            .groupBy(time_col, "cell")
            .agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), [time_col, "cell"])
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise AssertionError(f"propagation did not converge in {max_rounds} rounds")

    w = Window.partitionBy(time_col).orderBy("lbl")
    per_time = labels.select(
        time_col, "cell", F.dense_rank().over(w).cast("int").alias("local_id")
    )
    per_time_max = per_time.groupBy(time_col).agg(F.max("local_id").alias("max_id"))
    offsets = cumulative_offsets(per_time_max, time_col, "max_id")
    return per_time.join(F.broadcast(offsets), time_col).select(
        time_col,
        "cell",
        (F.col("local_id") + F.col("id_offset")).cast("long").alias("obj_id"),
    )
