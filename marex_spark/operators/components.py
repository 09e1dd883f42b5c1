"""Event-graph connected components + ID remap (SURVEY M7 + J8).

The overlap-pair graph is orders of magnitude smaller than the cell
data (pairs ≪ cells; the reference solves it on the driver with
scipy.sparse at track.py:2876-2883). Same strategy here: collect the
pair list, union-find in numpy, broadcast the remap table back — plus
a pure-DataFrame large-star/small-star fallback for graphs too big to
collect.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Largest pair graph solved by driver union-find; above it the graph
# stays distributed (connected_components_distributed /
# _distributed_roots). Shared by the collecting solver and the merge
# resolver engines, which hand back their link pairs as a DataFrame
# past it.
MAX_DRIVER_PAIRS = 50_000_000


def _union_find(pairs: np.ndarray) -> dict[int, int]:
    """Classic union-find with path compression over int64 id pairs."""
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        root = a
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(a, a) != a:
            parent[a], a = root, parent[a]
        return root

    for u, v in pairs:
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {a: find(a) for a in list(parent)}


def connected_components_driver(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "obj_id",
    compact: bool = True,
    max_driver_pairs: int | None = None,
    include_singletons: bool = True,
) -> DataFrame:
    """(obj_id → event_id) mapping: union-find on the collected pair
    list; singletons map to themselves; event IDs compacted to 1..K by
    dense_rank over the root (deterministic, M7+ID-compaction).

    ``compact=False`` keeps event_id = component root (the minimum
    member id) — the scale-safe form (no global-order window) and the
    one the DuckDB recursive-CTE oracle reproduces.

    Scale guard: the pair graph is normally orders of magnitude smaller
    than the cell data (one pair per object transition), but a
    pathological field can blow it up — above ``max_driver_pairs``
    (default :data:`MAX_DRIVER_PAIRS`) the collect would OOM the
    driver, so this hands off to the distributed large-star/small-star
    solver (same mapping, compact=False semantics: root = min member
    id).

    ``include_singletons=False`` (compact=False only) returns the
    SPARSE mapping — only ids that appear in a pair — skipping the
    full ``all_ids.distinct()`` pass over the cell table entirely; pair
    that with :func:`remap_ids_sparse`, whose left-join + coalesce
    reproduces the identity rows the dense mapping would carry. (The
    over-budget fallback may return a superset — identity rows are
    harmless to the coalesce.)"""
    from pyspark.storagelevel import StorageLevel

    if not include_singletons and compact:
        raise ValueError(
            "include_singletons=False requires compact=False "
            "(dense_rank needs the full id set)"
        )
    # persist across the size guard so the pair plan executes ONCE
    # (count for the guard, then either the Arrow collect or the
    # distributed solver read the cached rows)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = pairs.count()
    if n_pairs > (MAX_DRIVER_PAIRS if max_driver_pairs is None else max_driver_pairs):
        # stay persisted: the iterative solver re-reads the pair graph
        # every round (the caller's session releases it on GC)
        if compact:
            return connected_components_distributed(pairs, all_ids, id_col)
        # keep the documented compact=False contract
        # (event_id = component root = min member id)
        return _distributed_roots(pairs, all_ids, id_col)
    pdf = pairs.select("id_t", "id_next").toPandas()  # Arrow transfer
    pairs.unpersist()
    return mapping_from_pairs(
        pdf.to_numpy(dtype=np.int64).reshape(-1, 2),
        all_ids,
        id_col=id_col,
        compact=compact,
        include_singletons=include_singletons,
    )


def mapping_from_pairs(
    pairs: np.ndarray,
    all_ids: DataFrame,
    id_col: str = "obj_id",
    compact: bool = True,
    include_singletons: bool = True,
) -> DataFrame:
    """The driver half of :func:`connected_components_driver`: an int64
    ``(n, 2)`` id-pair array already on the driver (the collected pair
    DataFrame, or the merge resolver's link pairs) → the (obj_id →
    event_id) mapping, with the same ``compact`` and
    ``include_singletons`` semantics (``include_singletons=False``
    needs ``compact=False``)."""
    import pandas as pd

    mapping = _union_find(pairs)
    map_pdf = pd.DataFrame(
        {
            id_col: np.fromiter(mapping.keys(), dtype=np.int64, count=len(mapping)),
            "root": np.fromiter(mapping.values(), dtype=np.int64, count=len(mapping)),
        }
    )
    map_df = all_ids.sparkSession.createDataFrame(
        map_pdf, schema=f"{id_col} long, root long"
    )
    if not include_singletons:
        return map_df.select(id_col, F.col("root").alias("event_id"))
    full = (
        all_ids.select(id_col)
        .distinct()
        .join(F.broadcast(map_df), id_col, "left")
        .withColumn("root", F.coalesce(F.col("root"), F.col(id_col)))
    )
    if not compact:
        return full.select(id_col, F.col("root").alias("event_id"))
    w = Window.orderBy("root")
    return full.select(
        id_col, F.dense_rank().over(w).cast("long").alias("event_id")
    )


def _distributed_min_labels(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "obj_id",
    max_rounds: int = 32,
) -> DataFrame:
    """(u, lbl) with lbl = component minimum member id — the iterative
    core shared by the dense and root-id distributed solvers."""
    edges = (
        pairs.select(F.col("id_t").alias("u"), F.col("id_next").alias("v"))
        .union(pairs.select(F.col("id_next").alias("u"), F.col("id_t").alias("v")))
        .distinct()
    )
    labels = all_ids.select(F.col(id_col).alias("u")).distinct().withColumn(
        "lbl", F.col("u")
    )
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        hooked = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
        )
        # pointer jump: lbl ← lbl's lbl
        jumped = (
            hooked.alias("a")
            .join(
                hooked.select(F.col("u").alias("lbl"), F.col("lbl").alias("lbl2")).alias(
                    "b"
                ),
                "lbl",
                "left",
            )
            .select(F.col("u"), F.coalesce(F.col("lbl2"), F.col("lbl")).alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels


def connected_components_distributed(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "obj_id",
    max_rounds: int = 32,
) -> DataFrame:
    """Pure-DataFrame alternative (min-label propagation with pointer
    jumping) for when the pair graph itself is too large to collect —
    the scale path for 100 TB runs. Each round: hook every node to the
    min label in its neighbourhood, then one jump round (label ←
    label[label] via self-join). Event ids are densified 1..K without
    a global-order window: two-level bucketed index over the DISTINCT
    roots (overlap.time_index handles any orderable numeric column)."""
    labels = _distributed_min_labels(pairs, all_ids, id_col, max_rounds)
    from marex_spark.operators.overlap import time_index

    idx = time_index(labels.select(F.col("lbl")), time_col="lbl")
    return labels.join(F.broadcast(idx), "lbl").select(
        F.col("u").alias(id_col), F.col("t").cast("long").alias("event_id")
    )


def _distributed_roots(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "obj_id",
    max_rounds: int = 32,
) -> DataFrame:
    """Distributed mapping with event_id = component root (min member
    id) — the compact=False contract of the driver solver."""
    labels = _distributed_min_labels(pairs, all_ids, id_col, max_rounds)
    return labels.select(
        F.col("u").alias(id_col), F.col("lbl").cast("long").alias("event_id")
    )


def remap_ids(
    labels: DataFrame, mapping: DataFrame, id_col: str = "obj_id"
) -> DataFrame:
    """J8: broadcast-join the (obj_id → event_id) table onto the cell
    field (track.py:2894-2926)."""
    return labels.join(F.broadcast(mapping), id_col)


def remap_ids_sparse(
    labels: DataFrame, mapping: DataFrame, id_col: str = "obj_id"
) -> DataFrame:
    """J8 for a SPARSE root mapping (singleton ids omitted): left
    broadcast join + coalesce to the identity. Output rows and column
    order are identical to ``remap_ids`` over the dense mapping — the
    pairing saves the ``all_ids.distinct()`` cell-table pass that
    builds the dense one."""
    return labels.join(F.broadcast(mapping), id_col, "left").withColumn(
        "event_id", F.coalesce("event_id", F.col(id_col))
    )
