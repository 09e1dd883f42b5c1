"""cProfile of the split/merge block kernel (``merge._resolve_block``,
the unit the driver-paged resolver runs once per page): labels the
first ``block_steps`` timesteps of the 30-year synthetic SST fixture
(the track_merge_parallel_10x bench row's series), pulls them to
pandas, and runs _resolve_block on them locally under cProfile.

Usage: python tools/profile_merge_kernel.py [block_steps]
"""

from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd


def main() -> None:
    block_steps = int(sys.argv[1]) if len(sys.argv) > 1 else 343

    from pyspark.sql import functions as F

    from marex_spark.session import get_spark

    spark = get_spark(app_name="profile_merge_kernel", cores=32)
    spark.sparkContext.setLogLevel("ERROR")

    from marex_spark.operators.detect_blocked import detect_extremes_blocked
    from marex_spark.operators.label import label_components
    from marex_spark.operators.merge import _Resolver, _resolve_block
    from marex_spark.sources.synthetic import synthetic_sst_gridded

    ny, nx = 40, 80
    path = "/tmp/marex_prof_merge10_sf0.1"
    import os

    if not os.path.isdir(path):
        series = synthetic_sst_gridded(spark, n_years=30, ny=ny, nx=nx)
        ext = detect_extremes_blocked(series).withColumn("extreme", F.lit(True))
        ext.write.mode("overwrite").parquet(path)

    ext = spark.read.parquet(path)
    labels = label_components(ext, nx=nx)
    times = sorted(
        r[0] for r in labels.select("time").distinct().collect()
    )
    block_times = times[:block_steps]
    pdf = labels.filter(F.col("time").isin(block_times)).toPandas()
    spark.stop()
    print(f"block: {len(block_times)} steps, {len(pdf)} cells", flush=True)

    def run() -> None:
        resolver = _Resolver(
            nx=nx, wrap_x=True, overlap_threshold=0.5,
            max_iter_per_step=10, grid=True, nn_partitioning=False,
            max_distance=None, mesh_adj=None, ny=0,
        )
        resolver.next_new_id = 10**6
        slices, stimes = resolver.build_slices(pdf, "time")
        _resolve_block(resolver, [], slices, stimes)

    for rep in range(3):
        t0 = time.perf_counter()
        run()
        print(f"rep {rep}: kernel={time.perf_counter() - t0:.3f}s", flush=True)

    pr = cProfile.Profile()
    pr.enable()
    run()
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
    print(s.getvalue())


if __name__ == "__main__":
    main()
