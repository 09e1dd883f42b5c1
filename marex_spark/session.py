"""SparkSession builder tuned for this engine.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory
knob. Shuffle partitions default to the core count — at cluster scale the
engine relies on AQE coalescing + explicit repartition-by-time-bucket
before grouped-UDF stages (see operators/label.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "marex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults follow the scale guidance in SURVEY.md §4: AQE on (runtime
    coalescing + skew-join), UTC session timezone (duckdb-oracle parity),
    Arrow enabled for the pandas-UDF path.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The driver's events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # One BLAS thread per Python worker: numpy's bundled OpenBLAS
        # defaults to ncpu threads PER PROCESS, so 32 concurrent
        # mapInArrow/applyInPandas tasks would spawn ~1000 BLAS
        # threads. A same-box A/B on the 1M-vector semdedup row showed
        # capped == uncapped within noise (34.2 vs 32.9 s under a
        # co-tenant storm; the row's capture-to-capture swings are
        # ambient IO weather, not thread contention), so this is
        # hygiene, not a measured win: parallelism belongs to the task
        # slots, and a kernel that suddenly goes matmul-heavy should
        # not be able to oversubscribe the box. The driver process
        # (collect-based fits, the stale-round resolver fast path) is
        # unaffected and keeps multithreaded BLAS.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Whole-stage codegen cache (default 100 entries): one
        # tracker run uses more distinct generated classes than that,
        # so at the default every rerun in a session (Tracker.extend
        # loops, streaming micro-batches, notebooks, benchmarks)
        # recompiles them in Janino. A static conf, read at the JVM's
        # first codegen: it only takes effect on the session that
        # starts the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
