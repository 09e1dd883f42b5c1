"""Parquet sources for the driver's star schema (TESTDATA.md).

Scans are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown + column pruning (reference: marEx reads zarr/netcdf lazily,
detect.py:409; Spark-native equivalent is the columnar parquet scan).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark.sql import DataFrame, SparkSession

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver's events.parquet carries TIMESTAMP(NANOS).  How Spark
    # surfaces that has CHANGED across minor versions: older builds reject
    # it unless spark.sql.legacy.parquet.nanosAsLong=true (then it arrives
    # as int64 nanos), while pyspark 4.1.2 reads it natively as
    # TIMESTAMP_NTZ truncated to micros and silently ignores the legacy
    # conf.  Handle every shape at the read site — the harness hands us a
    # *foreign* SparkSession our own builder (session.py) never touched.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed entirely in some future version
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for f in df.schema.fields:
        if f.name != "ts":
            continue
        t = f.dataType.typeName()
        if t == "long":
            # int64 nanos → micros by integer div (exact; float division
            # would lose precision at 1e18) — matches DuckDB's truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif t == "timestamp_ntz":
            # Wall-clock equals the UTC instant (the writer's nanos are
            # epoch-based).  to_utc_timestamp(ts,'UTC') maps wall→instant
            # independent of spark.sql.session.timeZone, so downstream
            # unix_micros()/date arithmetic agrees with DuckDB's epoch_us
            # in ANY session timezone (a plain CAST would shift by the
            # session offset).
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in STAR_TABLES}
