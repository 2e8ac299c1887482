"""Table catalog over the Parquet star schema.

The engine's storage layer is Parquet-backed DataFrames registered as temp
views (replacing the reference's Postgres tables + JDBC scans,
/root/reference/dags/spark_script_sinasc.py:23-25).  Loading is lazy and
column-pruned/filter-pushed by Catalyst; at cluster scale the same call
works on a partitioned table directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Driver-generated synthetic star schema (TESTDATA.md).
TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong=true it arrives
    # as nanos-since-epoch.  Truncate to micros (DuckDB does the same).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_compute(df: DataFrame) -> DataFrame:
    """Re-spread a narrow scan before compute-heavy per-row work.

    Parquet files with a single row group cannot be split, so a small file
    scans as ~1 task no matter how many cores exist — and any expensive
    per-row expression chain (n-gram hashing, signature computation)
    serializes behind it.  When the scan yields fewer partitions than the
    cluster's parallelism, shuffle the (tiny) rows across all cores first;
    when the input is already wide — every real multi-file/multi-row-group
    table at scale — this is a no-op, so the operator keeps its
    shuffle-free plan on a 1000-executor cluster.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
