"""SparkSession factory.

The reference hand-tuned a tiny standalone cluster (5g executors, 20 shuffle
partitions, auto-broadcast disabled and every dimension manually broadcast —
/root/reference/dags/spark_dag.py:30-43). On a modern Spark we instead lean
on AQE: auto-broadcast stays ON (the dimensions here are < 100k rows), AQE
coalesces shuffle partitions at runtime, and skew-join handling is enabled so
a hot key at 100 TB gets split instead of stalling a straggler task.

Scale notes (1000-executor / 100 TB design intent):
- ``spark.sql.shuffle.partitions`` is only the *initial* width; AQE
  re-coalesces.  On a real cluster set it ~2-3x total cores; locally we use
  the core count from ``SPARK_GRAFT_CPUS``.
- Timezone is pinned to UTC so date/timestamp semantics are stable across
  drivers and match the DuckDB oracle exactly.
- Table directories are listed on the driver, whatever their entry
  count: locally a listing job only re-does the driver's ``listStatus``
  calls as tasks.  On a cluster over an object store, where a table holds
  thousands of partitions and each listing is a remote round trip, put
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` back near its
  default of 32 so the executors share the listing.
- Arrow is enabled for the few Pandas-UDF operators (multimodal decode);
  everything else is JVM-side whole-stage-codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """local[N] runs driver + all N executor threads in ONE JVM: size the
    heap per-thread (~0.75 g/thread, the low end of Spark's per-core
    guidance — 8g across 32 threads measurably GC-throttled long sessions,
    see PLANS.md round-4 bench disposal), but never past ~60% of physical
    RAM: an -Xmx above physical memory trades a contained Spark OOM for
    swap death / the OS OOM-killer on small hosts."""
    want_g = max(8, (default_parallelism() * 3 + 3) // 4)
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(
                next(line for line in f if line.startswith("MemTotal")).split()[1]
            )
        cap_g = max(4, int(total_kb / 1024 / 1024 * 0.6))
    except (OSError, StopIteration, ValueError, IndexError):
        cap_g = 8  # unknown host: conservative
    return f"{min(want_g, cap_g)}g"


def get_spark(app_name: str = "olap_sus_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # List table directories on the driver.  Past this many entries
        # (default 32) Spark lists in a job with one task per entry; every
        # mes_dt=-partitioned month table (83 months of lineitem) paid an
        # 83-task job per read, ~1.5-1.9 s of CPU against 0.13-0.19 s for
        # the whole read listed here (4 cores, warm).  The engine runs
        # local[N] on local paths, so the job made the same listStatus
        # calls the driver makes, with job and task overhead on top.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # Parquet TIMESTAMP(NANOS) (events.ts) is unsupported by Spark's
        # vectorized reader; read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # Probe harnesses (tools/) collect full result sets for oracle
        # hashing and override this; engine/driver paths never collect
        # beyond top-k/dimension-sized outputs.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
    )
    return builder.getOrCreate()
