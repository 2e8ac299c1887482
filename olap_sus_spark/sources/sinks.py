"""Warehouse sinks: idempotent Parquet writes (SURVEY.md §2.1 S4, §7 risks).

The reference appends facts and bridge rows to Postgres over JDBC with no
transaction around the read-check-assign-write sequence
(/root/reference/dags/spark_script_sim.py:239,402) — a retry double-writes.
Here:

- **facts** land as date-partitioned Parquet: a day is staged, then
  swapped in by index_store.publish_partitions, so re-running a day
  replaces exactly that day's partition and nothing else — and a re-run
  whose day came out empty drops it.  Idempotent by construction, and the
  ``dt=`` layout gives partition pruning to every downstream query.
  Warehouse paths are local (the swap is directory renames).
- **bridge rows** carry content-hash group ids (operators/bridge.py), so a
  re-run emits byte-identical rows; the sink anti-joins against the existing
  store and appends only genuinely new groups.

The rest are table-maintenance writes: a keyed MERGE (:func:`merge_upsert`),
exactly-once micro-batch appends for streaming sinks, and range-sorted
layouts (:func:`write_sorted`, :func:`write_sorted_partitioned`).  Small-file
compaction is index_store.compact_src_partitions, and the Morton (z-order)
layout is sources/zorder.py.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, SparkSession

from olap_sus_spark.schemas import read_table


def write_fact_partition(df: DataFrame, warehouse_dir: str, table: str, dt: str) -> str:
    """Replace the single ``dt=<date>`` partition of a fact table: the day
    is staged, then published over the live one; an empty ``df`` drops
    the day.  ``warehouse_dir`` must be local."""
    from pyspark.sql import functions as F

    from olap_sus_spark.operators.index_store import publish_partitions, staging_path

    path = posixpath.join(warehouse_dir, table)
    staging = staging_path(path)
    df.withColumn("dt", F.lit(dt)).write.partitionBy("dt").parquet(staging)
    publish_partitions(staging, path, "dt", scope=[dt])
    return path


def append_bridge(df: DataFrame, warehouse_dir: str, table: str = "ponte_grupo_causas") -> str:
    """Append only new (content-keyed) bridge rows; existing keys are skipped.

    Safe to re-run: identical input produces identical keys, which the
    anti-join removes.  At scale the existing-side scan prunes to the one
    join column (``chave_grupo_causa``) via Parquet column pruning; it is
    read by the table's declared schema.
    """
    spark = df.sparkSession
    path = posixpath.join(warehouse_dir, table)
    if os.path.exists(path):
        existing = read_table(spark, warehouse_dir, table).select("chave_grupo_causa").distinct()
        df = df.join(existing, "chave_grupo_causa", "left_anti")
    df.write.mode("append").parquet(path)
    return path


def write_dimension(df: DataFrame, warehouse_dir: str, name: str) -> str:
    """Full-overwrite a (small) dimension table."""
    path = posixpath.join(warehouse_dir, name)
    df.write.mode("overwrite").parquet(path)
    return path


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "_op",
) -> str:
    """Keyed MERGE (CDC apply) onto a Parquet table without a lakehouse
    format: upserts/deletes from ``changes`` rewrite the table atomically.

    ``changes`` carries ``op_col`` ∈ {'upsert', 'delete'}.  Semantics match
    SQL MERGE: matched+upsert → replace, matched+delete → drop,
    unmatched+upsert → insert.  Implementation is one co-partitioned
    anti-join (drop all changed keys from the base) plus a union of the
    upserts — the same single-shuffle shape a Delta MERGE plans, minus the
    transaction log.  The rewrite stages to a temp dir then swaps, so a
    failed job never leaves a half-written table (the swap is the commit
    point; cloud stores would use a rename-manifest instead).

    At 100 TB the base table should be ``dt=``-partitioned and ``changes``
    pre-filtered to affected partitions (write_fact_partition's layout);
    this function is the per-partition apply.
    """
    base = spark.read.parquet(path)
    keys = changes.select(*key_cols).distinct()
    survivors = base.join(keys, key_cols, "left_anti")
    upserts = changes.filter(f"{op_col} = 'upsert'").drop(op_col).select(*base.columns)
    merged = survivors.unionByName(upserts)

    staging = path.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").parquet(staging)
    _swap_in(path, staging)
    return path


def append_exactly_once(
    batch: DataFrame, table_dir: str, batch_id: int, run_tag: str
) -> None:
    """Exactly-once micro-batch append for foreachBatch sinks: the batch
    lands as ``ingest_batch_<run_tag>_<id>.parquet`` inside the dataset
    directory via stage-then-rename, so a replayed batch (crash between
    append and checkpoint commit) finds its file already present and SKIPS
    — no duplicate rows, no transaction log.  ``run_tag`` scopes the dedup
    to ONE logical stream: batch ids restart at 0 per checkpoint, so
    without the tag a fresh-checkpoint drain into an existing corpus would
    collide with a prior run's batch 0 and silently drop its rows — derive
    the tag from the checkpoint location (:func:`run_tag_of`).  One file
    per batch also grows the corpus manifest O(1) per batch, the property
    the incremental index refreshes key on.  Day-scale batches; larger
    batches would shard by a within-batch key and rename each shard under
    its own deterministic name."""
    import shutil

    dst = os.path.join(table_dir, f"ingest_batch_{run_tag}_{batch_id:06d}.parquet")
    if os.path.exists(dst):
        return  # replayed batch — already committed
    staging = f"{table_dir}.__ingest__{run_tag}_{batch_id}_{os.getpid()}"
    batch.coalesce(1).write.mode("overwrite").parquet(staging)
    parts = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet") and f.startswith("part-")
    )
    assert len(parts) == 1, parts
    os.makedirs(table_dir, exist_ok=True)
    # Commit point is a hard-link, NOT a rename: POSIX rename silently
    # REPLACES an existing destination, so it cannot detect the concurrent-
    # replayer race (harmless only because a replayed batch's bytes are
    # identical — but that's an accident, not a guarantee).  link() fails
    # with EEXIST exactly when another replayer already committed, making
    # first-commit-wins explicit.
    try:
        os.link(os.path.join(staging, parts[0]), dst)
    except FileExistsError:
        pass  # a concurrent replayer committed first — keep its copy
    except OSError as exc:
        # Filesystems without hard-link support (some FUSE/object-store
        # mounts) raise EPERM/EXDEV/ENOTSUP from link() where the plain
        # rename commit used to work.  Fall back to the exists-check +
        # rename commit there; link() stays the primary path because it is
        # the one that makes first-commit-wins DETECTABLE.
        import errno

        if exc.errno not in (errno.EPERM, errno.EXDEV, errno.ENOTSUP, errno.EACCES):
            raise
        # Emulate link()'s first-commit-wins: O_EXCL create is the atomic
        # claim (a plain exists-check + rename is NOT — POSIX rename
        # silently replaces, so two replayers racing through the TOCTOU
        # window would both commit and the later would overwrite the
        # earlier).  Trade-off vs link(): a committer crashing mid-copy
        # leaves a truncated dst that replays then skip — recover by
        # deleting the file; link() has no such window, which is why it
        # stays the primary path.
        try:
            with open(dst, "xb") as out, open(
                os.path.join(staging, parts[0]), "rb"
            ) as src:
                shutil.copyfileobj(src, out)
                out.flush()
                os.fsync(out.fileno())
        except FileExistsError:
            pass  # a concurrent replayer claimed the slot first
    shutil.rmtree(staging, ignore_errors=True)


def run_tag_of(checkpoint_dir: str) -> str:
    """Stable per-stream tag for :func:`append_exactly_once`, derived from
    the checkpoint location — the same identity Structured Streaming keys
    its batch ids on, so replays share the tag and distinct streams (or a
    wiped/relocated checkpoint, which IS a new stream) never collide."""
    import hashlib

    return hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]


def write_sorted(
    df: DataFrame, path: str, sort_cols: list[str], files: int = 4
) -> str:
    """Layout-optimized write: range-partition + sort by ``sort_cols`` so
    each parquet file (and row group) covers a tight, near-disjoint value
    range.  Parquet min/max footer stats then let any filter on the sort
    key skip whole files/row groups — the single highest-leverage layout
    choice for selective scans at 100 TB.  Only the lead column gets tight
    stats; a 2-D box filter needs the Morton layout of sources/zorder.py.
    """
    (
        df.repartitionByRange(files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def write_sorted_partitioned(
    df: DataFrame,
    path: str,
    part_col: str,
    sort_cols: list[str],
    files: int = 4,
) -> str:
    """:func:`write_sorted` with a directory-partition column layered on
    top — the layout of the incrementally-maintained index tables: the
    ``part_col`` (source part-file name) is the refresh unit (a refresh
    stages its units and swaps them in with
    index_store.publish_partitions), and within each partition files stay
    range-sorted on ``sort_cols`` so footer min/max stats keep pruning
    selective probes."""
    (
        df.repartitionByRange(files, part_col, *sort_cols)
        .sortWithinPartitions(part_col, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(path)
    )
    return path


def _swap_in(path: str, staging: str) -> None:
    """Commit a staged rewrite by directory renames, never by rewriting the
    live table: index_store.publish retires the current dir, promotes
    staging and drops the retired copy, renaming it back if the promote
    fails — there is no window where the data exists only as a
    half-written directory.  Local paths only, like every warehouse write
    (on object stores renames are copies: swap a manifest instead)."""
    import shutil

    from olap_sus_spark.operators.index_store import publish

    # The staging name is fixed per table, so a crash after a promote can
    # leave publish's retired copy under the name this swap will retire
    # to; clear it, or the retire fails and the rewrite is lost.
    shutil.rmtree(staging.rstrip("/") + ".stale", ignore_errors=True)
    publish(staging, path)
