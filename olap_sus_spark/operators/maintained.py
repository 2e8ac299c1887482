"""Maintained partial-table contract, shared by every sketch/aggregate
family that serves from per-day partials instead of the facts (KMV cube in
queries/sketches.py, CMS grid in queries/cms.py; queries/incremental.py
pioneered the pattern for the revenue rollup).

The contract (the stamp-marker flavour of the operators/index_store.py
lifecycle):

- **Location-keyed path + stamp MARKER** — the table lives at a stable
  path and carries the corpus stamp in a marker file; a stamp-keyed path
  could never be refreshed incrementally.
- **Staged build + index_store.publish**; a stale marker → safe full
  rebuild, retire-then-promote.
- **Bounded read-retry** (index_store.serve) through a concurrent
  rebuilder's retire→promote window (microseconds — two renames).
- **Month-scoped refresh** — re-derive ONLY the months containing the
  ingested days and publish each staged ``mes_dt`` partition over its
  live month; idempotent.  A never-built table falls through to the full
  staged build (a months-only partial must not masquerade as complete).

``build(months)`` returns the partial rows for the given months
(None = all) and MUST include a ``mes_dt`` yyyy-MM partition column.

A month-partitioned summary is declared once as a :class:`MonthTable`;
its path, stamp, serve and refresh all derive from the declaration.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_STAMP_MARKER = "_corpus_stamp.txt"


def month_range_cond(col: str, months: list[str]):
    """Month restriction as plain RANGE predicates on the raw timestamp
    column — `date_format(..) IN (..)` would wrap the column in an
    expression and never reach the parquet scan; `>= start AND <
    next-month` comparisons push down to row-group stats (and prune
    partitions outright on a date-partitioned lake), keeping a dated
    refresh O(day), not O(history).  Shared by every family's partials
    builder so the pushdown shape can't silently diverge."""
    import datetime

    from pyspark.sql import functions as F

    cond = F.lit(False)
    for m in sorted(set(months)):
        start = datetime.date(int(m[:4]), int(m[5:7]), 1)
        nxt = (start + datetime.timedelta(days=32)).replace(day=1)
        cond = cond | (
            (F.col(col) >= F.lit(str(start)).cast("timestamp"))
            & (F.col(col) < F.lit(str(nxt)).cast("timestamp"))
        )
    return cond


def trailing_month_fold(
    partials: DataFrame, cols: list[str], months_back: int = 2
) -> DataFrame:
    """Sliding-window scaffolding shared by the sketch families: re-project
    each month-grain partial row onto EVERY trailing window that covers it
    — (mes_fim, *cols) for offsets 0..months_back — validity-joined to the
    months actually present, so windows at the series start simply cover
    fewer months (same rule as the SQL oracles).  O(cells·months_back)
    rows, never a fact scan; the caller folds the result at mes_fim grain
    (kmv_fold re-truncation, CMS counter re-sum, ...)."""
    from pyspark.sql import functions as F

    months = partials.select("mes_dt").distinct()
    exp = partials.select(
        *cols,
        F.explode(
            F.array(*[F.lit(i) for i in range(months_back + 1)])
        ).alias("off"),
        F.to_date(F.concat(F.col("mes_dt"), F.lit("-01"))).alias("m0"),
    ).select(
        F.date_format(F.expr("add_months(m0, off)"), "yyyy-MM").alias("mes_fim"),
        *cols,
    )
    return exp.join(
        F.broadcast(months.withColumnRenamed("mes_dt", "mes_fim")), "mes_fim"
    )


def _one_file_per_month(partials: DataFrame) -> DataFrame:
    """Collapse each month's partial rows into one task before the
    partitioned write — a partial table is tiny by construction (≤ a
    bounded number of rows per day), but writing it from every shuffle
    task of the upstream aggregation sprays |months|·|tasks| small files
    (measured: 2656 files / 9.5 s serving for the sf0.1 CMS grid vs 83
    files / sub-second after).  Hash-repartitioning on mes_dt gives
    exactly one file per month partition — the serving fold then pays
    |months| file opens, not thousands."""
    return partials.repartition("mes_dt")


def read_marker(path: str) -> str | None:
    try:
        with open(os.path.join(path, _STAMP_MARKER)) as f:
            return f.read().strip()
    except OSError:
        return None


def write_marker(path: str, stamp: str) -> None:
    with open(os.path.join(path, _STAMP_MARKER), "w") as f:
        f.write(stamp)


def load_or_build_stamped(
    spark: SparkSession, path: str, stamp: str, write: Callable[[str], None]
) -> DataFrame:
    """Serve the stamp-marked table at ``path``, first rebuilding it when
    absent or stale: ``write(staging)`` writes the whole table, the marker
    lands in staging, then index_store.publish swaps it in (a concurrent
    builder's fresh copy wins)."""
    from olap_sus_spark.operators.index_store import (
        index_root,
        publish,
        serve,
        staging_path,
        sweep_stale_staging,
    )

    if not os.path.exists(path) or read_marker(path) != stamp:
        sweep_stale_staging()
        os.makedirs(index_root(), exist_ok=True)
        staging = staging_path(path)
        write(staging)
        write_marker(staging, stamp)
        publish(staging, path, lambda: read_marker(path) == stamp)
    return serve(spark, path)


def _write_months(
    partials: DataFrame, dest: str, layout: Callable[[DataFrame], DataFrame] | None
) -> None:
    (layout or _one_file_per_month)(partials).write.partitionBy("mes_dt").mode(
        "overwrite"
    ).parquet(dest)


def load_or_build_partials(
    spark: SparkSession,
    path: str,
    stamp: str,
    build: Callable[[list[str] | None], DataFrame],
    layout: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Serve the partial table, rebuilding first if absent or stale.

    ``layout`` replaces the default pre-write shaping
    (:func:`_one_file_per_month`, right for TINY per-day partials) for
    maintained tables whose months are data-sized — e.g. the z-ordered
    fact layout, which needs a range exchange on (mes_dt, morton) so each
    month is written by MANY ordered tasks, not funneled into one."""
    return load_or_build_stamped(
        spark, path, stamp, lambda staging: _write_months(build(None), staging, layout)
    )


def refresh_partials(
    spark: SparkSession,
    path: str,
    stamp: str,
    build: Callable[[list[str] | None], DataFrame],
    days: list[str],
    layout: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Re-derive ONLY the months containing ``days`` (yyyy-MM-dd) and swap
    the refreshed month partitions in — O(day), never the fact history.

    The refreshed months are STAGED to a per-process dir first, then
    swapped in by index_store.publish_partitions: each month is published
    over its live copy (never delete a live directory; the rename-race
    loser discards its equivalent copy) and a refreshed month whose new
    partial is empty is dropped.  Cross-process READERS of a month's
    two-rename window may see one transient FileNotFound mid-action; the
    contract is retry-the-action (never partial or merged data — each
    month is whole before and after the swap).  Concurrent refreshers are
    safe (``python tools/race_probe.py`` races two drivers through
    refresh+serve loops and pins raced == fresh rebuild with zero
    debris)."""
    import shutil

    from olap_sus_spark.operators.index_store import (
        publish_partitions,
        staging_path,
        sweep_stale_staging,
    )

    months = sorted({d[:7] for d in days})
    if not os.path.exists(path):
        load_or_build_partials(spark, path, stamp, build, layout=layout)
        return
    sweep_stale_staging()
    staging = staging_path(path)
    try:
        _write_months(build(months), staging, layout)
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        publish_partitions(staging, path, "mes_dt", scope=months)
    except OSError:
        # A month's promote failed for a reason OTHER than a concurrent
        # winner (its old copy is restored where publish could).  Skip the
        # marker write so the stale stamp forces the next load to rebuild
        # instead of serving pre-refresh data as current.
        return
    write_marker(path, stamp)


@dataclass(frozen=True)
class MonthTable:
    """One month-partitioned maintained summary, declared once.

    ``partials(spark, sf_dir, months)`` is the family's builder (months
    None = all).  The table's path is keyed by ``kind``, the algorithm
    ``version`` and the corpus LOCATION — not by the corpus stamp: any
    ingest changes the stamp, so a stamp-keyed path would never exist yet
    and every refresh would degenerate to a full rebuild.  Staleness is
    the stamp MARKER inside the table instead, taken over ``source``
    (written at build, rewritten by refresh): a serve-time mismatch means
    the caller ingested without refreshing, and the safe fallback is a
    full staged rebuild."""

    kind: str
    version: str
    source: str
    partials: Callable[[SparkSession, str, list[str] | None], DataFrame]

    def path(self, sf_dir: str) -> str:
        from olap_sus_spark.operators.index_store import index_path

        return index_path(self.kind, f"{self.version}|{os.path.abspath(sf_dir)}")

    def stamp(self, sf_dir: str) -> str:
        from olap_sus_spark.operators.index_store import corpus_stamp

        return corpus_stamp(sf_dir, self.source)

    def load_or_build(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Serve the partials, first rebuilding them when absent or stale."""
        return load_or_build_partials(
            spark, self.path(sf_dir), self.stamp(sf_dir),
            lambda months: self.partials(spark, sf_dir, months),
        )

    def refresh(self, spark: SparkSession, sf_dir: str, days: list[str]) -> None:
        """Re-derive only the months containing ``days`` (yyyy-MM-dd) and
        stamp the table with the current facts — O(day), idempotent."""
        refresh_partials(
            spark, self.path(sf_dir), self.stamp(sf_dir),
            lambda months: self.partials(spark, sf_dir, months), days,
        )
