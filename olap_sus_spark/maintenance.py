"""The registry of maintained tables, and the daily close over it.

Every maintained table the engine serves is one :class:`Spec`: its name,
where it lives, how to build it, how to refresh it, and its partition
unit — a corpus part file (``src``, the per-file tables on
operators/index_store.SrcTable) or a fact month (``mes_dt``, the
summaries declared as operators/maintained.MonthTable, and the z-ordered
fact layouts).  Everything that walks the inventory iterates
:func:`specs`: the daily close below, ``bench.py``'s build / refresh /
rebuild timings, ``tools/race_probe.py`` (concurrent builders, refreshers
and readers) and ``tools/steady_state_probe.py`` (N sequential ingests).

Every refresh is idempotent (a month publish or a per-file partition
rewrite, never-built fallback to a full staged build), so the daily close
is too: replaying a day converges.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from olap_sus_spark.operators.index_store import SrcTable


@dataclass(frozen=True)
class Spec:
    """One maintained table.  ``source`` is the corpus/fact table whose
    part files (``unit="src"``) or days (``unit="mes_dt"``) drive the
    refresh; ``refresh(spark, sf_dir, days)`` — per-file tables diff the
    corpus themselves and ignore ``days``.  ``rebuild_exact`` is False for
    an epoch-pinned table, whose refresh equals a rebuild under its BUILT
    codebook rather than a fresh rebuild of the grown corpus.  ``table``
    gives a per-file table's ``SrcTable`` for a corpus dir (None for a
    month table); fleet compaction walks it."""

    name: str
    unit: str
    source: str
    path: Callable[[str], str]
    build: Callable[[SparkSession, str], object]
    refresh: Callable[[SparkSession, str, list[str]], object]
    rebuild_exact: bool = True
    table: Callable[[str], SrcTable] | None = None


def specs() -> list[Spec]:
    """Every maintained table, in dependency order (the gram rollup folds
    the gram partials; the scrub reads the rollup's cut)."""
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import inverted as inv
    from olap_sus_spark.operators import qualhist as qh
    from olap_sus_spark.operators import similarity as sim
    from olap_sus_spark.operators.corpus_view import AUG
    from olap_sus_spark.operators.index_store import corpus_rows
    from olap_sus_spark.operators.maintained import MonthTable
    from olap_sus_spark.queries import cms, hist, sketches
    from olap_sus_spark.queries import incremental as inc
    from olap_sus_spark.queries.vector import _DIM, _LSH_H, _LSH_T, _NC
    from olap_sus_spark.sources import zorder as zo

    def dedup_bits(sf: str) -> int:
        # the pair-generation index: occupancy-8 signature width, distinct
        # from the ANN probe index's fixed 4 bits
        return sim.auto_bits(corpus_rows(sf), target_bucket=8)

    def src(
        name: str,
        source: str,
        table: Callable[[str], SrcTable],
        build: Callable[[SparkSession, str], object],
        refresh: Callable[[SparkSession, str], object],
        rebuild_exact: bool = True,
    ) -> Spec:
        return Spec(
            name, "src", source, lambda sf: table(sf).path, build,
            lambda s, sf, days: refresh(s, sf), rebuild_exact, table,
        )

    def month(name: str, table: MonthTable, source: str | None = None) -> Spec:
        return Spec(
            name, "mes_dt", source or table.source,
            table.path, table.load_or_build, table.refresh,
        )

    def zorder(name: str, table: str, x: str, y: str, date: str) -> Spec:
        return Spec(
            name, "mes_dt", table,
            lambda sf: zo.zorder_monthly_path(sf, table, x, y, date),
            lambda s, sf: zo.load_or_build_zorder_monthly(s, sf, table, x, y, date),
            lambda s, sf, days: zo.refresh_zorder_monthly(s, sf, table, x, y, date, days),
        )

    return [
        src(
            "srp_lsh", "embeddings",
            lambda sf: sim._srp_map(_DIM, _LSH_T, _LSH_H).table(sf),
            lambda s, sf: sim.load_or_build_srp_index(s, sf, _DIM, _LSH_T, _LSH_H),
            lambda s, sf: sim.refresh_srp_index(s, sf, _DIM, _LSH_T, _LSH_H),
        ),
        src(
            "srp_lsh_dedup", "embeddings",
            lambda sf: sim._srp_map(_DIM, _LSH_T, dedup_bits(sf)).table(sf),
            lambda s, sf: sim.load_or_build_srp_index(s, sf, _DIM, _LSH_T, dedup_bits(sf)),
            lambda s, sf: sim.refresh_srp_index(s, sf, _DIM, _LSH_T, dedup_bits(sf)),
        ),
        src(
            "ivf", "embeddings",
            lambda sf: sim._ivf_table(sf, _NC),
            lambda s, sf: sim.load_or_build_ivf_index(s, sf, num_centroids=_NC),
            lambda s, sf: sim.refresh_ivf_index(s, sf, num_centroids=_NC),
        ),
        src(
            "semantic_dedup", "embeddings",
            lambda sf: sim._sem_table(sf, 64, 0.3),
            lambda s, sf: sim.load_or_build_semantic_index(s, sf, 64, 0.3),
            lambda s, sf: sim.refresh_semantic_index(s, sf, 64, 0.3),
            rebuild_exact=False,
        ),
        src(
            "quality_hist", "documents", qh.QUALHIST.table,
            qh.load_or_build_quality_hist, qh.refresh_quality_hist,
        ),
        src(
            # the near-dup cluster map over the augmented corpus view the
            # registered dedup queries serve
            "near_dup_clusters", "documents",
            lambda sf: dd._cluster_table(sf, AUG, 0.5, 3),
            lambda s, sf: dd.load_or_build_cluster_index(s, sf, AUG, threshold=0.5),
            lambda s, sf: dd.refresh_cluster_index(s, sf, AUG, threshold=0.5),
        ),
        src(
            "inverted", "documents", inv.INVERTED.table,
            inv.load_or_build_inverted_index, inv.refresh_inverted_index,
        ),
        src(
            "gramfreq", "documents",
            lambda sf: gf._freq_table(sf, AUG),
            gf.load_or_build_gram_freq, gf.refresh_gram_freq,
        ),
        src(
            "gramrollup", "documents",
            lambda sf: gf._rollup_table(sf, AUG),
            gf.load_or_build_gram_rollup, gf.refresh_gram_rollup,
        ),
        src(
            "gramscrub", "documents",
            lambda sf: gf._scrub_table(sf, AUG),
            gf.load_or_build_gram_scrub, gf.refresh_gram_scrub,
        ),
        month("daily_revenue", inc.DAILY_REVENUE),
        month("orderkey_kmv", sketches.ORDERKEY_KMV),
        month("supplier_cms", cms.SUPPLIER_CMS),
        # stamped on orders; refreshed by the lineitem daily close (an
        # order and its lineitems land in the same ingest)
        month("order_hist", hist.ORDER_HIST, source="lineitem"),
        # the fact lake's default layout: re-z-order ONLY the touched months
        zorder("zorder_lineitem", "lineitem", "l_partkey", "l_suppkey", "l_shipdate"),
        month("user_kmv", sketches.USER_KMV),
        zorder("zorder_events", "events", "user_id", "event_id", "ts"),
    ]


def _refresh_days(
    spark: SparkSession, sf_dir: str, days: list[str], source: str
) -> list[str]:
    out = []
    for spec in specs():
        if spec.unit == "mes_dt" and spec.source == source:
            spec.refresh(spark, sf_dir, days)
            out.append(spec.name)
    return out


def refresh_fact_summaries(
    spark: SparkSession, sf_dir: str, days: list[str]
) -> list[str]:
    """Refresh every maintained summary over the TPC-H-shaped facts for
    the ingested ``days`` (yyyy-MM-dd) — the single entry point ingest
    pipelines call instead of knowing the inventory.  Returns the names of
    the summaries refreshed.  Cost is O(day) per summary: each re-derives
    only the months containing ``days`` from a range-pruned fact scan and
    publishes those partitions."""
    return _refresh_days(spark, sf_dir, days, "lineitem")


def refresh_event_summaries(
    spark: SparkSession, sf_dir: str, days: list[str]
) -> list[str]:
    """Events-side daily close: refresh the maintained summaries keyed on
    the events table (the active-user sketch cube and the behavior-fact
    z-layout) for the ingested days."""
    return _refresh_days(spark, sf_dir, days, "events")
