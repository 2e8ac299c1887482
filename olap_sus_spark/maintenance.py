"""The registry of maintained tables, and the daily close over it.

Every maintained table the engine serves is one :class:`Spec`: its name,
where it lives, how to build it, how to refresh it, and its partition
unit — a corpus part file (``src``, the per-file tables on
operators/index_store.SrcTable) or a fact month (``mes_dt``, the partial
tables on operators/maintained.py).  Everything that walks the inventory
iterates :func:`specs`: the daily close below, ``bench.py``'s build /
refresh / rebuild timings, and ``tools/race_probe.py``.

Every refresh is idempotent (a month publish or a per-file partition
rewrite, never-built fallback to a full staged build), so the daily close
is too: replaying a day converges.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Spec:
    """One maintained table.  ``source`` is the corpus/fact table whose
    part files (``unit="src"``) or days (``unit="mes_dt"``) drive the
    refresh; ``refresh(spark, sf_dir, days)`` — per-file tables diff the
    corpus themselves and ignore ``days``.  ``rebuild_exact`` is False for
    an epoch-pinned table, whose refresh equals a rebuild under its BUILT
    codebook rather than a fresh rebuild of the grown corpus."""

    name: str
    unit: str
    source: str
    path: Callable[[str], str]
    build: Callable[[SparkSession, str], object]
    refresh: Callable[[SparkSession, str, list[str]], object]
    rebuild_exact: bool = True


def specs() -> list[Spec]:
    """Every maintained table, in dependency order (the gram rollup folds
    the gram partials; the scrub reads the rollup's cut)."""
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import inverted as inv
    from olap_sus_spark.operators import qualhist as qh
    from olap_sus_spark.operators import similarity as sim
    from olap_sus_spark.operators.index_store import corpus_rows
    from olap_sus_spark.queries import cms, hist, sketches
    from olap_sus_spark.queries import incremental as inc
    from olap_sus_spark.queries.text_pipeline import augmented_docs, augmented_docs_of
    from olap_sus_spark.queries.vector import _DIM, _LSH_H, _LSH_T, _NC
    from olap_sus_spark.sources import zorder as zo

    def dedup_bits(sf: str) -> int:
        # the pair-generation index: occupancy-8 signature width, distinct
        # from the ANN probe index's fixed 4 bits
        return sim.auto_bits(corpus_rows(sf), target_bucket=8)

    def zorder(name: str, table: str, x: str, y: str, date: str) -> Spec:
        return Spec(
            name, "mes_dt", table,
            lambda sf: zo.zorder_monthly_path(sf, table, x, y, date),
            lambda s, sf: zo.load_or_build_zorder_monthly(s, sf, table, x, y, date),
            lambda s, sf, days: zo.refresh_zorder_monthly(s, sf, table, x, y, date, days),
        )

    return [
        Spec(
            "srp_lsh", "src", "embeddings",
            lambda sf: sim.srp_index_path(sf, _DIM, _LSH_T, _LSH_H),
            lambda s, sf: sim.load_or_build_srp_index(s, sf, _DIM, _LSH_T, _LSH_H),
            lambda s, sf, days: sim.refresh_srp_index(s, sf, _DIM, _LSH_T, _LSH_H),
        ),
        Spec(
            "srp_lsh_dedup", "src", "embeddings",
            lambda sf: sim.srp_index_path(sf, _DIM, _LSH_T, dedup_bits(sf)),
            lambda s, sf: sim.load_or_build_srp_index(s, sf, _DIM, _LSH_T, dedup_bits(sf)),
            lambda s, sf, days: sim.refresh_srp_index(s, sf, _DIM, _LSH_T, dedup_bits(sf)),
        ),
        Spec(
            "ivf", "src", "embeddings",
            lambda sf: sim.ivf_index_path(sf, _NC),
            lambda s, sf: sim.load_or_build_ivf_index(s, sf, num_centroids=_NC),
            lambda s, sf, days: sim.refresh_ivf_index(s, sf, num_centroids=_NC),
        ),
        Spec(
            "semantic_dedup", "src", "embeddings",
            lambda sf: sim.semantic_index_path(sf, 64, 0.3),
            lambda s, sf: sim.load_or_build_semantic_index(s, sf, 64, 0.3),
            lambda s, sf, days: sim.refresh_semantic_index(s, sf, 64, 0.3),
            rebuild_exact=False,
        ),
        Spec(
            "quality_hist", "src", "documents",
            qh.quality_hist_path,
            qh.load_or_build_quality_hist,
            lambda s, sf, days: qh.refresh_quality_hist(s, sf),
        ),
        Spec(
            # the near-dup cluster map over the augmented corpus view the
            # registered dedup queries serve
            "near_dup_clusters", "src", "documents",
            lambda sf: dd.cluster_index_path(sf, 0.5),
            lambda s, sf: dd.load_or_build_cluster_index(
                s, sf, augmented_docs(s, sf), threshold=0.5
            ),
            lambda s, sf, days: dd.refresh_cluster_index(
                s, sf, augmented_docs_of(sf), threshold=0.5
            ),
        ),
        Spec(
            "inverted", "src", "documents",
            inv.inverted_index_path,
            inv.load_or_build_inverted_index,
            lambda s, sf, days: inv.refresh_inverted_index(s, sf),
        ),
        Spec(
            "gramfreq", "src", "documents",
            gf.gram_freq_path,
            gf.load_or_build_gram_freq,
            lambda s, sf, days: gf.refresh_gram_freq(s, sf),
        ),
        Spec(
            "gramrollup", "src", "documents",
            gf.rollup_path,
            gf.load_or_build_gram_rollup,
            lambda s, sf, days: gf.refresh_gram_rollup(s, sf),
        ),
        Spec(
            "gramscrub", "src", "documents",
            gf.scrub_path,
            gf.load_or_build_gram_scrub,
            lambda s, sf, days: gf.refresh_gram_scrub(s, sf),
        ),
        Spec(
            "daily_revenue", "mes_dt", "lineitem", inc.daily_revenue_path,
            inc.load_or_build_daily_revenue, inc.refresh_daily_revenue,
        ),
        Spec(
            "orderkey_kmv", "mes_dt", "lineitem", sketches.orderkey_kmv_path,
            sketches.load_or_build_orderkey_kmv, sketches.refresh_orderkey_kmv,
        ),
        Spec(
            "supplier_cms", "mes_dt", "lineitem", cms.supplier_cms_path,
            cms.load_or_build_supplier_cms, cms.refresh_supplier_cms,
        ),
        Spec(
            "order_hist", "mes_dt", "lineitem", hist.order_hist_path,
            hist.load_or_build_order_hist, hist.refresh_order_hist,
        ),
        # the fact lake's default layout: re-z-order ONLY the touched months
        zorder("zorder_lineitem", "lineitem", "l_partkey", "l_suppkey", "l_shipdate"),
        Spec(
            "user_kmv", "mes_dt", "events", sketches.user_kmv_path,
            sketches.load_or_build_user_kmv, sketches.refresh_user_kmv,
        ),
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
