"""Fleet-wide small-file compaction for the maintained corpus indexes.

Every incremental refresh writes up to 4 range-sorted parquet files per
touched ``src=`` partition (sources/sinks.write_sorted_partitioned), so a
long ingest chain accumulates ~4 index files per corpus part file per
component — ~15 files/ingest across the fleet in the r10 steady-state
probe (tools/steady_state_probe.py, which runs this every 10th ingest
over the registry's parameters: augmented corpus view, the ANN probe
index's SRP width and IVF centroids).  ``compact_maintained_indexes``
rewrites each over-full partition down to one file through each table's
``SrcTable.compact``, which keeps the sort key the table declares so
footer min/max stats stay selective, stages the rewritten partitions and
swaps them in with one ``index_store.publish_partitions`` per component.  Manifests are untouched (they
track corpus files, not index files), served values are bit-identical (a
pure layout rewrite), and the refresh contract is unaffected — run it on
an operator's cadence, e.g. every K ingests or nightly.

Same SINGLE-MAINTAINER assumption as the refresh paths themselves.
"""

from __future__ import annotations

from olap_sus_spark.operators.corpus_view import PLAIN, CorpusView


def compact_maintained_indexes(
    spark,
    sf_dir: str,
    view: CorpusView = PLAIN,
    target_files: int = 1,
    dim: int | None = None,
    n_tables: int = 12,
    n_bits: int = 4,
    num_centroids: int = 16,
    cluster_threshold: float = 0.5,
) -> dict[str, dict[str, int]]:
    """Compact every src=-partitioned component of the corpus-index fleet
    that exists for ``sf_dir``: gram partials + scrub and the near-dup
    cluster map (over ``view``), inverted postings/docs, the
    semantic-dedup assignments/verdicts, and — when ``dim`` is given — the
    SRP bucket table and IVF assignments for those parameters.  Missing
    indexes are skipped (compaction never builds).  Returns
    {family/component: {partition: files_before}} for what was rewritten.
    """
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import inverted as inv
    from olap_sus_spark.operators import similarity as sim

    tables = [
        ("gramfreq", gf._freq_table(sf_dir, view)),
        ("gramscrub", gf._scrub_table(sf_dir, view)),
        ("inverted", inv._table(sf_dir, "documents")),
        ("cluster", dd._cluster_table(sf_dir, view, cluster_threshold, 3)),
    ]
    if dim is not None:
        tables.append(("srp", sim._srp_table(sf_dir, dim, n_tables, n_bits)))
        tables.append(("ivf", sim._ivf_table(sf_dir, num_centroids)))
    tables.append(("semantic", sim._sem_table(sf_dir, 64, 0.3, "vec_id")))
    out: dict[str, dict[str, int]] = {}
    for family, table in tables:
        for component, done in table.compact(spark, target_files).items():
            out[f"{family}/{component}" if component else family] = done
    return out
