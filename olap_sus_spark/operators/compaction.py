"""Fleet-wide small-file compaction for the maintained corpus indexes.

Every incremental refresh writes up to 4 range-sorted parquet files per
touched ``src=`` partition (sources/sinks.write_sorted_partitioned), so a
long ingest chain accumulates ~4 index files per corpus part file per
component — ~15 files/ingest across the fleet in the r10 steady-state
probe (tools/steady_state_probe.py, which runs this every 10th ingest
over the registry's parameters: augmented corpus view, the ANN probe
index's SRP width and IVF centroids).  ``compact_maintained_indexes``
rewrites each over-full partition down to one file via
``index_store.compact_src_partitions``, preserving each component's sort
key so footer min/max stats stay selective.  Manifests are untouched (they
track corpus files, not index files), served values are bit-identical (a
pure layout rewrite), and the refresh contract is unaffected — run it on
an operator's cadence, e.g. every K ingests or nightly.

Same SINGLE-MAINTAINER assumption as the refresh paths themselves.
"""

from __future__ import annotations

import os

from olap_sus_spark.operators import index_store as ix


def compact_maintained_indexes(
    spark,
    sf_dir: str,
    view: str = "plain",
    target_files: int = 1,
    dim: int | None = None,
    n_tables: int = 12,
    n_bits: int = 4,
    num_centroids: int = 16,
    cluster_threshold: float = 0.5,
) -> dict[str, dict[str, int]]:
    """Compact every src=-partitioned component of the corpus-index fleet
    that exists for ``sf_dir``: gram partials + scrub (at ``view``),
    inverted postings/docs, near-dup cluster map, the semantic-dedup
    assignments/verdicts, and — when ``dim`` is given — the SRP bucket
    table and IVF assignments for those parameters.  Missing indexes are
    skipped (compaction never builds).  Returns
    {family/component: {partition: files_before}} for what was rewritten.
    """
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import inverted as inv
    from olap_sus_spark.operators import similarity as sim

    targets: list[tuple[str, str, tuple[str, ...]]] = [
        (
            "gramfreq/grams",
            os.path.join(gf.gram_freq_path(sf_dir, view=view), "grams"),
            ("gram",),
        ),
        (
            "gramscrub/docs",
            os.path.join(gf.scrub_path(sf_dir, view=view), "docs"),
            ("doc_id",),
        ),
        (
            "inverted/postings",
            os.path.join(inv.inverted_index_path(sf_dir), "postings"),
            ("term",),
        ),
        (
            "inverted/docs",
            os.path.join(inv.inverted_index_path(sf_dir), "docs"),
            ("n_docs",),
        ),
        (
            "cluster/clusters",
            os.path.join(dd.cluster_index_path(sf_dir, cluster_threshold), "clusters"),
            ("cluster_id",),
        ),
        (
            "cluster/hubs",
            os.path.join(dd.cluster_index_path(sf_dir, cluster_threshold), "hubs"),
            ("block",),
        ),
    ]
    if dim is not None:
        targets.append(
            (
                "srp",
                sim.srp_index_path(sf_dir, dim, n_tables, n_bits),
                ("t", "bucket"),
            )
        )
        targets.append(
            (
                "ivf/assignments",
                os.path.join(sim.ivf_index_path(sf_dir, num_centroids), "assignments"),
                ("centroid_id",),
            )
        )
    targets.append(
        (
            "semantic/assignments",
            os.path.join(sim.semantic_index_path(sf_dir, 64, 0.3), "assignments"),
            ("centroid_id",),
        )
    )
    targets.append(
        (
            "semantic/verdicts",
            os.path.join(sim.semantic_index_path(sf_dir, 64, 0.3), "verdicts"),
            ("vec_id",),
        )
    )
    out: dict[str, dict[str, int]] = {}
    for name, root, sort_cols in targets:
        if not os.path.isdir(root):
            continue
        done = ix.compact_src_partitions(
            spark, root, target_files=target_files, sort_cols=sort_cols
        )
        if done:
            out[name] = done
    return out
