"""Fleet-wide small-file compaction for the maintained corpus indexes.

Every incremental refresh writes up to 4 range-sorted parquet files per
touched ``src=`` partition (sources/sinks.write_sorted_partitioned), so a
long ingest chain accumulates ~4 index files per corpus part file per
component — ~15 files/ingest across the fleet in the r10 steady-state
probe (tools/steady_state_probe.py, which runs this every 10th ingest).
``compact_maintained_indexes`` walks every per-file table of
``maintenance.specs()`` and rewrites each over-full partition down to
``target_files`` through the table's ``SrcTable.compact``, which keeps the
sort key the table declares so footer min/max stats stay selective,
stages the rewritten partitions and swaps them in with one
``index_store.publish_partitions`` per component.  Manifests are untouched
(they track corpus files, not index files), served values are
bit-identical (a pure layout rewrite), and the refresh contract is
unaffected — run it on an operator's cadence, e.g. every K ingests or
nightly.

Same SINGLE-MAINTAINER assumption as the refresh paths themselves.
"""

from __future__ import annotations


def compact_maintained_indexes(
    spark, sf_dir: str, target_files: int = 1
) -> dict[str, dict[str, int]]:
    """Compact every src=-partitioned component of every registered
    per-file table that exists for ``sf_dir``.  Missing indexes are skipped
    (compaction never builds), and so is every table over an absent corpus
    table (its key may be sized from the corpus, like the dedup SRP
    width).  Returns {spec/component: {partition: files_before}} for what
    was rewritten."""
    from olap_sus_spark.maintenance import specs
    from olap_sus_spark.operators.index_store import corpus_files

    out: dict[str, dict[str, int]] = {}
    for spec in specs():
        if spec.table is None or not corpus_files(sf_dir, spec.source):
            continue
        for component, done in spec.table(sf_dir).compact(spark, target_files).items():
            out[f"{spec.name}/{component}" if component else spec.name] = done
    return out
