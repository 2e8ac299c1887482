"""Maintained per-source quality-score histogram — the corpus statistic
behind the calibrated quality cut (queries/text_pipeline.py:
quality_calibrated_cut), kept fresh O(ingested files).

The histogram is ADDITIVE over corpus part files: each ``src=`` partition
holds that file's (source, q_bin, cnt) rows, so every maintenance case is
partition-local — appends write their own partitions, in-place rewrites
(purge_table_ids) recompute exactly the changed partitions, removals drop
partitions.  No maintenance case needs a full rebuild; this family is the
simplest point on the maintained-index spectrum (vs the gram chain's
flip handling or the semantic index's epoch-pinned codebook) precisely
because the statistic is a per-row map + additive count, so the whole
table is one ``index_store.FileMap`` declaration (:data:`QUALHIST`).

Serving folds the index-sized partials (|files| × |sources| × ≤1000 bins)
instead of re-aggregating the corpus — the cutoff side of the calibrated
cut stops scanning documents entirely; the per-doc verdict pass remains
the narrow map it always was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.operators import index_store as ix
from olap_sus_spark.operators import text as tx

_BINS = 1000
_ALGO_VERSION = "v1"


def q_bin(text_col) -> F.Column:
    """The calibrated cut's score bin — MUST stay expression-identical to
    quality_calibrated_cut's so the served twin shares its oracle."""
    ratio = tx.stopword_ratio(text_col)
    return F.least(F.floor(ratio * _BINS), F.lit(_BINS - 1)).cast("int")


def _partials(docs: DataFrame) -> dict[str, DataFrame]:
    """(src, source, q_bin, cnt) — one narrow map + one grouped count."""
    return {
        "": docs.select(ix.SRC, "source", q_bin(F.col("text")).alias("q_bin"))
        .groupBy(ix.SRC, "source", "q_bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    }


QUALHIST = ix.FileMap(
    "qhist", _ALGO_VERSION, "documents", {"": (("source", "q_bin"), 1)},
    _partials, f"|qualhist|{_BINS}",
)


def quality_hist_path(sf_dir: str) -> str:
    return QUALHIST.path(sf_dir)


def load_or_build_quality_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the per-source histogram partials, building on first use.
    Staleness via the corpus manifest (the caller ingested without
    :func:`refresh_quality_hist`) triggers the safe full rebuild."""
    return _serve(spark, QUALHIST.load_or_build(spark, sf_dir))


def refresh_quality_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorb ANY corpus change partition-locally: appended and rewritten
    part files recompute exactly their own partials partitions; removed
    files drop theirs.  Additivity means there is no cross-file state and
    therefore no full-rebuild case at all — idempotent by construction."""
    return _serve(spark, QUALHIST.refresh(spark, sf_dir))


def _serve(spark: SparkSession, path: str) -> DataFrame:
    return ix.serve(spark, path).select(ix.SRC, "source", "q_bin", "cnt")
