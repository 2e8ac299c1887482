"""Corpus views: which rows of the ``documents`` table a text maintained
table (the gram chain in operators/gramfreq.py, the near-dup cluster map
in operators/dedup.py) is built over.

A view decides three things that must agree: the rows it produces from a
set of part files, the ``doc_id`` offsets those rows carry relative to
their base row (the doc-locality guard range-checks with them), and the
tag that keys every index path built over it — two views never share an
index directory.  Each view is declared exactly once, below.

Every view tags ``src`` (the corpus part-file basename) at the scan,
before any exchange, and its transform is row-local: each output row
depends on one base row of one part file, so a per-``src`` partition of
any table built over a view is a pure function of its part file.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table, spread_compute
from olap_sus_spark.operators import index_store as ix

TABLE = "documents"


def _augment(docs: DataFrame) -> DataFrame:
    """Derive the exact/near duplicate rows (1 source row → up to 3 output
    rows) — row-local, so any extra columns (e.g. the ``src`` provenance an
    incremental cluster refresh needs) propagate unchanged."""
    exact = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    near = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzduplicado")))
    )
    return docs.unionByName(exact).unionByName(near)


@dataclass(frozen=True)
class CorpusView:
    """One corpus view.  ``name`` is the index-key tag; ``offsets`` are
    the ``doc_id`` offsets the view maps a base row with id x to (rows
    {x + o}; a superset is enough for the guard); ``transform`` is the
    row-local step applied to the ``src``-tagged scan."""

    name: str
    offsets: tuple[int, ...]
    transform: Callable[[DataFrame], DataFrame]

    def docs(
        self, spark: SparkSession, sf_dir: str, paths: list[str] | None = None
    ) -> DataFrame:
        """The view over the whole ``documents`` table, or over the given
        part files."""
        if paths is None:
            docs = load_table(spark, sf_dir, TABLE)
        else:
            docs = spark.read.parquet(*paths)
        return self.transform(ix.with_src(docs))


# The raw corpus (monotonic ids: the O(batch) refresh shape of streaming
# ingest, where duplicates are real duplicates).
PLAIN = CorpusView("plain", (0,), lambda d: d)
# The registered queries' view: the synthetic duplicate injection
# (+1M for doc_id % 7 == 0, +2M for % 11 == 0) their DuckDB oracles are
# defined over.  The scan is spread before the hashing work.
AUG = CorpusView(
    "aug", (0, 1_000_000, 2_000_000), lambda d: _augment(spread_compute(d))
)
# The decontamination eval split: rows with doc_id % 97 == 0, ids
# unchanged (a subset of the base ids).
EVAL97 = CorpusView(
    "eval97", (0,), lambda d: spread_compute(d.filter(F.col("doc_id") % 97 == 0))
)
