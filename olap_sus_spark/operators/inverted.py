"""Maintained inverted index: the serving-side structure for full-text
retrieval (BM25 — queries/search.py scores over it).

Reference parity note: the reference engine has no text-retrieval surface;
this is part of the LLM-data-pipeline extension family.  Every row is a
function of one corpus part file, so the index is one
``index_store.FileMap`` declaration (:data:`INVERTED`): the frames below
plus the shared corpus-manifest staleness, staged build + publish, and
per-``src``-partition refresh.

Two tables under one index directory:

- ``postings/`` — one row per (document, term): ``(doc_id, term, tf,
  positions, dl, src)`` with ``dl`` (document token length) denormalized
  onto every posting so a query-term probe needs no doc-table join, and
  ``positions`` the sorted 0-based token offsets of the term in the
  document (``tf = size(positions)``) — the classic positional-postings
  layout, which upgrades the index from bag-of-words probes (BM25) to
  PHRASE queries: a phrase match is an equi-join of the phrase terms'
  positions on (doc, offset-adjusted position), O(query-term postings),
  never a corpus re-scan (queries/search.py:phrase_search_indexed).
  Partitioned by the corpus part file (``src=``) — the refresh unit — and
  range-sorted on ``term`` within partitions so Parquet footer min/max
  stats prune a few-term probe down to a postings-sized read, never a
  corpus scan.  A query-term scan yields BOTH per-doc tf rows and (by
  counting rows, postings are unique per (doc, term)) the per-term
  document frequency.
- ``docs/`` — per-``src`` corpus-stat partials ``(n_docs, s_tokens)``;
  global N and S are the sums of a #part-files-sized read.  Documents with
  NULL text are excluded end-to-end (the retrieval contract); zero-token
  documents count toward N (they appear in no posting but do dilute idf).

Every stored measure is an exact BIGINT, so a serving-path score computed
from the index is bit-identical to one computed from the raw corpus — the
registered ``bm25_search_indexed`` query shares the from-scratch DuckDB
oracle with ``bm25_search_topk``, which IS the maintained==recomputed proof.

At 100 TB: the build is one tokenize+explode pass (the only corpus-sized
job); a daily append re-tokenizes only the ingested part files and
overwrites their ``src=`` partitions (O(ingest day)), and a removed part
file drops its partitions;
the probe reads footer-pruned postings for the query terms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.operators import index_store as ix
from olap_sus_spark.operators import text as tx

_ALGO_VERSION = "inv2"  # inv2: positional postings (positions column)


def _index_frames(docs: DataFrame) -> dict[str, DataFrame]:
    """``postings`` and ``docs`` (per-src stats) for a src-tagged
    documents frame.

    One tokenize pass feeds both: ``dl`` is computed on the un-exploded
    frame (zero-token docs must still reach doc_stats) and carried through
    the posting aggregation as a grouping column — free, since it is
    functionally dependent on doc_id.
    """
    toks = docs.filter(F.col("text").isNotNull()).select(
        ix.SRC,
        "doc_id",
        tx.tokens("text").alias("ts"),
    )
    with_dl = toks.select(
        ix.SRC, "doc_id", F.size("ts").cast("bigint").alias("dl"), "ts"
    )
    postings = (
        with_dl.select(
            ix.SRC, "doc_id", "dl", F.posexplode("ts").alias("pos", "term")
        )
        .groupBy(ix.SRC, "doc_id", "dl", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
                "positions"
            ),
        )
        .select(ix.SRC, "doc_id", "term", "tf", "positions", "dl")
    )
    doc_stats = (
        with_dl.groupBy(ix.SRC)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("s_tokens"),
        )
    )
    return {"postings": postings, "docs": doc_stats}


INVERTED = ix.FileMap(
    "inv", _ALGO_VERSION, "documents",
    {"postings": (("term",), 4), "docs": (("n_docs",), 1)},
    _index_frames,
)


def inverted_index_path(sf_dir: str) -> str:
    return INVERTED.path(sf_dir)


def load_or_build_inverted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Return ``(postings, doc_stats)``, building + persisting on first use
    and loading the Parquet tables afterwards.  A manifest mismatch (the
    corpus changed and nobody called :func:`refresh_inverted_index`)
    triggers the safe full staged rebuild — a maintained index never
    silently serves stale postings."""
    return _serve(spark, INVERTED.load_or_build(spark, sf_dir))


def refresh_inverted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Incremental maintenance: re-tokenize ONLY the corpus part files
    added or rewritten since the last manifest and overwrite their
    ``src=`` partitions; a removed part file's partitions are dropped —
    O(changed files), never O(corpus).  Postings and per-src stats are
    functions of a single part file (a document lives entirely in one), so
    the refreshed index is bit-identical to a fresh full build by
    construction.  A never-built index runs the full staged build."""
    return _serve(spark, INVERTED.refresh(spark, sf_dir))


def _serve(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    return (
        ix.serve(spark, path, "postings").select(
            "doc_id", "term", "tf", "positions", "dl"
        ),
        ix.serve(spark, path, "docs").select("n_docs", "s_tokens"),
    )
