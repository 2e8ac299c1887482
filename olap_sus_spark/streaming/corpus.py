"""Streaming corpus ingest: document/embedding drops → corpus append →
incremental index refresh, all inside the micro-batch.

The LLM-pipeline twin of :mod:`olap_sus_spark.streaming.ingest` (which
closes ingest→refresh→serve for the warehouse aggregates): a file-watch
stream appends landing drops to the corpus parquet tables, then calls the
per-part-file index refreshes (``refresh_cluster_index`` for near-dup
serving, ``refresh_srp_index``/``refresh_ivf_index`` for ANN serving) so
every maintained index is fresh the moment the batch commits — cost
O(ingested files), never O(corpus) (operators/dedup.py, similarity.py).
The document refreshes pass a ``CorpusView`` — ``PLAIN``
(operators/corpus_view.py) — which keys their index paths.

Exactness is inherited, not re-argued: each refresh is bit-identical to a
fresh full build or falls back to one (id-order and part-file-diff guards
in the refresh functions).  The stream==rebuild equality tests in
tests/test_streaming_ingest.py pin this end-to-end.

Scale notes: each micro-batch lands as ONE part file through the shared
EXACTLY-ONCE sink (sources/sinks.append_exactly_once: batch-id-keyed
atomic rename — a crash-replayed batch appends nothing), so the corpus
manifest — and the src= partition count of every maintained index — grows
by O(1) per batch, not O(input splits).  At 100 TB the same loop runs
with a processingTime trigger; the appended-part-file diff is what makes
per-batch refresh affordable.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession

from olap_sus_spark.sources.sinks import append_exactly_once, run_tag_of
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDING_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", LongType()),
    ]
)


def read_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """JSON-lines file stream of document drops (declared schema — no
    sampling inference pass, same posture as the batch readers)."""
    return spark.readStream.schema(DOCUMENT_SCHEMA).json(landing_dir)


def read_embedding_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    return spark.readStream.schema(EMBEDDING_SCHEMA).json(landing_dir)


def _document_batch(
    corpus_dir: str,
    run_tag: str,
    refresh_indexes: bool = True,
    threshold: float = 0.5,
):
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators.corpus_view import PLAIN

    table = posixpath.join(corpus_dir, "documents.parquet")

    def inner(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        append_exactly_once(batch, table, batch_id, run_tag)
        if refresh_indexes:
            # both over the PLAIN corpus view: stream duplicates are real
            # duplicates (no synthetic augmentation), and monotonic ids
            # keep the cluster refresh on its O(batch) path
            dd.refresh_cluster_index(spark, corpus_dir, PLAIN, threshold=threshold)
            # exact-substring serving stays fresh too: refresh_gram_scrub
            # chains all three maintained levels — partials -> rollup/cut
            # -> per-src scrub output (incl. old files retroactively hit by
            # a unique→shared flip), closing ingest→refresh→scrub→serve
            # inside the micro-batch (r9)
            gf.refresh_gram_scrub(spark, corpus_dir, PLAIN)

    return inner


def _embedding_batch(
    corpus_dir: str,
    dim: int,
    run_tag: str,
    refresh_indexes: bool = True,
    n_tables: int = 12,
    n_bits: int | None = 4,
    num_centroids: int = 16,
):
    from olap_sus_spark.operators import similarity as sim

    table = posixpath.join(corpus_dir, "embeddings.parquet")

    def inner(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        append_exactly_once(batch, table, batch_id, run_tag)
        if refresh_indexes:
            sim.refresh_srp_index(spark, corpus_dir, dim, n_tables, n_bits)
            sim.refresh_ivf_index(spark, corpus_dir, num_centroids=num_centroids)

    return inner


def stream_document_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
) -> None:
    """Drain available document drops into the corpus with the near-dup
    cluster index refreshed per micro-batch (Trigger.AvailableNow,
    checkpointed exactly-once file tracking — run on a schedule, or switch
    to a processingTime trigger for continuous ingest)."""
    q = (
        read_document_stream(spark, landing_dir)
        .writeStream.foreachBatch(
            _document_batch(corpus_dir, run_tag_of(checkpoint_dir), threshold=threshold)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_embedding_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    dim: int,
    n_bits: int | None = 4,
    num_centroids: int = 16,
) -> None:
    """Drain available embedding drops with the SRP + IVF ANN indexes
    refreshed per micro-batch."""
    q = (
        read_embedding_stream(spark, landing_dir)
        .writeStream.foreachBatch(
            _embedding_batch(
                corpus_dir, dim, run_tag_of(checkpoint_dir),
                n_bits=n_bits, num_centroids=num_centroids,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
