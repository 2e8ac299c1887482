"""Streaming corpus ingest: append + per-micro-batch index refresh must
converge to exactly the state a fresh full build over the final corpus
would produce (stream == rebuild), with exactly-once file tracking across
stream restarts."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators.corpus_view import PLAIN
from olap_sus_spark.streaming.corpus import (
    stream_document_ingest,
    stream_embedding_ingest,
)

def _doc(i: int, dup_of: int | None = None, near: bool = False) -> dict:
    # Per-doc-unique vocabulary: distinct docs share ZERO n-grams, so
    # min-gram blocks are exactly {base doc + its dups} and the star-hub
    # clustering is deterministic (no accidental cross-doc near-dups).
    base = dup_of if dup_of is not None else i
    words = [f"w{base}x{k}" for k in range(8)]
    if near:  # superset near-dup: all original trigrams survive (same
        # min-gram block) and Jaccard = 6/8 >= 0.5 deterministically
        words.append("editado")
    text = " ".join(words)
    return {"doc_id": i, "text": text, "lang": "pt", "source": "s", "n_chars": len(text)}


def _drop(landing: str, name: str, rows: list[dict]) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _emb(i: int, dim: int = 8) -> dict:
    vec = [((i * 13 + k * 5) % 17) / 17.0 for k in range(dim)]
    return {"vec_id": i, "embedding": vec, "label": i % 3}


@pytest.fixture()
def dirs(tmp_path):
    return (
        str(tmp_path / "landing"),
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "fresh"),
    )


def test_stream_document_ingest_equals_rebuild(spark, dirs):
    landing, corpus, ckpt, fresh = dirs
    os.makedirs(corpus, exist_ok=True)
    batch1 = [_doc(i) for i in range(1, 21)]
    batch2 = [_doc(i) for i in range(21, 31)] + [
        _doc(31, dup_of=3),  # exact-text duplicate of a batch-1 doc
        _doc(32, dup_of=7, near=True),  # superset near-dup of a batch-1 doc
    ]

    _drop(landing, "b1.jsonl", batch1)
    stream_document_ingest(spark, landing, corpus, ckpt)
    _drop(landing, "b2.jsonl", batch2)
    stream_document_ingest(spark, landing, corpus, ckpt)  # same checkpoint

    # corpus = union of both drops, exactly once each
    docs = load_table(spark, corpus, "documents")
    assert docs.count() == 32
    assert docs.select("doc_id").distinct().count() == 32

    # replaying the drained stream appends nothing (checkpointed file source)
    stream_document_ingest(spark, landing, corpus, ckpt)
    assert load_table(spark, corpus, "documents").count() == 32

    # maintained cluster index == fresh full build over the same final corpus
    from olap_sus_spark.operators import dedup as dd

    served = dd.refresh_cluster_index(spark, corpus, PLAIN)
    os.makedirs(fresh, exist_ok=True)
    shutil.copytree(
        os.path.join(corpus, "documents.parquet"),
        os.path.join(fresh, "documents.parquet"),
    )
    rebuilt = dd.load_or_build_cluster_index(spark, fresh, PLAIN, threshold=0.5)
    a = sorted(map(tuple, served.select("doc_id", "cluster_id").collect()))
    b = sorted(map(tuple, rebuilt.select("doc_id", "cluster_id").collect()))
    assert a == b
    # the near-dups actually clustered with their originals
    m = dict(a)
    assert m[31] == m[3] and m[32] == m[7]

    # maintained gram-frequency partials (refreshed per micro-batch over
    # the PLAIN corpus view) == fresh full build over the same final corpus
    from olap_sus_spark.operators import gramfreq as gf

    gf_served = sorted(
        map(tuple, gf.refresh_gram_freq(spark, corpus, PLAIN).collect())
    )
    gf_rebuilt = sorted(
        map(
            tuple,
            gf.load_or_build_gram_freq(spark, fresh, PLAIN).collect(),
        )
    )
    assert gf_served == gf_rebuilt and len(gf_served) > 0
    # the exact duplicate (31 == copy of 3) makes every one of its 5-grams
    # cross-doc shared; the plain view must see them as >= 2 docs
    shared = gf.shared_grams(spark, corpus, PLAIN)
    assert shared.count() > 0


def test_stream_embedding_ingest_refreshes_ann_indexes(spark, dirs):
    landing, corpus, ckpt, fresh = dirs
    os.makedirs(corpus, exist_ok=True)
    _drop(landing, "e1.jsonl", [_emb(i) for i in range(1, 25)])
    stream_embedding_ingest(spark, landing, corpus, ckpt, dim=8, num_centroids=4)
    _drop(landing, "e2.jsonl", [_emb(i) for i in range(25, 41)])
    stream_embedding_ingest(spark, landing, corpus, ckpt, dim=8, num_centroids=4)

    emb = load_table(spark, corpus, "embeddings")
    assert emb.count() == 40

    from olap_sus_spark.operators import similarity as sim

    served_srp = sim.load_or_build_srp_index(spark, corpus, dim=8)
    served_ivf, served_cent = sim.load_or_build_ivf_index(spark, corpus, num_centroids=4)

    os.makedirs(fresh, exist_ok=True)
    shutil.copytree(
        os.path.join(corpus, "embeddings.parquet"),
        os.path.join(fresh, "embeddings.parquet"),
    )
    fresh_srp = sim.load_or_build_srp_index(spark, fresh, dim=8)
    fresh_ivf, fresh_cent = sim.load_or_build_ivf_index(spark, fresh, num_centroids=4)

    a = sorted(map(tuple, served_srp.select("vec_id", "t", "bucket").collect()))
    b = sorted(map(tuple, fresh_srp.select("vec_id", "t", "bucket").collect()))
    assert a == b and len(a) == 40 * 12  # every vector signed in every table

    ai = sorted(map(tuple, served_ivf.select("vec_id", "centroid_id").collect()))
    bi = sorted(map(tuple, fresh_ivf.select("vec_id", "centroid_id").collect()))
    assert ai == bi and len(ai) == 40
    ac = sorted(map(tuple, served_cent.collect()))
    bc = sorted(map(tuple, fresh_cent.collect()))
    assert ac == bc and len(ac) == 4


def test_stream_scrub_close_equals_rebuild(spark, dirs):
    """r9: ingest→refresh→scrub→serve closed in-stream.  Two micro-batches
    where batch 2 retroactively flips batch-1 grams from unique to shared;
    the maintained scrub after the stream equals a from-scratch rebuild
    over the final corpus, WITHOUT any post-stream recompute."""
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import index_store as ix

    landing, corpus, ckpt, fresh = dirs
    os.makedirs(corpus, exist_ok=True)

    _drop(landing, "b1.jsonl", [_doc(i) for i in range(1, 11)])
    stream_document_ingest(spark, landing, corpus, ckpt)
    served1 = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, corpus, PLAIN).collect()
    }
    assert len(served1) == 10 and all(r[2] == 0 for r in served1.values())

    # batch 2: doc 31 is an exact copy of batch-1 doc 3 → every one of doc
    # 3's grams flips unique→shared and its OLD scrub row must be redone
    _drop(landing, "b2.jsonl", [_doc(i) for i in range(11, 16)] + [_doc(31, dup_of=3)])
    stream_document_ingest(spark, landing, corpus, ckpt)

    # the stream already maintained the scrub: manifest is current, so the
    # load below is a pure read (no rebuild)
    spath = gf.scrub_path(corpus, PLAIN)
    assert ix.manifest_is_current(
        ix.read_manifest(spath), ix.corpus_files(corpus, "documents")
    )
    served2 = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, corpus, PLAIN).collect()
    }
    # both the new doc and the retroactively affected old doc fully scrubbed
    assert served2[3][2] == 8 and served2[3][3] == ""
    assert served2[31][2] == 8 and served2[31][3] == ""
    assert served2[4] == served1[4]  # untouched doc unchanged

    os.makedirs(fresh, exist_ok=True)
    shutil.copytree(
        os.path.join(corpus, "documents.parquet"),
        os.path.join(fresh, "documents.parquet"),
    )
    rebuilt = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, fresh, PLAIN).collect()
    }
    assert served2 == rebuilt
