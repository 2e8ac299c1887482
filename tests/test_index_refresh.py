"""Incremental maintenance for the maintained ANN/dedup indexes
(operators/similarity.py refresh_srp_index / refresh_ivf_index,
operators/dedup.py refresh_cluster_index): an append-only ingest must be
absorbed by re-signing ONLY the appended part files, and the refreshed
index must be EXACTLY the table a fresh full build over the grown corpus
would produce.  Non-append changes (rewrites, removals, id-order
violations) are absorbed partition-locally by the per-file maps (SRP,
inverted index, quality histogram: every row is a function of one part
file) and otherwise fall back to the safe full rebuild — never diverge."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators import dedup as dd
from olap_sus_spark.operators import index_store as ix
from olap_sus_spark.operators import similarity as sim
from olap_sus_spark.operators.corpus_view import AUG, PLAIN
from tests.conftest import SF_DIR

pytestmark = pytest.mark.slow  # hour-scale chain/probe suite: opt-in via -m slow (driver verify window, r11)


_DIM = 64  # embeddings dim in the driver testdata


def _mk_corpus(spark, tmp_path, tables=("embeddings",)) -> str:
    """Temp corpus where each table is a DIRECTORY dataset seeded with the
    sf0.001 file as part-00 — the layout appends grow file-by-file."""
    sf = str(tmp_path / "sf")
    for t in tables:
        os.makedirs(os.path.join(sf, f"{t}.parquet"))
        shutil.copy(
            os.path.join(SF_DIR, f"{t}.parquet"),
            os.path.join(sf, f"{t}.parquet", "part-00.parquet"),
        )
    return sf


def _append_embeddings(spark, sf: str, name: str, id_shift: int = 100000) -> None:
    """Simulate one ingest day: derived vectors with ids above the corpus."""
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet", "part-00.parquet"))
    extra = (
        emb.filter(F.col("vec_id") % 5 == 0)
        .withColumn("vec_id", F.col("vec_id") + id_shift)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: (x * F.lit(0.5)).cast("float")),
        )
    )
    _move_single_part(extra, os.path.join(sf, "embeddings.parquet", name))


def _append_documents(spark, sf: str, name: str, id_shift: int = 500000) -> None:
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet", "part-00.parquet"))
    extra = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + id_shift)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 2 == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" novo lote"))
            ),
        )
    )
    _move_single_part(extra, os.path.join(sf, "documents.parquet", name))


def _move_single_part(df, dest: str) -> None:
    staging = dest + ".__stage__"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), dest)
    shutil.rmtree(staging)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _srp_rows(df):
    return sorted(
        (r.vec_id, tuple(r.embedding), r.t, r.bucket) for r in df.collect()
    )


def _ivf_rows(df):
    return sorted(
        (r.vec_id, tuple(r.embedding), r.centroid_id) for r in df.collect()
    )


def _file_ids(part_dir: str) -> dict[str, tuple[int, int]]:
    """{file: (inode, mtime_ns)} of a partition: equal across a refresh
    only if the refresh left the partition's files in place."""
    return {
        e.name: (e.inode(), e.stat().st_mtime_ns)
        for e in os.scandir(part_dir)
        if e.name.endswith(".parquet")
    }


# ---------------------------------------------------------------------------
# SRP


def test_srp_refresh_equals_fresh_build(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)

    _append_embeddings(spark, sf, "part-01.parquet")
    refreshed = sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    got = _srp_rows(refreshed)

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    assert got == _srp_rows(fresh)
    assert len(got) > 500 * 4  # the append is actually in the index


def test_srp_refresh_rewrites_only_new_src_partition(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    path = sim.srp_index_path(sf, _DIM, 4, 4)
    base_part = os.path.join(path, "src=part-00.parquet")
    before = sorted(os.listdir(base_part))
    stamps = {f: os.path.getmtime(os.path.join(base_part, f)) for f in before}

    _append_embeddings(spark, sf, "part-01.parquet")
    sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    # O(ingest) contract: the base partition's files are untouched bytes
    assert sorted(f for f in os.listdir(base_part) if f.endswith(".parquet")) == [
        f for f in before if f.endswith(".parquet")
    ]
    for f, ts in stamps.items():
        if f.endswith(".parquet"):
            assert os.path.getmtime(os.path.join(base_part, f)) == ts
    assert os.path.isdir(os.path.join(path, "src=part-01.parquet"))


def test_srp_refresh_is_idempotent_and_noop_when_unchanged(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    _append_embeddings(spark, sf, "part-01.parquet")
    first = _srp_rows(sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4))
    again = _srp_rows(sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4))
    assert first == again


def test_srp_rewritten_part_file_is_partition_scoped(spark, tmp_path, monkeypatch):
    """An in-place rewrite of one part file re-signs that file only
    (signatures are per-vector) and the result equals a fresh build."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    _append_embeddings(spark, sf, "part-01.parquet")
    sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)

    # rewrite part-01 in place (different derivation)
    _append_embeddings(spark, sf, "part-01.parquet", id_shift=200000)
    got = _srp_rows(sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    assert got == _srp_rows(fresh)


def test_srp_removed_file_drops_only_its_partition(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    _append_embeddings(spark, sf, "part-01.parquet")
    sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    path = sim.srp_index_path(sf, _DIM, 4, 4)
    kept = _file_ids(os.path.join(path, "src=part-00.parquet"))

    os.remove(os.path.join(sf, "embeddings.parquet", "part-01.parquet"))
    got = _srp_rows(sim.refresh_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4))
    assert _file_ids(os.path.join(path, "src=part-00.parquet")) == kept
    assert not os.path.exists(os.path.join(path, "src=part-01.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    assert got == _srp_rows(fresh)
    assert all(r[0] < 100000 for r in got)  # no row of the removed part survives


def test_srp_load_full_rebuilds_when_stale(spark, tmp_path, monkeypatch):
    """Ingesting WITHOUT refresh must trigger the safe full rebuild on the
    next load — a maintained index never silently serves stale rows."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    b1 = sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    n1 = b1.count()
    _append_embeddings(spark, sf, "part-01.parquet")
    b2 = sim.load_or_build_srp_index(spark, sf, dim=_DIM, n_tables=4, n_bits=4)
    assert b2.count() > n1


# ---------------------------------------------------------------------------
# IVF


def test_ivf_refresh_equals_fresh_build(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_ivf_index(spark, sf, num_centroids=8)

    _append_embeddings(spark, sf, "part-01.parquet")
    a, c = sim.refresh_ivf_index(spark, sf, num_centroids=8)
    got_a, got_c = _ivf_rows(a), _rows(c.select("vec_id"))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fa, fc = sim.load_or_build_ivf_index(spark, sf, num_centroids=8)
    assert got_a == _ivf_rows(fa)
    assert got_c == _rows(fc.select("vec_id"))


def test_ivf_refresh_low_id_append_falls_back_to_rebuild(spark, tmp_path, monkeypatch):
    """Appended ids that intrude into the deterministic codebook change the
    centroids themselves — refresh must detect it and full-rebuild."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_ivf_index(spark, sf, num_centroids=8)
    old_max_cent = ix.read_manifest(sim.ivf_index_path(sf, 8))["max_centroid_id"]

    # append vectors BELOW the codebook range (negative ids)
    _append_embeddings(spark, sf, "part-01.parquet", id_shift=-10000)
    a, c = sim.refresh_ivf_index(spark, sf, num_centroids=8)
    got_a = _ivf_rows(a)

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fa, fc = sim.load_or_build_ivf_index(spark, sf, num_centroids=8)
    assert got_a == _ivf_rows(fa)
    # the codebook genuinely changed, so a blind append would have diverged
    assert ix.read_manifest(sim.ivf_index_path(sf, 8))["max_centroid_id"] != old_max_cent


# ---------------------------------------------------------------------------
# Near-dup cluster map


def test_cluster_refresh_equals_fresh_build(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    dd.load_or_build_cluster_index(spark, sf, PLAIN, threshold=0.5)

    _append_documents(spark, sf, "part-01.parquet")
    got = _rows(dd.refresh_cluster_index(spark, sf, PLAIN, threshold=0.5))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = dd.load_or_build_cluster_index(spark, sf, PLAIN, threshold=0.5)
    assert got == _rows(fresh)
    # the appended docs actually clustered: exact copies of part-00 docs
    # (doc_id%3==0, even shifted id) must join their source's cluster
    joined = [r for r in got if r[0] >= 500000 and r[1] < 500000]
    assert joined, "no appended doc joined an existing cluster"


def test_cluster_refresh_touches_only_new_partitions(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    dd.load_or_build_cluster_index(spark, sf, PLAIN, threshold=0.5)
    path = dd.cluster_index_path(sf, PLAIN, 0.5)
    base = os.path.join(path, "clusters", "src=part-00.parquet")
    stamps = {
        f: os.path.getmtime(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
    }
    _append_documents(spark, sf, "part-01.parquet")
    dd.refresh_cluster_index(spark, sf, PLAIN, threshold=0.5)
    for f, ts in stamps.items():
        assert os.path.getmtime(os.path.join(base, f)) == ts
    assert os.path.isdir(os.path.join(path, "clusters", "src=part-01.parquet"))


def test_cluster_refresh_id_order_violation_falls_back(spark, tmp_path, monkeypatch):
    """Appends that interleave below existing ids (the augmented view's
    derived ids do exactly this) could displace hubs — the guard must full
    rebuild, and the result must still equal a fresh build."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    dd.load_or_build_cluster_index(spark, sf, PLAIN, threshold=0.5)

    _append_documents(spark, sf, "part-01.parquet", id_shift=-100000)
    got = _rows(dd.refresh_cluster_index(spark, sf, PLAIN, threshold=0.5))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = dd.load_or_build_cluster_index(spark, sf, PLAIN, threshold=0.5)
    assert got == _rows(fresh)


def test_cluster_refresh_augmented_view_stays_correct(spark, tmp_path, monkeypatch):
    """The serving view (corpus_view.AUG) has interleaved derived ids;
    refresh over it must stay CORRECT (fallback path)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    dd.load_or_build_cluster_index(spark, sf, AUG, threshold=0.5)
    _append_documents(spark, sf, "part-01.parquet")
    got = _rows(dd.refresh_cluster_index(spark, sf, AUG, threshold=0.5))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = dd.load_or_build_cluster_index(spark, sf, AUG, threshold=0.5)
    assert got == _rows(fresh)


# ---------------------------------------------------------------------------
# Inverted index (BM25 postings)


def _inv_rows(postings, doc_stats):
    return (
        sorted(tuple(r) for r in postings.collect()),
        sorted(tuple(r) for r in doc_stats.collect()),
    )


def test_inverted_refresh_equals_fresh_build(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    inv.load_or_build_inverted_index(spark, sf)

    _append_documents(spark, sf, "part-01.parquet")
    got = _inv_rows(*inv.refresh_inverted_index(spark, sf))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _inv_rows(*inv.load_or_build_inverted_index(spark, sf))
    assert got == fresh
    assert len(got[1]) == 2  # one stat partial per src part file


def test_inverted_refresh_rewrites_only_new_src_partition(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    inv.load_or_build_inverted_index(spark, sf)
    path = inv.inverted_index_path(sf)
    base = os.path.join(path, "postings", "src=part-00.parquet")
    stamps = {
        f: os.path.getmtime(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
    }
    _append_documents(spark, sf, "part-01.parquet")
    inv.refresh_inverted_index(spark, sf)
    for f, ts in stamps.items():
        assert os.path.getmtime(os.path.join(base, f)) == ts
    assert os.path.isdir(os.path.join(path, "postings", "src=part-01.parquet"))
    assert os.path.isdir(os.path.join(path, "docs", "src=part-01.parquet"))


def test_inverted_refresh_is_idempotent(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    inv.load_or_build_inverted_index(spark, sf)
    _append_documents(spark, sf, "part-01.parquet")
    first = _inv_rows(*inv.refresh_inverted_index(spark, sf))
    again = _inv_rows(*inv.refresh_inverted_index(spark, sf))
    assert first == again


def test_inverted_removed_file_drops_only_its_partitions(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    inv.load_or_build_inverted_index(spark, sf)
    path = inv.inverted_index_path(sf)
    parts = {c: os.path.join(path, c, "src=part-00.parquet") for c in ("postings", "docs")}
    kept = {c: _file_ids(d) for c, d in parts.items()}

    os.remove(os.path.join(sf, "documents.parquet", "part-01.parquet"))
    got = _inv_rows(*inv.refresh_inverted_index(spark, sf))
    for c, ids in kept.items():  # the untouched partition is not rewritten
        assert _file_ids(parts[c]) == ids
        assert not os.path.exists(os.path.join(path, c, "src=part-01.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _inv_rows(*inv.load_or_build_inverted_index(spark, sf))
    assert got == fresh
    # no orphan rows from the removed part survive
    assert not any("novo lote" in str(r) for r in got[0])


def test_inverted_load_full_rebuilds_when_stale(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    p1, _ = inv.load_or_build_inverted_index(spark, sf)
    n1 = p1.count()
    _append_documents(spark, sf, "part-01.parquet")
    p2, d2 = inv.load_or_build_inverted_index(spark, sf)
    assert p2.count() > n1
    assert d2.count() == 2


# ---------------------------------------------------------------------------
# Gram-frequency partials (operators/gramfreq.py — the maintained table
# behind dedup_cross_doc_scrub_served).
# ---------------------------------------------------------------------------
def test_gramfreq_refresh_equals_fresh_build(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_freq(spark, sf)

    _append_documents(spark, sf, "part-01.parquet")
    got = _rows(gf.refresh_gram_freq(spark, sf))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_freq(spark, sf))
    assert got == fresh and len(got) > 0


def test_gramfreq_refresh_rewrites_only_new_src_partition(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_freq(spark, sf)
    path = gf.gram_freq_path(sf)
    base = os.path.join(path, "grams", "src=part-00.parquet")
    stamps = {
        f: os.path.getmtime(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
    }
    _append_documents(spark, sf, "part-01.parquet")
    gf.refresh_gram_freq(spark, sf)
    for f, ts in stamps.items():
        assert os.path.getmtime(os.path.join(base, f)) == ts
    assert os.path.isdir(os.path.join(path, "grams", "src=part-01.parquet"))


def test_gramfreq_removed_file_falls_back_to_rebuild(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    gf.load_or_build_gram_freq(spark, sf)

    os.remove(os.path.join(sf, "documents.parquet", "part-01.parquet"))
    got = _rows(gf.refresh_gram_freq(spark, sf))
    srcs = {
        d
        for d in os.listdir(os.path.join(gf.gram_freq_path(sf), "grams"))
        if d.startswith("src=")
    }
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_freq(spark, sf))
    assert got == fresh
    assert srcs == {"src=part-00.parquet"}  # no orphan partition survives


def test_gramfreq_shared_grams_match_recomputed(spark, tmp_path, monkeypatch):
    """The served >=2 cut equals the from-scratch global distinct-doc
    frequency cut over the same augmented corpus."""
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import text as tx
    from olap_sus_spark.queries.text_pipeline import _augment, _CROSS_NGRAM_N

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    served = sorted(r[0] for r in gf.shared_grams(spark, sf).collect())

    docs = _augment(spark.read.parquet(os.path.join(sf, "documents.parquet")))
    dg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.sliding_concat(tx.tokens(F.col("text")), _CROSS_NGRAM_N),
                    tx.md5_int,
                )
            )
        ).alias("gram"),
    )
    recomputed = sorted(
        r[0]
        for r in dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gram")
        .collect()
    )
    assert served == recomputed and len(served) > 0


def _rewrite_with_short_docs(spark, sf: str, name: str) -> None:
    """Rewrite one corpus part file IN PLACE so every surviving doc has
    <5 tokens — the ADVICE r08 RTBF shape: the file still exists (manifest
    sees 'changed', not 'removed') but its re-gram yields ZERO rows."""
    import time

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet", name))
    shrunk = docs.limit(3).withColumn("text", F.lit("too short now"))
    _move_single_part(shrunk, os.path.join(sf, "documents.parquet", name))
    # ensure the mtime_ns identity actually moves even on coarse clocks
    now = time.time() + 2
    os.utime(os.path.join(sf, "documents.parquet", name), (now, now))


def test_gramfreq_zero_gram_rewrite_drops_stale_partition(spark, tmp_path, monkeypatch):
    """ADVICE r08 (medium): a changed file whose re-gram yields zero rows
    must not keep serving its old src= partition — refresh drops it and
    the served table equals a fresh rebuild over the rewritten corpus."""
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    gf.load_or_build_gram_freq(spark, sf)
    path = gf.gram_freq_path(sf)
    assert os.path.isdir(os.path.join(path, "grams", "src=part-01.parquet"))

    _rewrite_with_short_docs(spark, sf, "part-01.parquet")
    got = _rows(gf.refresh_gram_freq(spark, sf))
    assert not os.path.isdir(os.path.join(path, "grams", "src=part-01.parquet"))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_freq(spark, sf))
    assert got == fresh and len(got) > 0


def test_gramfreq_all_partitions_dropped_serves_empty(spark, tmp_path, monkeypatch):
    """Degenerate RTBF: every source re-grams to zero rows — the index
    serves a valid EMPTY frame, not a read error."""
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_freq(spark, sf)
    _rewrite_with_short_docs(spark, sf, "part-00.parquet")
    assert gf.refresh_gram_freq(spark, sf).count() == 0
    assert gf.shared_grams(spark, sf).count() == 0


def test_inverted_zero_row_rewrite_drops_stale_partitions(spark, tmp_path, monkeypatch):
    """Same latent pattern in the inverted index: a changed file whose
    docs all vanish (empty frame after rewrite) must drop BOTH component
    partitions on refresh."""
    import olap_sus_spark.operators.inverted as inv

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    inv.load_or_build_inverted_index(spark, sf)
    path = inv.inverted_index_path(sf)
    for comp in ("postings", "docs"):
        assert os.path.isdir(os.path.join(path, comp, "src=part-01.parquet"))

    # rewrite part-01 to zero rows (all its docs RTBF-purged)
    import time

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet", "part-01.parquet"))
    _move_single_part(
        docs.limit(0), os.path.join(sf, "documents.parquet", "part-01.parquet")
    )
    now = time.time() + 2
    os.utime(
        os.path.join(sf, "documents.parquet", "part-01.parquet"), (now, now)
    )
    p, d = inv.refresh_inverted_index(spark, sf)
    for comp in ("postings", "docs"):
        assert not os.path.isdir(os.path.join(path, comp, "src=part-01.parquet"))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fp, fd = inv.load_or_build_inverted_index(spark, sf)
    assert _rows(p) == _rows(fp) and _rows(d) == _rows(fd)


def test_gramfreq_view_tag_separates_indexes(spark, tmp_path, monkeypatch):
    """ADVICE r08 (low): the augmented query view and a plain caller view
    never share an index directory, and relative vs absolute sf_dir hit
    the same one."""
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    assert gf.gram_freq_path(sf) != gf.gram_freq_path(sf, PLAIN)
    rel = os.path.relpath(sf)
    assert gf.gram_freq_path(rel) == gf.gram_freq_path(sf)

    # building both views over one corpus dir keeps them independent:
    # plain has strictly fewer shared grams (no augmented duplicates)
    aug = {r[0] for r in gf.shared_grams(spark, sf).collect()}
    plain = {r[0] for r in gf.shared_grams(spark, sf, PLAIN).collect()}
    assert len(aug) > len(plain)
    # and re-serving the aug view after the plain build still folds the
    # augmented partials (no silent cross-view reuse)
    assert {r[0] for r in gf.shared_grams(spark, sf).collect()} == aug


# ---------------------------------------------------------------------------
# Doc-locality runtime guard (r9): the per-src fold is only exact when
# doc_id is unique across corpus rows; the index must PROVE that (footer
# ranges / exact check) instead of assuming it, and degrade to the
# globally-deduplicated single-partition build when it fails.
# ---------------------------------------------------------------------------
def test_gramfreq_duplicate_doc_id_degrades_and_stays_correct(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    # violate the invariant: part-01 is a byte-copy of part-00 (every
    # doc_id now lives in TWO part files)
    shutil.copy(
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
        os.path.join(sf, "documents.parquet", "part-01.parquet"),
    )
    gf.load_or_build_gram_freq(spark, sf, PLAIN)
    path = gf.gram_freq_path(sf, PLAIN)
    assert os.path.isdir(os.path.join(path, "grams", "src=__degraded__"))
    assert ix.read_manifest(path)["degraded"] is True

    # served >=2 cut == from-scratch DISTINCT-doc frequency (a dup row of
    # the same doc_id is the same document, not a second occurrence)
    from olap_sus_spark.operators import text as tx
    from olap_sus_spark.queries.text_pipeline import _CROSS_NGRAM_N

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    dg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.sliding_concat(tx.tokens(F.col("text")), _CROSS_NGRAM_N),
                    tx.md5_int,
                )
            )
        ).alias("gram"),
    )
    truth = {
        r[0]
        for r in dg.distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gram")
        .collect()
    }
    served = {r[0] for r in gf.shared_grams(spark, sf, PLAIN).collect()}
    assert served == truth
    # and the naive per-ROW fold WOULD have been wrong (every gram appears
    # in 2 rows) — the guard is load-bearing, not decorative
    per_row = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    assert per_row.filter(F.col("n") >= 2).count() > len(truth)


def test_gramfreq_overlapping_append_falls_back_on_refresh(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_freq(spark, sf, PLAIN)
    path = gf.gram_freq_path(sf, PLAIN)
    man = ix.read_manifest(path)
    assert man["degraded"] is False and "part-00.parquet" in man["doc_ranges"]

    # invariant-violating append: id range overlaps the signed file
    shutil.copy(
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
        os.path.join(sf, "documents.parquet", "part-01.parquet"),
    )
    got = _rows(gf.refresh_gram_freq(spark, sf, PLAIN))
    assert os.path.isdir(os.path.join(path, "grams", "src=__degraded__"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_freq(spark, sf, PLAIN))
    assert got == fresh and len(got) > 0


def test_gramfreq_clean_append_keeps_fast_path_and_stamps_ranges(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_freq(spark, sf)
    _append_documents(spark, sf, "part-01.parquet")
    gf.refresh_gram_freq(spark, sf)
    man = ix.read_manifest(gf.gram_freq_path(sf))
    assert man["degraded"] is False
    assert set(man["doc_ranges"]) == {"part-00.parquet", "part-01.parquet"}
    for lo, hi in man["doc_ranges"].values():
        assert lo <= hi


def test_gramfreq_view_offsets_match_augment(spark):
    """Pin AUG.offsets to the view's own id derivation — a drifted offset
    would silently weaken the range guard."""
    base = spark.createDataFrame(
        [(i, "w%d" % i) for i in range(0, 100)], "doc_id long, text string"
    )
    out_ids = {r[0] for r in AUG.transform(base).select("doc_id").collect()}
    allowed = {i + o for i in range(0, 100) for o in AUG.offsets}
    assert out_ids <= allowed
    # every non-zero offset is actually exercised
    for o in AUG.offsets:
        assert any(i + o in out_ids for i in range(0, 100))


# ---------------------------------------------------------------------------
# Second-level gram rollup (r9): maintained global (gram, n_docs) + >=2
# cut, merged additively on append, re-folded on rewrite/degrade.
# ---------------------------------------------------------------------------
def test_gram_rollup_append_merges_and_equals_rebuild(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    gf.load_or_build_gram_rollup(spark, sf)
    gbase = os.path.join(gf.gram_freq_path(sf), "grams", "src=part-00.parquet")
    stamps = {
        f: os.path.getmtime(os.path.join(gbase, f))
        for f in os.listdir(gbase)
        if f.endswith(".parquet")
    }

    _append_documents(spark, sf, "part-01.parquet")
    got = _rows(gf.refresh_gram_rollup(spark, sf))

    # merge path: the signed partials partition was NOT re-grammed
    for f, ts in stamps.items():
        assert os.path.getmtime(os.path.join(gbase, f)) == ts

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_rollup(spark, sf))
    assert got == fresh and len(got) > 0

    # the served cut == the fold-the-partials fallback == rollup filter
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    cut = sorted(r[0] for r in gf.shared_grams_cut(spark, sf).collect())
    fold = sorted(r[0] for r in gf.shared_grams(spark, sf).collect())
    assert cut == fold == sorted(g for g, n in got if n >= 2)


def test_gram_rollup_rewrite_refolds_and_equals_rebuild(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    _append_documents(spark, sf, "part-01.parquet")
    gf.load_or_build_gram_rollup(spark, sf)

    _rewrite_with_short_docs(spark, sf, "part-01.parquet")
    got = _rows(gf.refresh_gram_rollup(spark, sf))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_rollup(spark, sf))
    assert got == fresh and len(got) > 0


def test_gram_rollup_degraded_partials_stay_correct(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    before = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
    # invariant-violating append → refresh must land on the degraded
    # re-fold, and the rollup equals the distinct-doc truth
    shutil.copy(
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
        os.path.join(sf, "documents.parquet", "part-01.parquet"),
    )
    got = _rows(gf.refresh_gram_rollup(spark, sf, PLAIN))
    assert ix.read_manifest(gf.rollup_path(sf, PLAIN))["degraded"] is True
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
    assert got == fresh
    # byte-copied rows are the SAME docs: distinct-doc counts unchanged
    # (the naive per-row fold would have doubled every n_docs)
    assert got == before


# ---------------------------------------------------------------------------
# Ingest-incremental scrub (r9): maintained per-src scrub output with
# retroactive unique→shared flip handling.
# ---------------------------------------------------------------------------
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_doc_part(spark, sf: str, name: str, rows: list[tuple[int, str]]) -> None:
    df = spark.createDataFrame(
        [(i, t, "pt", "unit", len(t)) for i, t in rows], _DOC_SCHEMA
    )
    os.makedirs(os.path.join(sf, "documents.parquet"), exist_ok=True)
    _move_single_part(df, os.path.join(sf, "documents.parquet", name))


def _scrub_part_mtimes(path: str, src: str) -> dict[str, float]:
    d = os.path.join(path, "docs", f"src={src}")
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_gram_scrub_retroactive_flip_rescrubs_old_file(spark, tmp_path, monkeypatch):
    """The VERDICT r08 'done' bar: an appended batch flips an old doc's
    gram from unique to shared — BOTH the new doc and the retroactively
    affected old doc come out identical to a full rebuild, and the
    unaffected file's partition is untouched."""
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "corpus")
    _write_doc_part(
        spark, sf, "part-00.parquet",
        [(1, "a b c d e f"), (2, "g h i j k")],
    )
    _write_doc_part(
        spark, sf, "part-zz.parquet",
        [(200, "q r s t u v"), (201, "m n o p qq rr")],
    )
    base = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, sf, PLAIN).collect()
    }
    # no shared grams yet: nothing scrubbed anywhere
    assert all(r[2] == 0 for r in base.values())
    path = gf.scrub_path(sf, PLAIN)
    zz_before = _scrub_part_mtimes(path, "part-zz.parquet")

    # append: doc 10 shares the 5-gram "a b c d e" with OLD doc 1 (flip)
    _write_doc_part(
        spark, sf, "part-01.parquet",
        [(10, "x y a b c d e w"), (11, "zz1 zz2 zz3 zz4 zz5")],
    )
    got = {
        r[0]: tuple(r)
        for r in gf.refresh_gram_scrub(spark, sf, PLAIN).collect()
    }

    # the new doc AND the retroactively affected old doc are scrubbed
    assert got[1][2] == 5 and got[1][3] == "f"          # old doc re-scrubbed
    assert got[10][2] == 5 and got[10][3] == "x y w"    # new doc scrubbed
    assert got[2] == base[2] and got[200] == base[200]  # untouched docs
    # unaffected file's partition bytes untouched (partition-scoped claim)
    assert _scrub_part_mtimes(path, "part-zz.parquet") == zz_before

    # equality with a full rebuild over the grown corpus
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, sf, PLAIN).collect()
    }
    assert got == fresh


def test_gram_scrub_no_flip_append_touches_only_new_partition(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "corpus")
    _write_doc_part(
        spark, sf, "part-00.parquet",
        [(1, "a b c d e f"), (2, "g h i j k")],
    )
    gf.load_or_build_gram_scrub(spark, sf, PLAIN)
    path = gf.scrub_path(sf, PLAIN)
    before = _scrub_part_mtimes(path, "part-00.parquet")

    _write_doc_part(
        spark, sf, "part-01.parquet",
        [(10, "p1 p2 p3 p4 p5 p6"), (11, "p1 p2 p3 p4 p5 p7")],
    )
    got = {
        r[0]: tuple(r)
        for r in gf.refresh_gram_scrub(spark, sf, PLAIN).collect()
    }
    # intra-batch duplicate gram scrubbed, old file untouched on disk
    assert got[10][2] == 5 and got[11][2] == 5
    assert got[1][2] == 0
    assert _scrub_part_mtimes(path, "part-00.parquet") == before
    assert os.path.isdir(os.path.join(path, "docs", "src=part-01.parquet"))

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, sf, PLAIN).collect()
    }
    assert got == fresh


def test_gram_scrub_rewrite_and_degraded_fall_back(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "corpus")
    _write_doc_part(
        spark, sf, "part-00.parquet",
        [(1, "a b c d e f"), (2, "a b c d e g")],
    )
    gf.load_or_build_gram_scrub(spark, sf, PLAIN)

    # in-place rewrite (RTBF shape) → full rebuild, still exact
    _write_doc_part(spark, sf, "part-00.parquet", [(1, "a b c d e f")])
    import time

    now = time.time() + 2
    os.utime(os.path.join(sf, "documents.parquet", "part-00.parquet"), (now, now))
    got = _rows(gf.refresh_gram_scrub(spark, sf, PLAIN))
    assert [r[2] for r in got] == [0]  # partner doc gone: nothing shared

    # doc-locality violation → degraded single-pass scrub, still exact
    shutil.copy(
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
        os.path.join(sf, "documents.parquet", "part-01.parquet"),
    )
    got2 = _rows(gf.refresh_gram_scrub(spark, sf, PLAIN))
    path = gf.scrub_path(sf, PLAIN)
    assert os.path.isdir(os.path.join(path, "docs", "src=__degraded__"))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_scrub(spark, sf, PLAIN))
    assert got2 == fresh


def test_gram_scrub_purge_unscrubs_retroactively(spark, tmp_path, monkeypatch):
    """RTBF → scrub output (r9): purging the only partner doc of a shared
    gram flips it shared→unique; the surviving doc's scrub partition is
    re-emitted with its tokens RESTORED, the purged file's zero-row
    partition is dropped, unaffected partitions keep their bytes, and the
    whole table equals a full rebuild over the purged corpus."""
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import purge as pg

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "corpus")
    _write_doc_part(spark, sf, "part-00.parquet", [(1, "a b c d e f")])
    _write_doc_part(spark, sf, "part-01.parquet", [(10, "a b c d e g")])
    _write_doc_part(spark, sf, "part-zz.parquet", [(200, "q r s t u v")])
    base = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, sf, PLAIN).collect()
    }
    assert base[1][2] == 5 and base[10][2] == 5  # the shared gram scrubbed
    path = gf.scrub_path(sf, PLAIN)
    zz_before = _scrub_part_mtimes(path, "part-zz.parquet")

    assert pg.purge_table_ids(spark, sf, "documents", "doc_id", [10]) == 1
    got = {
        r[0]: tuple(r)
        for r in gf.refresh_gram_scrub(spark, sf, PLAIN).collect()
    }
    assert set(got) == {1, 200}
    assert got[1][2] == 0 and got[1][3] == "a b c d e f"  # tokens RESTORED
    assert got[200] == base[200]
    assert not os.path.isdir(os.path.join(path, "docs", "src=part-01.parquet"))
    assert _scrub_part_mtimes(path, "part-zz.parquet") == zz_before

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = {
        r[0]: tuple(r)
        for r in gf.load_or_build_gram_scrub(spark, sf, PLAIN).collect()
    }
    assert got == fresh


def test_gram_rollup_purge_delta_merge_equals_rebuild(spark, tmp_path, monkeypatch):
    """RTBF → rollup (r9): a purge rewrite delta-merges (old − captured
    old partials + new partials) instead of re-folding; result equals a
    fresh rebuild and the purged doc's grams leave the cut."""
    from olap_sus_spark.operators import gramfreq as gf
    from olap_sus_spark.operators import purge as pg

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "corpus")
    _write_doc_part(spark, sf, "part-00.parquet", [(1, "a b c d e f")])
    _write_doc_part(
        spark, sf, "part-01.parquet", [(10, "a b c d e g"), (11, "h i j k l m")]
    )
    gf.load_or_build_gram_rollup(spark, sf, PLAIN)
    assert gf.shared_grams_cut(spark, sf, PLAIN).count() == 1

    assert pg.purge_table_ids(spark, sf, "documents", "doc_id", [10]) == 1
    got = _rows(gf.refresh_gram_rollup(spark, sf, PLAIN))
    assert gf.shared_grams_cut(spark, sf, PLAIN).count() == 0

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
    assert got == fresh and len(got) > 0


# ---------------------------------------------------------------------------
# Semantic-dedup index (SemDeDup verdict table, similarity.py)
# ---------------------------------------------------------------------------


def _append_embeddings_small(spark, sf: str, name: str, id_shift: int = 100000) -> None:
    """A 10-vector ingest: small enough that ceil(n/64) — the auto-sized
    codebook width — is unchanged, so a fresh build over the grown corpus
    picks the SAME codebook and refresh==rebuild holds exactly."""
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet", "part-00.parquet"))
    extra = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .withColumn("vec_id", F.col("vec_id") + id_shift)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: (x * F.lit(0.9)).cast("float")),
        )
    )
    _move_single_part(extra, os.path.join(sf, "embeddings.parquet", name))


def _sem_rows(df):
    return sorted(
        (r.vec_id, r.centroid_id, r.is_kept, r.dup_of, r.dup_cosine)
        for r in df.collect()
    )


def test_semantic_refresh_equals_pinned_codebook_rebuild(spark, tmp_path, monkeypatch):
    """The semantic family's maintained contract is EPOCH-PINNED (unlike
    SRP/IVF, whose codebooks are corpus-independent): a refresh must land
    exactly where a from-scratch dedup over the grown corpus UNDER THE
    BUILT CODEBOOK lands.  A plain fresh build would re-train the Lloyd
    round on the grown corpus and legitimately re-cluster — that is the
    scheduled-rebuild path, exercised by the interleave test below."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_semantic_index(spark, sf)
    cb = spark.read.parquet(
        os.path.join(sim.semantic_index_path(sf, 64, 0.3), "codebook")
    ).localCheckpoint(eager=True)

    _append_embeddings_small(spark, sf, "part-01.parquet")
    got = _sem_rows(sim.refresh_semantic_index(spark, sf))

    full = load_table(spark, sf, "embeddings")
    expected = _sem_rows(
        sim.semantic_dedup(sim.semantic_cells(full, codebook=cb), threshold=0.3)
    )
    assert got == expected
    assert len(got) == 510  # the append is actually in the verdicts


def test_semantic_refresh_rewrites_only_new_src_partition(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_semantic_index(spark, sf)
    path = sim.semantic_index_path(sf, 64, 0.3)
    base_part = os.path.join(path, "verdicts", "src=part-00.parquet")
    before = sorted(os.listdir(base_part))
    stamps = {f: os.path.getmtime(os.path.join(base_part, f)) for f in before}

    _append_embeddings_small(spark, sf, "part-01.parquet")
    sim.refresh_semantic_index(spark, sf)
    # old verdicts are provably append-stable → untouched bytes
    for f, ts in stamps.items():
        if f.endswith(".parquet"):
            assert os.path.getmtime(os.path.join(base_part, f)) == ts
    assert os.path.isdir(os.path.join(path, "verdicts", "src=part-01.parquet"))
    assert os.path.isdir(os.path.join(path, "assignments", "src=part-01.parquet"))


def test_semantic_refresh_interleaved_ids_fall_back_to_rebuild(spark, tmp_path, monkeypatch):
    """An append whose ids interleave below the existing max could hand an
    EXISTING vector a new smaller-id cell-mate (flipping its verdict) —
    the refresh must detect it and take the full rebuild, landing exactly
    where a fresh build lands.  Base corpus = even ids only; the append
    fills in odd ids (all BELOW the existing max)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    os.makedirs(os.path.join(sf, "embeddings.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    _move_single_part(
        emb.filter(F.col("vec_id") % 2 == 0),
        os.path.join(sf, "embeddings.parquet", "part-00.parquet"),
    )
    sim.load_or_build_semantic_index(spark, sf)

    _move_single_part(
        emb.filter(F.col("vec_id") % 2 == 1).filter(F.col("vec_id") < 100),
        os.path.join(sf, "embeddings.parquet", "part-01.parquet"),
    )
    got = _sem_rows(sim.refresh_semantic_index(spark, sf))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _sem_rows(sim.load_or_build_semantic_index(spark, sf))
    assert got == fresh


def test_semantic_refresh_is_idempotent(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_semantic_index(spark, sf)
    _append_embeddings_small(spark, sf, "part-01.parquet")
    first = _sem_rows(sim.refresh_semantic_index(spark, sf))
    again = _sem_rows(sim.refresh_semantic_index(spark, sf))
    assert first == again


def test_semantic_purge_refresh_equals_pinned_rebuild(spark, tmp_path, monkeypatch):
    """RTBF: purge vectors (including one that other rows cite as their
    dup_of) — the O(affected) refresh must land exactly where a
    from-scratch dedup over the purged corpus UNDER THE BUILT CODEBOOK
    lands: purged rows gone, orphans re-pointed to their next-best
    surviving mate or flipped to kept."""
    from olap_sus_spark.operators import purge as pg

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    built = sim.load_or_build_semantic_index(spark, sf)
    cb = spark.read.parquet(
        os.path.join(sim.semantic_index_path(sf, 64, 0.3), "codebook")
    ).localCheckpoint(eager=True)

    # purge two cited dup_of targets + one bystander — guarantees orphans
    cited = [
        r.dup_of
        for r in built.filter(F.col("is_kept") == 0).select("dup_of").distinct().limit(2).collect()
    ]
    ids = sorted(set(cited + [499]))
    removed = pg.purge_table_ids(spark, sf, "embeddings", "vec_id", ids)
    assert removed == len(ids)

    got = _sem_rows(sim.refresh_semantic_index(spark, sf))
    assert len(got) == 500 - len(ids)

    full = load_table(spark, sf, "embeddings")
    expected = _sem_rows(
        sim.semantic_dedup(sim.semantic_cells(full, codebook=cb), threshold=0.3)
    )
    assert got == expected


def test_semantic_mutated_file_falls_back_to_rebuild(spark, tmp_path, monkeypatch):
    """An in-place REWRITE (vectors changed, not removed) is not a purge —
    the refresh must detect the mutation and take the full rebuild,
    landing exactly where a fresh build lands."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    sim.load_or_build_semantic_index(spark, sf)

    p0 = os.path.join(sf, "embeddings.parquet", "part-00.parquet")
    emb = spark.read.parquet(p0).localCheckpoint(eager=True)
    mutated = emb.withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: (x * F.lit(1.1)).cast("float")),
    )
    _move_single_part(mutated, p0)

    got = _sem_rows(sim.refresh_semantic_index(spark, sf))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _sem_rows(sim.load_or_build_semantic_index(spark, sf))
    assert got == fresh


# ---------------------------------------------------------------------------
# Per-source quality histogram (operators/qualhist.py)
# ---------------------------------------------------------------------------


def _qh_rows(df):
    return sorted((r.src, r.source, r.q_bin, r.cnt) for r in df.collect())


def test_quality_hist_refresh_covers_append_rewrite_and_removal(spark, tmp_path, monkeypatch):
    """The histogram is additive per part file, so EVERY maintenance case
    is partition-local — append, in-place rewrite, and removal must each
    land exactly where a fresh build over the current corpus lands,
    without any full-rebuild fallback."""
    from olap_sus_spark.operators import qualhist as qh

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    qh.load_or_build_quality_hist(spark, sf)

    def fresh(tag):
        monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / f"idx_{tag}"))
        rows = _qh_rows(qh.load_or_build_quality_hist(spark, sf))
        monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
        return rows

    # append
    _append_documents(spark, sf, "part-01.parquet")
    assert _qh_rows(qh.refresh_quality_hist(spark, sf)) == fresh("a")

    # in-place rewrite (different content, same file name)
    _append_documents(spark, sf, "part-01.parquet", id_shift=900000)
    assert _qh_rows(qh.refresh_quality_hist(spark, sf)) == fresh("b")

    # removal
    os.remove(os.path.join(sf, "documents.parquet", "part-01.parquet"))
    got = _qh_rows(qh.refresh_quality_hist(spark, sf))
    assert got == fresh("c")
    assert {r[0] for r in got} == {"part-00.parquet"}

    # idempotent no-op
    assert _qh_rows(qh.refresh_quality_hist(spark, sf)) == got


def test_quality_hist_partition_scoped_refresh(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import qualhist as qh

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path, tables=("documents",))
    qh.load_or_build_quality_hist(spark, sf)
    base_part = os.path.join(qh.quality_hist_path(sf), "src=part-00.parquet")
    stamps = {
        f: os.path.getmtime(os.path.join(base_part, f))
        for f in os.listdir(base_part)
    }

    _append_documents(spark, sf, "part-01.parquet")
    qh.refresh_quality_hist(spark, sf)
    for f, ts in stamps.items():
        if f.endswith(".parquet"):
            assert os.path.getmtime(os.path.join(base_part, f)) == ts
    assert os.path.isdir(
        os.path.join(qh.quality_hist_path(sf), "src=part-01.parquet")
    )
