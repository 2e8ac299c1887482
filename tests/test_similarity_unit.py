"""Unit tests for operators/similarity.py helpers that must stay
engine-portable (auto_bits is computed Python-side at index build and
relationally inside the DuckDB oracle — the two must agree for EVERY corpus
size, including the power-of-two boundaries where a float log2 could flip)."""

import duckdb
import pytest

from olap_sus_spark.operators.similarity import auto_bits


def test_auto_bits_boundaries():
    # floor: tiny corpora stay at 4 bits
    assert auto_bits(0) == 4
    assert auto_bits(1) == 4
    assert auto_bits(256) == 4
    assert auto_bits(4096) == 4  # ceil(4096/256)=16 -> 4 bits exactly
    # exact power-of-two edges must not flip by a ulp
    assert auto_bits(4097) == 5
    assert auto_bits(8192) == 5
    assert auto_bits(8193) == 6
    assert auto_bits(200_000) == 10
    assert auto_bits(10**9) == 22


@pytest.mark.parametrize("n", [0, 1, 255, 256, 257, 4095, 4096, 4097,
                               65536, 65537, 200_000, 10**6, 10**9])
def test_auto_bits_matches_oracle_ladder(n):
    """The DuckDB nb-CTE formulation in queries/vector.py must produce the
    identical bit count (both sides: smallest h with 2^h >= ceil(N/256),
    floored at 4 — pure integer arithmetic, no libm)."""
    got = duckdb.sql(
        f"""
        SELECT GREATEST(4, MIN(h.h)) AS b
        FROM range(0, 23) h(h)
        WHERE (CAST(1 AS BIGINT) << h.h) >= ({n} + 255) // 256
        """
    ).fetchone()[0]
    assert got == auto_bits(n)


def test_semantic_dedup_verdicts_self_consistent(spark):
    """Every DROPPED vector must re-verify against its recorded dup_of:
    same cell, smaller id, exact cosine >= the threshold and equal to the
    recorded dup_cosine; every KEPT vector must carry the sentinels.  This
    re-derives the claim from the raw vectors, independent of the oracle."""
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cells = sim.semantic_cells(emb, cell_target=64)
    out = sim.semantic_dedup(cells, threshold=0.3)

    kept_bad = out.filter(
        (F.col("is_kept") == 1)
        & ((F.col("dup_of") != -1) | (F.col("dup_cosine") != -2.0))
    ).count()
    assert kept_bad == 0

    dropped = out.filter(F.col("is_kept") == 0).select(
        "vec_id", "dup_of", "dup_cosine", F.col("centroid_id").alias("b_cell")
    )
    assert dropped.count() > 0  # the corpus has near-dups at tau=0.3
    va = cells.select(
        F.col("vec_id").alias("dup_of"),
        F.col("v").alias("av"),
        F.col("centroid_id").alias("a_cell"),
    )
    vb = cells.select("vec_id", F.col("v").alias("bv"))
    joined = dropped.join(va, "dup_of").join(vb, "vec_id").select(
        "vec_id", "dup_of", "dup_cosine", "a_cell", "b_cell",
        sim.cosine(F.col("av"), F.col("bv")).alias("re_cos"),
    )
    bad = joined.filter(
        (F.col("a_cell") != F.col("b_cell"))
        | (F.col("dup_of") >= F.col("vec_id"))
        | (F.col("re_cos") < 0.3)
        | (F.col("re_cos") != F.col("dup_cosine"))
    ).count()
    assert bad == 0


def test_semantic_cells_autosize_k():
    """k follows ceil(n/cell_target) with the floor — the scale lever that
    keeps within-cell pair expansion linear."""
    import math

    for n, want in [(0, 8), (500, 8), (512, 8), (513, 9), (50_000, 782)]:
        k = max(8, math.ceil(n / 64.0))
        assert k == want


def _with_vector(spark, emb, vec):
    """``emb`` plus one row holding ``vec`` under an id past the largest, so
    it never seeds a smallest-id codebook; returns (frame, that id)."""
    from pyspark.sql import functions as F

    new_id = emb.agg(F.max("vec_id")).first()[0] + 1
    return emb.unionByName(spark.createDataFrame([(new_id, vec, 0)], emb.schema)), new_id


@pytest.mark.parametrize("k", [1, 16, 64, 65, 100])
def test_assign_centroids_chunked_equals_crossjoin(spark, k):
    """Every codebook size across the 64-centroid chunk boundary (one
    chunk, exactly one full chunk, one centroid past it, two chunks) must
    reproduce the crossJoin + window formulation bit-for-bit (max cosine,
    smallest-id tie-break) — the shuffle-free replacement for the n×k row
    blow-up the x100 semantic probe caught.  A NULL embedding gets a NULL
    centroid_id; a zero-norm one divides by zero under ANSI in the fold
    exactly as in the reference."""
    from pyspark.errors import ArithmeticException
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    emb, null_id = _with_vector(spark, base, None)
    centroids = base.orderBy("vec_id").limit(k)

    got = {r.vec_id: r.centroid_id for r in sim.assign_centroids(emb, centroids).collect()}
    assert got.pop(null_id) is None

    def crossjoin(vectors):
        cents = centroids.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centv"),
        )
        vecs = vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        scored = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id", "centroid_id", sim.cosine(F.col("v"), F.col("centv")).alias("s")
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("centroid_id"))
        return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)

    want = {r.vec_id: r.centroid_id for r in crossjoin(base).collect()}
    assert got == want
    assert len(got) == 500

    zero, _ = _with_vector(spark, base, [0.0] * len(base.first().embedding))
    for build in (lambda: sim.assign_centroids(zero, centroids), lambda: crossjoin(zero)):
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            build().collect()


def test_assign_centroids_empty_codebook_and_one_collect(spark):
    """An empty codebook assigns NULL; building the assignment for a
    two-chunk codebook (k = 100) runs exactly one Spark job — the codebook
    collect."""
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    empty = sim.assign_centroids(emb, emb.limit(0))
    assert {r.centroid_id for r in empty.collect()} == {None}

    sc = spark.sparkContext
    sc.setJobGroup("assign_k100", "assign_k100")
    try:
        sim.assign_centroids(emb, emb.orderBy("vec_id").limit(100))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("assign_k100")) == 1
