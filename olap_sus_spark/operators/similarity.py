"""Similarity search over embedding columns (array<float>).

Two paths, mirroring real vector-search practice:

- **Brute-force top-k** (:func:`cosine_topk`): every (query, candidate)
  pair, exact cosine, window top-k.  Correctness baseline; O(Q·N·d) — fine
  for Q small, wrong as the corpus path at 100 TB.
- **IVF top-k** (:func:`ivf_topk`): inverted-file index with deterministic
  centroids (the first C vectors — a real pipeline would k-means them; the
  assignment/probe machinery is identical).  Each vector is assigned to its
  nearest centroid (one narrow pass); a query probes only the nprobe nearest
  centroid lists, cutting the scanned corpus by ~C/nprobe.  The probe join
  is an equi-join on centroid id — shuffle on cluster id only, AQE handles
  skewed clusters.

Dot products are sequential left-folds over double-cast arrays so results
are bit-identical to the DuckDB oracle's list_reduce fold (no SIMD
reassociation on either side).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olap_sus_spark.operators.onecall import (
    lit_bigints,
    lit_doubles,
    lit_double_matrix,
)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, F.col(vec_col).cast("array<double>"))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus, rank per query.

    Ties broken by candidate id — deterministic output.
    """
    # Per-vector norms price once per VECTOR, not once per (query, cand)
    # pair (r10): the inline cosine re-folded the candidate norm for every
    # query and the query norm for every candidate.  Staged sqrt(fold(x²))
    # is bit-identical and the division tree is unchanged.
    cand = (
        _as_double(emb, vec_col, "cv")
        .select(F.col(id_col).alias("cand_id"), "cv")
        .withColumn("_cn", norm(F.col("cv")))
    )
    qry = (
        _as_double(queries, vec_col, "qv")
        .select(F.col(query_id_col).alias("query_id"), "qv")
        .withColumn("_qn", norm(F.col("qv")))
    )
    # Broadcast the (small) query side: the corpus never moves, each
    # executor scans its corpus partitions against the replicated queries.
    scored = F.broadcast(qry).crossJoin(cand).filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id", "cand_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def best_by(
    df: DataFrame,
    keys: list[str],
    score_col: str,
    id_col: str,
) -> DataFrame:
    """rank-1-by-(score DESC, id ASC) per key as ONE hash aggregate.

    ``max(struct(score, -id))`` replaces the row_number window: the window
    needs a full per-partition SORT of the scored stream before the partial
    WindowGroupLimit can prune it, while a hash aggregate partial-aggregates
    map-side with no sort at all and shuffles one row per (key, task)
    (guide §2.3 aggregate before you shuffle / §2.4 remove the sort).
    Selection-only, bit-identical: the struct's lexicographic comparison is
    double order on ``score`` first (Spark's NaN-greatest total order — the
    same order the DESC sort used), then max(-id) == min(id), the window's
    ASC tie-break; the carried doubles are untouched.

    NaN scores need no special casing even under the threshold-above-
    aggregate rewrite (ADVICE r10 raised it; verified WRONG in r11,
    tests/test_r11_optimizations.py): Spark's comparison operators use the
    same NaN-GREATEST total order as its sort, and so do DuckDB's — a
    ``score >= t`` filter KEEPS NaN rows in both engines, so the original
    pre-filtered window also selected the NaN pair whenever one existed,
    exactly like max(struct) does.  Pre- and post-filtering therefore
    commute bit-for-bit including 0/0 cosines from zero-norm vectors.

    Returns (*keys, id_col, score_col).
    """
    m = F.max(
        F.struct(F.col(score_col).alias("_s"), (-F.col(id_col)).alias("_negid"))
    )
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(m.alias("_best"))
        .select(
            *keys,
            (-F.col("_best._negid")).alias(id_col),
            F.col("_best._s").alias(score_col),
        )
    )


# One literal matrix holds at most this many centroids; a bigger codebook
# folds chunk by chunk.
_CHUNK_K = 64
# localCheckpoint after every this many chunks keeps a big codebook's plan
# flat.
_CHECKPOINT_EVERY = 8


def matrix_dots(v: Column, vecs: list[list[float]]) -> Column:
    """Dots of ``v`` against every vector of ``vecs``, all in ONE aggregate
    pass with a len(vecs)-wide accumulator (the simhash60 votes trick): per
    element j, acc_k += v_j·vecs[k][j].  One HOF traversal replaces one
    fold per vector — HOFs don't codegen, so per-invocation overhead
    dominates and collapsing the traversals is the lever.

    Bit-exactness: each acc_k accumulates ((0 + v₀p₀ₖ) + v₁p₁ₖ)… — the
    identical left-to-right association as a per-vector sequential fold
    (:func:`dot`), so results match the oracles' list_reduce digit for
    digit.  The element-major matrix is ONE server-side SQL literal
    (operators/onecall.py): F.lit(list-of-lists) expands client-side to
    len(vecs)·dim scalar-lit py4j round trips per construction, degrading
    as the py4j object registry grows (measured r11: 4–15 s per
    construction via F.lit vs ~15 ms via one F.expr)."""
    k, dim = len(vecs), len(vecs[0])
    pmat = lit_double_matrix([[vecs[c][j] for c in range(k)] for j in range(dim)])
    return F.aggregate(
        F.zip_with(v, pmat, lambda x, prow: F.transform(prow, lambda p: x * p)),
        F.array_repeat(F.lit(0.0), k),
        lambda acc, prods: F.zip_with(acc, prods, lambda a, b: a + b),
    )


def _norm(xs: list[float]) -> float:
    """Driver-side twin of :func:`norm`: the same sequential float64 fold
    and one sqrt."""
    import math

    s = 0.0
    for x in xs:
        s += x * x
    return math.sqrt(s)


def _nearest_centroid(
    vecs: DataFrame,
    cent_rows: list,
    keep_cols: list[str],
    v_col: str = "v",
) -> DataFrame:
    """EXACT nearest centroid (max cosine, ties → smallest id) of every
    ``v_col`` vector against a driver-side codebook of (id, vector) rows:
    :func:`matrix_dots` over id-ordered chunks of at most ``_CHUNK_K``
    centroids, carrying a running (best sim, best id) pair.  A codebook of
    up to 64 centroids is one chunk, i.e. one narrow projection; a bigger
    one costs the irreducible n·k dot products with ZERO shuffle — a
    broadcast crossJoin + window would materialize n×k rows each carrying
    both vectors (~700 GB at 200k vectors × 3125 centroids, the x100
    semantic probe).

    Ties: within a chunk the first max (array_position) is the smallest
    id; across chunks strictly-greater keeps the earlier, smaller-id chunk.
    A NaN cosine is the greatest double in Spark's order, so it wins at its
    smallest id.  Centroid norms fold driver-side in the same order as
    :func:`norm`, and the division tree d/(vn·cn) matches :func:`cosine` —
    so a zero-norm vector or centroid raises DIVIDE_BY_ZERO under ANSI, as
    :func:`cosine` does.  Returns ``keep_cols`` + centroid_id (BIGINT, like the source id column;
    NULL for a NULL vector or an empty codebook)."""
    rows = sorted(cent_rows, key=lambda r: r[0])
    staged = vecs.select(
        *keep_cols,
        F.col(v_col),
        norm(F.col(v_col)).alias("_vn"),
        F.lit(float("-inf")).alias("_bs"),
        F.lit(None).cast("long").alias("_bi"),
    )
    carry = [*keep_cols, v_col, "_vn"]
    for ci, lo in enumerate(range(0, len(rows), _CHUNK_K)):
        chunk = rows[lo : lo + _CHUNK_K]
        cvecs = [[float(x) for x in r[1]] for r in chunk]
        # stage dots, then sims, as real columns: sims reads _vn per
        # element, and the best pick reads _sims twice (HOF re-evaluation)
        staged = staged.select(
            *carry, "_bs", "_bi", matrix_dots(F.col(v_col), cvecs).alias("_dots")
        )
        sims = F.zip_with(
            F.col("_dots"),
            lit_doubles([_norm(c) for c in cvecs]),
            lambda d, cn: d / (F.col("_vn") * cn),
        )
        staged = staged.select(*carry, "_bs", "_bi", sims.alias("_sims"))
        best = F.array_max(F.col("_sims"))
        pos = F.array_position(F.col("_sims"), best).cast("int")
        # A NULL vector's best is NULL, so it never takes: the generated
        # element_at reads a NULL position as -1 (the LAST id), and only the
        # when keeps that value out.  Both whens read the INPUT row's _bs —
        # one select, no ordering hazard.
        take = best > F.col("_bs")
        staged = staged.select(
            *carry,
            F.when(take, best).otherwise(F.col("_bs")).alias("_bs"),
            F.when(take, F.element_at(lit_bigints([int(r[0]) for r in chunk]), pos))
            .otherwise(F.col("_bi"))
            .alias("_bi"),
        )
        if (ci + 1) % _CHECKPOINT_EVERY == 0:
            staged = staged.localCheckpoint(eager=True)
    return staged.select(*keep_cols, F.col("_bi").alias("centroid_id"))


def assign_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """IVF list assignment: nearest centroid per vector (max cosine, ties →
    smallest centroid id) by the chunked matrix fold
    (:func:`_nearest_centroid`) — exact and narrow.  The codebook comes to
    the driver in ONE collect (k×dim doubles — 3125×64 ≈ 1.6 MB; ~65k
    centroids ≈ 33 MB is the practical ceiling before the documented
    coarse-to-fine nesting takes over).  ``passthrough`` columns (e.g. the
    source-file partition key of an incremental index refresh) ride along
    unchanged."""
    cents = _as_double(centroids, vec_col, "centv").select(F.col(id_col), "centv")
    vecs = _as_double(emb, vec_col, "v").select(
        F.col(id_col), "v", F.col(vec_col), *[F.col(c) for c in passthrough]
    )
    return _nearest_centroid(vecs, cents.collect(), [id_col, vec_col, *passthrough])


def ivf_probe(
    indexed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query-path half of IVF: given a built index (``indexed`` =
    (id, vec, centroid_id) assignments + the centroid table), probe the
    nprobe nearest centroid lists and rerank by exact cosine.

    This is what a serving query costs once the index is maintained as a
    table — the assignment pass (:func:`assign_centroids`) amortizes across
    every query, exactly like a real vector store's index build.
    """
    # Queries probe their nprobe nearest centroids.
    cents = _as_double(centroids, vec_col, "centv").select(
        F.col(id_col).alias("centroid_id"), "centv"
    )
    qry = (
        _as_double(queries, vec_col, "qv")
        .select(F.col(query_id_col).alias("query_id"), "qv")
        # query norm prices once per query, not once per (query, candidate)
        # pair in the probed-list rerank below (r10; bit-identical staging)
        .withColumn("_qn", norm(F.col("qv")))
    )
    qprobe = qry.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "_qn", "centroid_id",
        cosine(F.col("qv"), F.col("centv")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("centroid_id"))
    probes = (
        qprobe.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "qv", "_qn", "centroid_id")
    )

    # Search only the probed lists: equi-join on centroid_id.  Candidate
    # norms price once per vector — a candidate list is rescanned by every
    # query probing it.
    cand = (
        _as_double(indexed, vec_col, "cv")
        .select(F.col(id_col).alias("cand_id"), "cv", "centroid_id")
        .withColumn("_cn", norm(F.col("cv")))
    )
    scored = probes.join(cand, "centroid_id").filter(
        F.col("query_id") != F.col("cand_id")
    ).select(
        "query_id", "cand_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    num_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: index build (assignment) + probe in one plan.

    Deterministic 'training': centroids = the num_centroids smallest-id
    vectors (swap in k-means offline at scale; the index machinery is the
    same).  :func:`ivf_probe` is the serving half when the index is
    maintained as a table.
    """
    centroids = emb.orderBy(id_col).limit(num_centroids)
    indexed = assign_centroids(emb, centroids, id_col, vec_col)
    return ivf_probe(indexed, centroids, queries, nprobe, k, id_col, vec_col,
                     query_id_col)


KMEANS_FP_SCALE = 1 << 20
"""Fixed-point scale for :func:`kmeans_fp` mean accumulation (≈6 decimal
digits — far below embedding noise, far above any drift that could flip a
nearest-centroid assignment)."""


def _fixed_point(v: Column, scale: int) -> Column:
    """Quantize a double array to 64-bit fixed point: floor(x·scale + 0.5),
    the quantize_int8 rounding rule."""
    return F.transform(
        v, lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")
    )


def _fp_means(
    assigned: DataFrame, vfp: Column, scale: int, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The means half of one fixed-point Lloyd round over ``assigned``
    (rows carrying ``centroid_id`` and the fixed-point vector ``vfp``).

    posexplode → groupBy(centroid_id, pos) partial sums: every aggregation
    buffer holds ONE (cluster, dimension) running (sum, count) pair, so
    memory stays bounded no matter how many vectors a hot cluster attracts.
    The sums are exact integers — order-independent, unlike double sums
    whose order follows Spark's shuffle — and each coordinate is one
    correctly-rounded double division sum/(n·scale).

    Returns (dim_means (centroid_id, pos, m, n), centroids (centroid_id,
    vec_col double array reassembled in pos order)), both lazy."""
    dim_means = (
        assigned.select("centroid_id", F.posexplode(vfp).alias("pos", "x"))
        .groupBy("centroid_id", F.col("pos").cast("int").alias("pos"))
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "centroid_id",
            "pos",
            (F.col("s").cast("double") / (F.col("n") * F.lit(scale)).cast("double")).alias("m"),
            "n",
        )
    )
    cents = dim_means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
            lambda st: st["m"],
        ).alias(vec_col)
    )
    return dim_means, cents


def kmeans_fp(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    scale: int = KMEANS_FP_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means with ENGINE-PORTABLE determinism: smallest-id seeds,
    exact nearest-centroid assignment (:func:`_nearest_centroid`), and the
    fixed-point means of :func:`_fp_means`.

    The one non-portable step in plain k-means is the mean: summing doubles
    is order-sensitive, and Spark's shuffle order differs from any other
    engine's.  Here each element is quantized ONCE to a 64-bit fixed-point
    integer, so the per-(centroid, dim) SUM is exact integer arithmetic.
    Assignment cosines stay sequential-fold doubles (deterministic per row,
    like every ANN operator here).  The pagerank rank_fp trick (graph.py),
    applied to vectors.

    Returns one row per (centroid_id, pos): the final round's per-dimension
    mean plus the centroid's member count — scalar columns only, so the
    result is driver-canonicalizable.  Centroids that lose all members in
    some round drop out in both engines identically.
    """
    v = F.col(vec_col).cast("array<double>")
    vecs = emb.select(
        F.col(id_col), v.alias("v"), _fixed_point(v, scale).alias("vfp")
    ).localCheckpoint(eager=True)
    # k rows always fit on the driver; each round's codebook is collected
    # straight from its means
    cent_rows = _as_double(emb.orderBy(id_col).limit(k), vec_col, "centv").select(
        id_col, "centv"
    ).collect()
    dim_means = None
    for it in range(iters):
        best = _nearest_centroid(vecs, cent_rows, ["vfp"])
        dim_means, cents = _fp_means(best, F.col("vfp"), scale, "centv")
        if it < iters - 1:  # final round's centroids are the output itself
            cent_rows = cents.collect()
    return dim_means.select(
        "centroid_id",
        "pos",
        F.col("m").alias("mean_val"),
        F.col("n").alias("n_members"),
    )


def semantic_codebook(
    emb: DataFrame,
    cell_target: int = 64,
    k_min: int = 8,
    scale: int = KMEANS_FP_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup codebook (Abbas et al. 2023, "SemDeDup: data-efficient
    learning at web-scale through semantic deduplication"): one fixed-point
    Lloyd round from deterministic smallest-id seeds, with the codebook
    sized so the MEAN cell holds ~``cell_target`` vectors —
    k = max(k_min, ceil(n / cell_target)).

    The auto-sized k is the scale lever: within-cell pair expansion (the
    dedup stage downstream) is O(n · cell_target) instead of O(n²/k_fixed).
    Determinism is :func:`kmeans_fp`'s — assignment cosines are sequential-
    fold doubles, the mean accumulates exact 64-bit fixed-point integers,
    one correctly-rounded double division per (centroid, dim) — so the cell
    map value-hash matches a relational replay.  Beyond ~4M vectors the
    k×dim codebook outgrows a single broadcast; production would nest this
    (coarse cells → per-cell fine codebooks), which changes the constant,
    not the shape.

    Returns (centroid_id, vec_col double-array), checkpointed.
    """
    import math as _math

    n = emb.count()
    k = max(k_min, _math.ceil(n / float(cell_target)))
    a1 = assign_centroids(emb, emb.orderBy(id_col).limit(k), id_col, vec_col)
    vfp = _fixed_point(F.col(vec_col).cast("array<double>"), scale)
    return _fp_means(a1, vfp, scale, vec_col)[1].localCheckpoint(eager=True)


def semantic_cells(
    emb: DataFrame,
    cell_target: int = 64,
    k_min: int = 8,
    scale: int = KMEANS_FP_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every vector to its :func:`semantic_codebook` cell (nearest
    centroid, smallest-id tie-break).  Pass an existing ``codebook`` to
    assign against a FROZEN one (the maintained-index refresh path).

    Returns (id_col, v double-array, vec_col, *passthrough, centroid_id),
    checkpointed — the dedup stage joins it against itself.
    """
    cb = (
        codebook
        if codebook is not None
        else semantic_codebook(emb, cell_target, k_min, scale, id_col, vec_col)
    )
    a2 = assign_centroids(
        emb, cb.select(F.col("centroid_id").alias(id_col), vec_col),
        id_col, vec_col, passthrough=passthrough,
    )
    return a2.select(
        id_col,
        F.col(vec_col).cast("array<double>").alias("v"),
        vec_col,
        *passthrough,
        "centroid_id",
    ).localCheckpoint(eager=True)


def semantic_dedup(
    cells: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Within-cell greedy semantic dedup over a :func:`semantic_cells` map:
    a vector is DROPPED iff some smaller-id cell-mate scores cosine >=
    threshold (keep-first-by-id, the exact_dedup convention); ``dup_of`` is
    the highest-cosine such mate (ties → smallest id).

    The only join is an equi-join on centroid_id, so per-key fanout is
    bounded by the cell size (~cell_target by construction) — never
    corpus×corpus.  Hot cells (duplicate-heavy corpora) are the AQE
    skew-join case.  Kept vectors carry sentinels (dup_of = -1,
    dup_cosine = -2.0) instead of NULLs so the verdict table stays
    canon-friendly end-to-end.
    """
    # Per-vector norms price once per VECTOR, not once per pair (r10): an
    # inline cosine would re-fold both norms for every cell-mate pair — 3
    # array folds per pair instead of 1.  Staged sqrt(fold(x²)) is bit-
    # identical to the inlined norm and the division tree is unchanged, so
    # verdict cosines still hash-match the relational replay.
    nv = cells.select("centroid_id", F.col(id_col), "v").withColumn(
        "_n", norm(F.col("v"))
    )
    a = nv.select(
        "centroid_id", F.col(id_col).alias("dup_of"), F.col("v").alias("av"),
        F.col("_n").alias("na"),
    )
    b = nv.select("centroid_id", id_col, F.col("v").alias("bv"), F.col("_n").alias("nb"))
    pairs = (
        b.join(a, "centroid_id")
        .filter(F.col("dup_of") < F.col(id_col))
        .select(
            id_col, "dup_of",
            (dot(F.col("av"), F.col("bv")) / (F.col("na") * F.col("nb"))).alias(
                "dup_cosine"
            ),
        )
    )
    # rank-1 window → one hash aggregate (r10, best_by), and the threshold
    # moves ABOVE the aggregate: a pre-agg filter gets pushed into the
    # join condition, so the 64-dim dot fold ran once to filter and AGAIN
    # in the projection for every surviving pair (plan audit: the fold in
    # Join condition AND Project).  max commutes with thresholding — the
    # argmax over pairs >= t is the global argmax whenever that max passes
    # t, and the row is dropped otherwise — so filtering best_by's output
    # is selection-identical and the fold now evaluates exactly once per
    # cell-mate pair.  The commutation is exact for NaN cosines too
    # (zero-norm vectors): >= keeps NaN in BOTH engines' NaN-greatest
    # total order, so the pre-filtered window also picked the NaN pair —
    # ADVICE r10's pre-drop would have DIVERGED from the oracle (r11,
    # tests/test_r11_optimizations.py).
    best = (
        best_by(pairs, [id_col], "dup_cosine", "dup_of")
        .filter(F.col("dup_cosine") >= threshold)
        .select(id_col, "dup_of", "dup_cosine")
    )
    return (
        cells.select(id_col, "centroid_id", *passthrough)
        .join(best, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            *passthrough,
            F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int").alias("is_kept"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("bigint").alias("dup_of"),
            F.coalesce(F.col("dup_cosine"), F.lit(-2.0)).alias("dup_cosine"),
        )
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard 4× storage /
    bandwidth reduction for 100 TB embedding corpora (scan-side dequant is
    one multiply).  scale = max|x|/127; q_i = floor(x_i/scale + 0.5)
    (explicit half-up — engine-portable, unlike round()'s dialect-specific
    tie behavior).  Fully narrow, zero shuffle.

    Returns per-vector scalars (id, n_dims, scale, q_checksum,
    max_abs_err): the quantized array itself would be written to storage;
    the checksum + reconstruction error are the verifiable surface.
    """
    # The scale must reach each element as a zip_with ARGUMENT
    # (array_repeat), never as an outer reference inside the lambda: the
    # r10 plan audit showed CollapseProject inlining the staged `_scale`
    # alias into the lambda body — references inside higher-order-function
    # lambdas are not counted as repeated — turning the array_max fold into
    # per-ELEMENT work, O(dim²) per vector.  An argument expression
    # evaluates once per row; same doubles, same floor(x/s + 0.5).
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    staged = emb.select(F.col(id_col), v.alias("_v"), scale.alias("_scale"))
    srep = F.array_repeat(F.col("_scale"), F.size("_v"))
    q = F.zip_with(
        F.col("_v"),
        srep,
        lambda x, s: F.when(s == 0.0, F.lit(0).cast("bigint"))
        .otherwise(F.floor(x / s + F.lit(0.5)))
        .cast("bigint"),
    )
    qs = F.zip_with(F.col("_q"), srep, lambda qi, s: qi * s)
    vq = F.zip_with(F.col("_qs"), F.col("_v"), lambda a, xi: F.abs(a - xi))
    return (
        staged.withColumn("_q", q)
        .withColumn("_qs", qs)
        .select(
            id_col,
            F.size("_v").alias("n_dims"),
            F.col("_scale").alias("scale"),
            F.aggregate(F.col("_q"), F.lit(0).cast("bigint"), lambda a, b: a + b).alias(
                "q_checksum"
            ),
            F.array_max(vq).alias("max_abs_err"),
        )
    )


def quantized_vecs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, qv) int8-quantized vectors — the storage artifact behind
    ``quantize_int8``'s scalar report.  For COSINE the per-vector scale
    cancels exactly (symmetric quantization: cos ≈ dot(qa,qb) /
    (||qa||·||qb||)), so the prescore path needs only the integer arrays —
    4× less scan bandwidth than the float corpus and integer multiplies
    in the hot loop."""
    # Scale as a zip_with ARGUMENT (array_repeat), not an outer lambda
    # reference — see quantize_int8: CollapseProject inlines the staged
    # alias into the lambda and re-runs the array_max fold per ELEMENT.
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    staged = emb.select(F.col(id_col), v.alias("_v"), scale.alias("_scale"))
    return staged.select(
        id_col,
        F.zip_with(
            F.col("_v"),
            F.array_repeat(F.col("_scale"), F.size("_v")),
            lambda x, s: F.when(s == 0.0, F.lit(0).cast("bigint"))
            .otherwise(F.floor(x / s + F.lit(0.5)))
            .cast("bigint"),
        ).alias("qv"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer-fold dot product (bigint — no float reassociation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quantized_rerank_topk(
    emb: DataFrame,
    n_query: int,
    k: int = 5,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN over an int8-quantized corpus: integer-cosine
    prescore over the quantized table (the 4×-smaller scan — at 100 TB
    this is the stage that touches every vector, so it reads the int8
    artifact, not the floats), top-``pool`` candidates per query, then an
    exact float cosine rerank of the bounded pool.  Entirely
    deterministic: the integer dot is exact, the prescore double is one
    cast + one division, ties break on candidate id — hence fully
    value-hash oracle-able.  max|q_i| = 127 so dim 64 dots stay ~2^20,
    nowhere near bigint range."""
    # Per-vector integer norms price once per VECTOR before the crossJoin
    # (r10): inlining them in the pair projection re-folded qq·qq and cq·cq
    # for every (query, candidate) pair — 3 integer folds per pair instead
    # of 1.  The staged value is the identical exact bigint dot, so the
    # sqrt + division tree (and the oracle match) are unchanged.
    # The quantized corpus is MATERIALIZED once (r10): in production this
    # is a stored artifact read back from parquet; inline, the plan audit
    # showed the pushed-down nonzero-norm filters and the prescore
    # projection each re-inlining the whole quantize+fold chain per
    # vector.  localCheckpoint pins quantize + integer norm to exactly one
    # evaluation per vector; values are untouched, so the oracle match is
    # unchanged.
    qv = (
        quantized_vecs(emb, id_col=id_col, vec_col=vec_col)
        .withColumn("_qn2", _int_dot(F.col("qv"), F.col("qv")))
        .localCheckpoint(eager=True)
    )
    cand = qv.select(
        F.col(id_col).alias("cand_id"), F.col("qv").alias("cq"),
        F.col("_qn2").alias("_cn2"),
    )
    qry = qv.filter(F.col(id_col) < n_query).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qq"), "_qn2"
    )
    iq = _int_dot(F.col("qq"), F.col("cq"))
    qn = F.sqrt(F.col("_qn2").cast("double"))
    cn = F.sqrt(F.col("_cn2").cast("double"))
    pre = (
        F.broadcast(qry)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", iq.alias("_iq"), qn.alias("_qn"), cn.alias("_cn"))
        # all-zero quantized vectors (scale 0) have no direction — drop
        # them HERE, with an integer predicate both engines share, rather
        # than letting 0/0 NaNs diverge between IEEE dialects
        .filter((F.col("_qn") > 0.0) & (F.col("_cn") > 0.0))
        .select(
            "query_id",
            "cand_id",
            (F.col("_iq").cast("double") / (F.col("_qn") * F.col("_cn"))).alias(
                "prescore"
            ),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("prescore").desc(), F.col("cand_id")
    )
    shortlist = (
        pre.withColumn("prerank", F.row_number().over(wp))
        .filter(F.col("prerank") <= pool)
        .select("query_id", "cand_id", "prescore")
    )
    fl = _as_double(emb, vec_col, "fv").select(F.col(id_col).alias("_id"), "fv")
    rescored = (
        shortlist.join(
            F.broadcast(fl.withColumnRenamed("fv", "qfv")),
            F.col("query_id") == F.col("_id"),
        )
        .drop("_id")
        .join(fl.withColumnRenamed("fv", "cfv"), F.col("cand_id") == F.col("_id"))
        .select(
            "query_id",
            "cand_id",
            "prescore",
            cosine(F.col("qfv"), F.col("cfv")).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "prescore", "cosine", "rank")
    )


def auto_bits(corpus_rows: int, target_bucket: int = 256) -> int:
    """Recommended SRP bits per table for a given corpus size: keeps the
    expected bucket occupancy near ``target_bucket`` (so probe candidate
    sets stay bounded as the corpus grows — with fixed bits, candidates
    grow linearly with N).  Recall is then tuned by n_tables.  The tiny
    test corpora use the 4-bit floor; a 10⁹-vector corpus gets ~22 bits.

    Pure integer arithmetic (== ceil(log2(N/target)) mathematically): a
    float log2 is not guaranteed correctly rounded across libm builds, so a
    corpus size a few ulps from a power of two could flip the ceil on one
    engine but not the other and desynchronize the index from its oracle.
    ``(ceil(N/t) - 1).bit_length()`` is exact everywhere (the DuckDB oracle
    uses the matching POWER(2,..) integer ladder)."""
    c = -(-max(1, corpus_rows) // target_bucket)  # ceil-div, exact
    return max(4, (c - 1).bit_length())


def _srp_plane(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane: md5 parity of 'table_bit_dim-index'.

    Reproducible on any engine that has md5 (the DuckDB oracle builds the
    identical planes), so LSH bucket assignments are portable — no RNG
    state, no seed files.
    """
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{table}_{bit}_{j}".encode()).hexdigest()[:15], 16) % 2
        == 0
        else -1.0
        for j in range(dim)
    ]


def srp_buckets(
    emb: DataFrame,
    dim: int,
    n_tables: int = 12,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Sign-random-projection LSH bucket per (vector, table) — fully narrow.

    Each of the L×H signature bits is a sequential-fold dot product against
    a literal hyperplane (bit-identical to the oracle's cross-join + fold
    formulation); the per-table buckets pack bits into an int and explode to
    (vec, table, bucket) rows.  Zero shuffles: at 100 TB the signature pass
    is pure map work, and only the (id, table, bucket) triples — not the
    vectors — need to move afterwards.
    """
    from olap_sus_spark.catalog import spread_compute

    # The signature pass is compute-heavy per row; a single-row-group
    # parquet scans as ONE task, serializing it.  Re-spread first (no-op on
    # any real multi-split table — see catalog.spread_compute).
    emb = spread_compute(emb)
    planes = [
        _srp_plane(t, h, dim) for t in range(n_tables) for h in range(n_bits)
    ]
    # ALL n_tables×n_bits plane dots in one matrix_dots pass: measured 6×
    # faster signatures than per-plane folds at (12 tables × 8 bits), and
    # the one-call plane literal replaced 6144–9216 py4j round trips per
    # construction (r11).  Same per-plane fold order as the oracle.
    dots = matrix_dots(F.col(vec_col).cast("array<double>"), planes)
    # Stage the dots as a REAL column: the bucket projection references it
    # n_tables×n_bits times, and an inlined aggregate would re-run the
    # whole pass per reference (CollapseProject only duplicates cheap
    # expressions, so staging pins single evaluation).
    staged = emb.select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in passthrough],
        dots.alias("_dots"),
    )
    buckets = []
    for t in range(n_tables):
        acc = F.lit(0)
        for h in range(n_bits):
            acc = acc + F.when(
                F.col("_dots").getItem(t * n_bits + h) >= 0, F.lit(1 << h)
            ).otherwise(F.lit(0))
        buckets.append(acc)
    return staged.select(
        id_col,
        vec_col,
        *passthrough,
        F.posexplode(F.array(*buckets)).alias("t", "bucket"),
    )


def lsh_probe(
    b: DataFrame,
    n_query: int = 5,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
    multiprobe_bits: int | None = None,
) -> DataFrame:
    """Query-path half of SRP-LSH: given the bucket table ``b`` =
    (id, vec, t, bucket) rows (from :func:`srp_buckets`, live or loaded from
    a maintained index table), join bucket collisions and rerank the deduped
    candidates by exact cosine.  The collision join is an equi-join on
    (table, bucket) — the corpus shuffles its *signatures*, vectors move
    only for the deduped candidate pairs.

    ``allowed`` (optional, a frame of permitted ``id_col`` values) makes
    this a FILTERED vector search: the predicate semi-joins the candidate
    stream BEFORE the exact-cosine rerank — pre-filtering, so the top-k is
    taken over allowed candidates only (post-filtering a plain top-k would
    silently return fewer than k).  The filter is applied after the bucket
    collision, so the index itself stays predicate-agnostic.

    ``multiprobe_bits=H`` turns on MULTI-PROBE: each query additionally
    probes every bucket at Hamming distance 1 from its signature (flip
    each of the H bits) in every table — (H+1)× the probe keys for recall
    that would otherwise cost more tables, with the INDEX unchanged.  Only
    the tiny broadcast query side expands; the corpus-sized bucket table
    is joined exactly as before."""
    qb = b.filter(F.col(id_col) < n_query).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), "t", "bucket"
    )
    if multiprobe_bits:
        flips = F.explode(
            F.array(F.lit(-1), *[F.lit(i) for i in range(multiprobe_bits)])
        ).alias("f")
        qb = qb.select("query_id", "qvec", "t", "bucket", flips).select(
            "query_id",
            "qvec",
            "t",
            F.when(F.col("f") < 0, F.col("bucket"))
            .otherwise(F.expr("bucket ^ shiftleft(1, f)"))
            .cast("int")
            .alias("bucket"),
        )
    cands = b.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"), "t", "bucket"
    )
    if allowed is not None:
        cands = cands.join(
            allowed.select(F.col(id_col).alias("cand_id")), "cand_id", "left_semi"
        )
    cand = (
        F.broadcast(qb)
        .join(cands, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cand.select(
        "query_id",
        "cand_id",
        cosine(
            F.col("qvec").cast("array<double>"), F.col("cvec").cast("array<double>")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def lsh_topk(
    emb: DataFrame,
    dim: int,
    n_query: int = 5,
    n_tables: int = 12,
    n_bits: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH ANN top-k: signature pass (index build) + probe in one plan.

    Complements ivf_topk: no training step, recall tuned by (L, H) instead
    of (centroids, nprobe).  :func:`lsh_probe` is the serving half when the
    bucket table is maintained as an index table
    (:func:`load_or_build_srp_index`).
    """
    b = srp_buckets(emb, dim, n_tables, n_bits, id_col, vec_col)
    return lsh_probe(b, n_query, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Maintained index tables — incrementally refreshable
#
# Real vector-search deployments build the index ONCE per corpus version and
# amortize it over every query; only the probe is on the serving path.  The
# SRP bucket table, the IVF assignment + centroid tables and the semantic-
# dedup index below are per-file tables on index_store.SrcTable: location-
# keyed path, per-part-file manifest, ``src=`` partitions refreshed in
# O(ingested files), the safe full staged rebuild otherwise.  Within each
# src partition files stay range-sorted on the probe key ((t, bucket) /
# centroid_id) so footer min/max stats keep pruning.  What stays here are
# the frame builders and the exactness guards.  The SRP bucket table is a
# per-file map (index_store.FileMap): every row is a function of one part
# file, so it needs no guard.  The IVF refresh requires appended ids above
# the codebook's, and a removed part file forces its full rebuild.


from olap_sus_spark.operators import index_store as ix

# Bump when the signature/assignment ALGORITHM changes (plane construction,
# hash family, bucket packing) OR the persisted physical schema changes:
# the manifest catches data changes but a persisted index built by older
# code would otherwise be silently reused.
# v2: matrix-fold assignment (centroid_id pinned BIGINT on both paths).
# v3: location-keyed paths + src-partitioned layout + manifest staleness
#     (incremental refresh); serving columns unchanged.
_INDEX_ALGO_VERSION = "v3"


def _srp_frames(dim: int, n_tables: int, n_bits: int, emb: DataFrame) -> dict:
    # Materialize the signature pass once: the range partitioner's sampling
    # job would otherwise execute the (compute-heavy) signature expressions
    # twice.  The FileMap unpersists it once written.
    b = srp_buckets(emb, dim, n_tables, n_bits, passthrough=(ix.SRC,))
    return {"": b.persist()}


def _srp_map(dim: int, n_tables: int, n_bits: int) -> ix.FileMap:
    """The SRP bucket table at one (dim, L, H): signatures are per-vector,
    so it is a per-file map index and a refresh equals a fresh build."""
    return ix.FileMap(
        "srp", _INDEX_ALGO_VERSION, "embeddings", {"": (("t", "bucket"), 4)},
        partial(_srp_frames, dim, n_tables, n_bits), f"|{dim}|{n_tables}|{n_bits}",
    )


def _srp_bits(sf_dir: str, n_bits: int | None) -> int:
    return auto_bits(ix.corpus_rows(sf_dir)) if n_bits is None else n_bits


def srp_index_path(sf_dir: str, dim: int, n_tables: int, n_bits: int) -> str:
    return _srp_map(dim, n_tables, n_bits).path(sf_dir)


def ivf_index_path(sf_dir: str, num_centroids: int) -> str:
    return ix.index_path(
        "ivf", f"{_INDEX_ALGO_VERSION}|{os.path.abspath(sf_dir)}|ivf|{num_centroids}"
    )


def _serve_srp(spark, path: str) -> DataFrame:
    return ix.serve(spark, path).select("vec_id", "embedding", "t", "bucket")


def load_or_build_srp_index(
    spark, sf_dir: str, dim: int, n_tables: int = 12, n_bits: int | None = 4
) -> DataFrame:
    """Return the (id, vec, t, bucket) SRP bucket table for the corpus at
    ``sf_dir``, building + persisting it on first use (index build), loading
    the Parquet table afterwards (serving path).  A manifest mismatch (the
    corpus changed and nobody called :func:`refresh_srp_index`) triggers the
    safe full rebuild.

    ``n_bits=None`` sizes the signature with :func:`auto_bits` from the
    Parquet footer row count (no corpus scan on the serving path) so bucket
    occupancy — and therefore probe candidate-set size — stays bounded as
    the corpus grows.  The registered parity queries pass an explicit 4 to
    match their fixed oracles."""
    m = _srp_map(dim, n_tables, _srp_bits(sf_dir, n_bits))
    return _serve_srp(spark, m.load_or_build(spark, sf_dir))


def refresh_srp_index(
    spark, sf_dir: str, dim: int, n_tables: int = 12, n_bits: int | None = 4
) -> DataFrame:
    """Incremental index maintenance: re-sign ONLY the corpus part files
    added or rewritten since the last manifest and overwrite their
    ``src=`` partitions; a removed part file's partitions are dropped —
    cost is O(changed files), never O(corpus).  Signatures are per-vector,
    so the refreshed table is bit-identical to a fresh full build by
    construction.  A never-built index runs the full staged build.

    ``n_bits=None`` resolves to :func:`auto_bits` of the CURRENT corpus,
    exactly as :func:`load_or_build_srp_index` does.  The width is part of
    the table's path, so one table's signatures always come from one plane
    family: when growth moves the auto width, the refresh lands on the
    never-built table at the new width and runs its full build."""
    m = _srp_map(dim, n_tables, _srp_bits(sf_dir, n_bits))
    return _serve_srp(spark, m.refresh(spark, sf_dir))


def _ivf_table(sf_dir: str, num_centroids: int) -> ix.SrcTable:
    return ix.SrcTable(
        ivf_index_path(sf_dir, num_centroids),
        sf_dir,
        "embeddings",
        {"assignments": (("centroid_id",), 4)},
        flat=("centroids",),
    )


def _serve_ivf(spark, path: str):
    a = ix.serve(spark, path, "assignments").select("vec_id", "embedding", "centroid_id")
    return a, ix.serve(spark, path, "centroids")


def load_or_build_ivf_index(spark, sf_dir: str, num_centroids: int = 16):
    """Return (assignments, centroids) for the IVF index over the corpus at
    ``sf_dir``, building + persisting both tables on first use.  Staleness
    via the corpus manifest (full rebuild on mismatch — the caller ingested
    without :func:`refresh_ivf_index`); assignments are src-partitioned +
    sorted on centroid_id so a probe of a few lists prunes most files via
    footer stats."""
    from olap_sus_spark.catalog import load_table

    t = _ivf_table(sf_dir, num_centroids)

    def build(staging: str) -> dict:
        emb = ix.with_src(load_table(spark, sf_dir, "embeddings"))
        centroids = emb.drop(ix.SRC).orderBy("vec_id").limit(num_centroids)
        # persist: the range partitioner's sampling job would otherwise run
        # the assignment scoring pass a second time.
        assigned = assign_centroids(emb, centroids, passthrough=(ix.SRC,)).persist()
        t.write(staging, "assignments", assigned)
        assigned.unpersist()
        cpath = os.path.join(staging, "centroids")
        centroids.coalesce(1).write.mode("overwrite").parquet(cpath)
        stats = spark.read.parquet(cpath).agg(
            F.max("vec_id"), F.count(F.lit(1))
        ).first()
        return {
            "num_centroids": num_centroids,
            "max_centroid_id": None if stats[0] is None else int(stats[0]),
            "n_centroids_built": int(stats[1]),
        }

    t.load_or_build(build)
    return _serve_ivf(spark, t.path)


def refresh_ivf_index(spark, sf_dir: str, num_centroids: int = 16):
    """Incremental IVF maintenance: assign ONLY newly-appended part files
    against the EXISTING codebook and overwrite their ``src=`` partitions.

    Exactness guard: the deterministic codebook is the ``num_centroids``
    smallest-id vectors, so the refresh is identical to a full rebuild iff
    (a) the codebook was complete at build time and (b) every appended id
    is above the codebook's max id.  Appends that intrude into the codebook
    range, rewrites/removals of old files, or a short codebook all fall
    back to the full rebuild — the index must never diverge from what a
    fresh build would produce."""
    t = _ivf_table(sf_dir, num_centroids)

    def step(man: dict, d: ix.Diff) -> dict | None:
        if d.changed or d.removed or man.get("n_centroids_built", 0) < num_centroids:
            return None
        emb = ix.with_src(spark.read.parquet(*t.file_paths(d.added)))
        min_new = emb.agg(F.min("vec_id")).first()[0]
        if min_new is not None and min_new <= man["max_centroid_id"]:
            # appended ids intrude into the deterministic codebook: the
            # centroids themselves change — full rebuild.
            return None
        centroids = spark.read.parquet(os.path.join(t.path, "centroids"))
        assigned = assign_centroids(emb, centroids, passthrough=(ix.SRC,))
        t.write(t.path, "assignments", assigned, d.added)
        return {}

    t.refresh(step, lambda: load_or_build_ivf_index(spark, sf_dir, num_centroids))
    return _serve_ivf(spark, t.path)


# ---------------------------------------------------------------------------
# Maintained semantic-dedup index (SemDeDup as a serving table).
#
# Three components under one staged, manifest-guarded root:
#   codebook/    — the frozen cell centroids (semantic_codebook output);
#   assignments/ — (vec_id, embedding, centroid_id), src=partitioned and
#                  sorted on centroid_id (the refresh's candidate side);
#   verdicts/    — the dedup_semantic_clusters output rows, src=partitioned
#                  and sorted on vec_id (the serving surface — a pure scan).
#
# Incremental refresh leans on a structural property of the greedy
# keep-first-by-id rule: with the codebook FROZEN and every appended id
# ABOVE the existing corpus, old verdicts can never flip (a vector's
# verdict depends only on smaller-id cell-mates, and appends only add
# larger ids).  So a refresh assigns ONLY the batch, pairs it against
# (existing ∪ smaller-id-batch) cell-mates, and appends the new src=
# partitions — O(batch · cell_target) work.  Id-interleaved appends,
# rewrites, and removals all fall back to the full rebuild.  The refresh
# keeps the BUILT codebook: re-sizing k for corpus growth is a semantic
# change by nature and happens on the next full (re)build (manifest
# staleness forces one when anything but a clean append occurs).
# ---------------------------------------------------------------------------


def semantic_index_path(sf_dir: str, cell_target: int, threshold: float) -> str:
    key = f"{os.path.abspath(sf_dir)}|sem|{cell_target}|{threshold}"
    return ix.index_path("sem", f"{_INDEX_ALGO_VERSION}|{key}")


def _sem_table(sf_dir: str, cell_target: int, threshold: float) -> ix.SrcTable:
    return ix.SrcTable(
        semantic_index_path(sf_dir, cell_target, threshold),
        sf_dir,
        "embeddings",
        {"assignments": (("centroid_id",), 4), "verdicts": (("vec_id",), 4)},
        flat=("codebook",),
    )


def _serve_verdicts(spark, path: str) -> DataFrame:
    return ix.serve(spark, path, "verdicts").select(
        "vec_id", "centroid_id", "is_kept", "dup_of", "dup_cosine"
    )


def load_or_build_semantic_index(
    spark, sf_dir: str, cell_target: int = 64, threshold: float = 0.3
) -> DataFrame:
    """Return the maintained semantic-dedup verdict table for the corpus at
    ``sf_dir`` (vec_id, centroid_id, is_kept, dup_of, dup_cosine), building
    and persisting the three index components on first use.  Staleness via
    the corpus manifest — a corpus change without :func:`
    refresh_semantic_index` triggers the safe full rebuild."""
    from olap_sus_spark.catalog import load_table

    t = _sem_table(sf_dir, cell_target, threshold)

    def build(staging: str) -> dict:
        emb = ix.with_src(load_table(spark, sf_dir, "embeddings"))
        cb = semantic_codebook(emb.drop(ix.SRC), cell_target)
        cells = semantic_cells(emb, cell_target, codebook=cb, passthrough=(ix.SRC,))
        verdicts = semantic_dedup(cells, threshold, passthrough=(ix.SRC,))
        t.write(
            staging, "assignments",
            cells.select("vec_id", "embedding", "centroid_id", ix.SRC),
        )
        t.write(staging, "verdicts", verdicts)
        cb.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "codebook"))
        max_id = emb.agg(F.max("vec_id")).first()[0]
        return {
            "cell_target": cell_target,
            "threshold": threshold,
            "max_vec_id": None if max_id is None else int(max_id),
        }

    t.load_or_build(build)
    return _serve_verdicts(spark, t.path)


def _semantic_verdicts(
    b_frame: DataFrame,
    cand: DataFrame,
    threshold: float,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """The verdict join shared by append-refresh and purge-refresh:
    ``b_frame`` = vectors needing verdicts (centroid_id, id, bv double-array,
    *extra); ``cand`` = candidate mates (centroid_id, dup_of, av) — the
    greedy rule only consumes smaller-id same-cell mates, enforced here.

    Per-vector norms price once per VECTOR, not once per pair (r10, same
    staging as :func:`semantic_dedup`): an inline cosine would re-fold both
    norms for every cell-mate pair.  sqrt(fold(x²)) staged pre-join is
    bit-identical and the division tree is unchanged, so the refresh still
    equals the rebuild verdict-for-verdict."""
    pairs = (
        b_frame.select("centroid_id", "vec_id", "bv")
        .withColumn("_nb", norm(F.col("bv")))
        .join(cand.withColumn("_na", norm(F.col("av"))), "centroid_id")
        .filter(F.col("dup_of") < F.col("vec_id"))
        .select(
            "vec_id", "dup_of",
            (dot(F.col("av"), F.col("bv")) / (F.col("_na") * F.col("_nb"))).alias(
                "dup_cosine"
            ),
        )
    )
    # rank-1 window → one hash aggregate with the threshold ABOVE it (r10,
    # best_by) — same rewrite and same max-commutes-with-threshold argument
    # as semantic_dedup (exact for NaN cosines too — see semantic_dedup),
    # so refresh still equals rebuild verdict-for-verdict.
    best = (
        best_by(pairs, ["vec_id"], "dup_cosine", "dup_of")
        .filter(F.col("dup_cosine") >= threshold)
        .select("vec_id", "dup_of", "dup_cosine")
    )
    return (
        b_frame.select("vec_id", "centroid_id", *extra)
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            *extra,
            F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int").alias("is_kept"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("bigint").alias("dup_of"),
            F.coalesce(F.col("dup_cosine"), F.lit(-2.0)).alias("dup_cosine"),
        )
    )


def refresh_semantic_index(
    spark, sf_dir: str, cell_target: int = 64, threshold: float = 0.3
) -> DataFrame:
    """Absorb an append-only ingest in O(batch · cell_target): assign the
    batch against the FROZEN codebook, pair it with (existing ∪ smaller-id
    batch) cell-mates, and append the new ``src=`` partitions.  The big
    side never shuffles — the batch's cells broadcast onto one scan of the
    existing assignments.  Old verdicts are untouched bytes (provably
    stable: verdicts depend only on smaller-id cell-mates).  Interleaved
    ids, rewrites, removals, or a missing index fall back to the full
    rebuild.

    EPOCH-PINNED contract (unlike SRP/IVF, whose codebooks are corpus-
    independent): the Lloyd-trained codebook depends on the training
    corpus, so a from-scratch rebuild over the GROWN corpus would
    legitimately re-train and re-cluster.  The refresh therefore equals a
    rebuild UNDER THE BUILT CODEBOOK (test_index_refresh.py pins exactly
    that), and re-clustering is the scheduled full-rebuild path — the same
    trade every production SemDeDup deployment makes (re-embedding/
    re-clustering epochs, incremental verdicts in between)."""
    t = _sem_table(sf_dir, cell_target, threshold)

    def step(man: dict, d: ix.Diff) -> dict | None:
        if d.removed or (d.changed and d.added):
            return None
        if d.changed:  # None unless a pure removal — safe full rebuild
            return _semantic_purge_refresh(spark, t, man, d.changed, threshold)
        batch = ix.with_src(spark.read.parquet(*t.file_paths(d.added)))
        min_new = batch.agg(F.min("vec_id")).first()[0]
        max_old = man.get("max_vec_id")
        if min_new is not None and max_old is not None and min_new <= max_old:
            # an interleaved id could become a smaller-id cell-mate of an
            # EXISTING vector and flip its verdict — full rebuild.
            return None
        cb = spark.read.parquet(os.path.join(t.path, "codebook"))
        bcells = semantic_cells(batch, cell_target, codebook=cb, passthrough=(ix.SRC,))
        old = ix.serve(spark, t.path, "assignments").select(
            F.col("vec_id").alias("dup_of"),
            F.col("embedding").cast("array<double>").alias("av"),
            "centroid_id",
        )
        batch_a = bcells.select(
            "centroid_id", F.col("vec_id").alias("dup_of"), F.col("v").alias("av")
        )
        b = bcells.select("centroid_id", "vec_id", F.col("v").alias("bv"), ix.SRC)
        verdicts_new = _semantic_verdicts(
            b, old.unionByName(batch_a), threshold, extra=(ix.SRC,)
        )
        t.write(
            t.path, "assignments",
            bcells.select("vec_id", "embedding", "centroid_id", ix.SRC), d.added,
        )
        t.write(t.path, "verdicts", verdicts_new, d.added)
        new_max = batch.agg(F.max("vec_id")).first()[0]
        return {
            "max_vec_id": max(
                x for x in (max_old, None if new_max is None else int(new_max))
                if x is not None
            ),
        }

    t.refresh(
        step,
        lambda: load_or_build_semantic_index(spark, sf_dir, cell_target, threshold),
    )
    return _serve_verdicts(spark, t.path)


def _semantic_purge_refresh(
    spark,
    t: ix.SrcTable,
    man: dict,
    changed: list[str],
    threshold: float,
) -> dict | None:
    """O(affected) RTBF for the semantic index — the family's analogue of
    the gram chain's un-scrub.

    purge_table_ids rewrites corpus part files IN PLACE, so a purge shows
    up as CHANGED files.  Removal has a one-sided effect under the greedy
    keep-first-by-id rule: it can only shrink a vector's candidate set, so
    previously-KEPT rows stay kept, and the only rows needing re-verdict
    are those whose recorded ``dup_of`` was purged (they either fall back
    to their next-best surviving mate or flip to kept).  The refresh
    therefore: (1) verifies the change is a PURE removal (surviving rows
    byte-identical — anything else returns None for the safe full
    rebuild); (2) drops purged rows from the changed ``src=`` assignment
    partitions (survivor cells are frozen-codebook assignments —
    unchanged); (3) re-verdicts exactly the ``dup_of``-orphaned rows
    against surviving smaller-id cell-mates; (4) rewrites only the verdict
    partitions holding purged or orphaned rows.  A fully-purged source
    writes zero rows, so :meth:`SrcTable.write` drops its partitions.
    Cost: O(changed files + orphans · cell), never O(corpus).
    """
    from olap_sus_spark.operators.purge import _drop, _match

    new_rows = ix.with_src(spark.read.parquet(*t.file_paths(changed))).select(
        F.col("vec_id"), F.col("embedding").alias("_nv"), ix.SRC
    )
    old_changed = (
        ix.serve(spark, t.path, "assignments")
        .filter(F.col(ix.SRC).isin(list(changed)))
        .select("vec_id", "embedding", "centroid_id", ix.SRC)
        .localCheckpoint(eager=True)  # materialize BEFORE overwriting below
    )
    j = old_changed.join(new_rows, ["vec_id", ix.SRC], "left")
    survivors = j.filter(F.col("_nv").isNotNull())
    if survivors.filter(F.col("_nv") != F.col("embedding")).count() > 0:
        return None  # surviving vector mutated — not a purge
    pids = [r[0] for r in j.filter(F.col("_nv").isNull()).select("vec_id").collect()]
    if (
        new_rows.join(
            old_changed.select("vec_id", ix.SRC), ["vec_id", ix.SRC], "left_anti"
        ).count()
        > 0
    ):
        return None  # a changed file gained rows — not a purge
    if not pids:
        return {}

    # (2) assignments: drop purged rows, rewrite the changed partitions only
    surv_assign = _drop(old_changed, "vec_id", pids).select(
        "vec_id", "embedding", "centroid_id", ix.SRC
    )
    t.write(t.path, "assignments", surv_assign, changed)

    # (3) orphans: surviving rows whose recorded dup_of was purged
    verd = ix.serve(spark, t.path, "verdicts")
    orphans = (
        _drop(_match(verd, "dup_of", pids), "vec_id", pids)
        .select("vec_id", ix.SRC)
        .localCheckpoint(eager=True)
    )
    orphan_srcs = [r[0] for r in orphans.select(ix.SRC).distinct().collect()]
    parts = sorted(set(changed) | set(orphan_srcs))

    # candidates = ALL surviving assignments (post-rewrite), cell-bounded
    alive = ix.serve(spark, t.path, "assignments")
    cand = alive.select(
        "centroid_id",
        F.col("vec_id").alias("dup_of"),
        F.col("embedding").cast("array<double>").alias("av"),
    )
    b = (
        alive.join(orphans.select("vec_id"), "vec_id")
        .select(
            "centroid_id", "vec_id",
            F.col("embedding").cast("array<double>").alias("bv"), ix.SRC,
        )
    )
    new_verd = _semantic_verdicts(b, cand, threshold, extra=(ix.SRC,)).select(
        "vec_id", "centroid_id", ix.SRC, "is_kept", "dup_of", "dup_cosine"
    )

    # (4) rewrite only the touched verdict partitions: purged rows out,
    # orphan verdicts replaced, everything else carried through unchanged
    old_parts = (
        verd.filter(F.col(ix.SRC).isin(parts)).localCheckpoint(eager=True)
    )
    carried = _drop(old_parts, "vec_id", pids).join(
        orphans.select("vec_id"), "vec_id", "left_anti"
    ).select("vec_id", "centroid_id", ix.SRC, "is_kept", "dup_of", "dup_cosine")
    t.write(t.path, "verdicts", carried.unionByName(new_verd), parts)
    return {}
