"""Deduplication operators for training-data pipelines.

Five dedup families, each designed shuffle-light for 100 TB:

- **exact** (:func:`exact_dedup`): md5(content) → one shuffle on the 16-byte
  hash (never on the text itself), keep min doc_id per group.
- **n-gram Jaccard** (:func:`jaccard_pairs`): blocked self-join — candidate
  pairs only within a cheap blocking key (here the min gram hash), exact
  Jaccard on token n-gram sets.  The blocking key is the scale lever: the
  join is equi on the block, so Spark plans a shuffle-hash/sort-merge join
  on block ids instead of a cartesian product.
- **MinHash + LSH** (:func:`minhash_signatures`, :func:`lsh_candidate_pairs`):
  k md5-derived hash functions over shingles → banded signatures → bucket
  join.  Only bucket-collisions shuffle; verification re-checks exact
  Jaccard on candidates only.
- **SimHash** (:func:`simhash60`): 60-bit sign-aggregated md5 token hash;
  near-dup = small Hamming distance (join on rotated prefixes at scale).
- **embedding cosine** (:func:`embedding_dup_pairs` in similarity.py terms):
  see operators/similarity.py — same blocked-pair construction with a
  vector threshold.

All hashes are md5-int based (portable to the DuckDB oracle, see
operators/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olap_sus_spark.operators.corpus_view import TABLE, CorpusView
from olap_sus_spark.operators.onecall import lit_bigints
from olap_sus_spark.operators.text import md5_int, token_ngrams, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id (canonical
    representative).  Returns (content_hash, canonical_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def gram_hash_array(text_col: Column, n: int = 3) -> Column:
    """Distinct 60-bit hashes of the distinct token n-grams — the shared
    set-algebra unit for Jaccard, blocking, star edges and decontamination
    (hash once, compare longs; collision bound in jaccard_pairs)."""
    return F.array_distinct(F.transform(F.array_distinct(token_ngrams(text_col, n)), md5_int))


def keep_ge(df: DataFrame, score_col: str, threshold: float) -> DataFrame:
    """``df.filter(score_col >= threshold)`` with the (expensive, already
    projected) score expression evaluated EXACTLY once per row.

    A plain Filter over a computed column gets pushed through the
    projection into the join condition below it, and the projection then
    re-evaluates the expression for every survivor (the fold-in-Join-
    condition-AND-Project plan defect — CLAUDE.md gotcha, VERDICT r10 #4).
    A generator cannot be pushed below the projection, so
    ``explode(CASE WHEN score >= t THEN array(score) END)`` keeps the
    selection (NULL arrays explode to zero rows; NaN >= t is TRUE under
    Spark's NaN-greatest total order — in the CASE condition exactly as in
    the filter, so the selection is identical) while the score column in
    the child projection is computed once per candidate row — no
    materialization barrier needed.

    ``score_col`` must be the LAST column (all call sites emit it last);
    the generator output re-appends it there, preserving the schema.
    """
    if df.columns[-1] != score_col:
        raise ValueError(
            f"keep_ge: score column {score_col!r} must be the last column, "
            f"got columns {df.columns}"
        )
    others = [c for c in df.columns if c != score_col]
    return df.select(
        *others,
        F.explode(
            F.when(
                F.col(score_col) >= F.lit(threshold), F.array(F.col(score_col))
            )
        ).alias(score_col),
    )


def jaccard_of(a: str, b: str) -> Column:
    """Exact Jaccard of two staged gram-hash array columns.

    Both inputs are ``gram_hash_array`` outputs (already distinct), so
    |A∪B| = |A| + |B| − |A∩B| exactly; computing the union size from the
    O(1) array lengths replaces the per-pair ``array_union`` (a second
    hash-set build plus the materialized union array) with integer
    arithmetic (r10, guide §1.2 per-task work).  Same ints, same single
    double division — bit-identical to the intersect+union form."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (
        (F.size(F.col(a) if isinstance(a, str) else a)
         + F.size(F.col(b) if isinstance(b, str) else b) - inter).cast("double")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity over blocked candidate pairs.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Blocking: if the input has no ``block`` column, block on the *minimum
    gram hash* (a 1-row minhash).  Two documents with Jaccard ≥ t share the
    min-gram with probability ≥ t, and block sizes stay O(duplicate-cluster)
    instead of O(corpus/length-bucket) — the shape that survives 100 TB.
    The grams array is materialized as a column BEFORE any per-element use
    so the tokenizer regex runs once per document, not once per element.

    The set algebra runs over the 60-bit *gram hashes*, not the gram
    strings: the hashes are already paid for by the blocking key, a bigint
    array shuffles ~3× smaller than the n-gram strings, and intersect/union
    compare longs instead of hashing strings.  Jaccard over distinct hashes
    equals Jaccard over distinct grams barring a 60-bit collision
    (P < 1e-9 for million-gram docs); the DuckDB oracle applies the same
    transform, so results stay bit-identical.
    """
    grams = df.select(
        F.col(id_col),
        *([F.col("block")] if "block" in df.columns else []),
        gram_hash_array(F.col(text_col), n).alias("grams_h"),
    )
    if "block" not in df.columns:
        grams = grams.withColumn("block", F.array_min(F.col("grams_h")).cast("string"))
    a = grams.select(
        F.col(id_col).alias("id_a"), F.col("block"), F.col("grams_h").alias("grams_a")
    )
    b = grams.select(
        F.col(id_col).alias("id_b"), F.col("block"), F.col("grams_h").alias("grams_b")
    )
    pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    # keep_ge: one jaccard evaluation per candidate pair (a plain filter
    # would push the array_intersect fold into the join condition and
    # re-evaluate it in the projection for survivors — VERDICT r10 #4)
    return keep_ge(
        pairs.select(
            "id_a", "id_b", jaccard_of("grams_a", "grams_b").alias("jaccard")
        ),
        "jaccard",
        threshold,
    )


MINHASH_P = 2_147_483_647
"""Modulus of the MinHash affine family — the Mersenne prime 2^31−1.

With x reduced mod p first, a·x + b < 2^31 · 2^31 + 2^31 < 2^63, so the
whole family evaluates in exact int64 arithmetic in any engine (Spark and
the DuckDB oracle compute bit-identical signatures)."""

MINHASH_AB: list[tuple[int, int]] = [
    (1103515245, 12345),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
    (134775813, 2531011),
    (214013, 2531011),
    (1597334677, 851723965),
    (747796405, 1729),
    (1181783497, 7919),
    (6364136223 % MINHASH_P, 1442695040 % MINHASH_P),
    (3935559000 % MINHASH_P, 2691343689 % MINHASH_P),
    (2654435761 % MINHASH_P, 40503),
    (40014, 40692),
    (48271, 16807),
    (65539, 362436069),
    (950706376 % MINHASH_P, 2027382),
]
"""Fixed (a_i, b_i) multiplier/offset pairs (well-known LCG constants) for
h_i(x) = (a_i·x + b_i) mod p — deterministic across runs and engines."""


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document: one 60-bit md5 base hash per shingle,
    then k affine transforms h_i(x) = (a_i·x + b_i) mod 2^31−1 — the classic
    universal-hash family.  One narrow projection, no shuffle, and the
    expensive digest runs once per gram instead of once per gram per hash
    (k× fewer md5 evaluations; measured 3× faster end-to-end at sf0.1).

    The grams array and the base-hash array are staged as real columns:
    embedding the tokenizer (or the digest) inside each of the k hash
    lambdas would re-run it per element per hash (k × |grams|
    evaluations/doc — measured 40× slower at sf0.1)."""
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} needs more MINHASH_AB pairs")
    staged = df.select(
        F.col(id_col), F.array_distinct(token_ngrams(F.col(text_col), n)).alias("_grams")
    ).withColumn("_bases", F.transform(F.col("_grams"), lambda g: md5_int(g) % MINHASH_P))
    sig_cols = [
        F.array_min(
            F.transform(F.col("_bases"), lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P)
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    ]
    return staged.select(F.col(id_col), *sig_cols)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket, self-join
    buckets, dedup pairs.  Returns (id_a, id_b) candidates.

    At scale this is the only shuffle: by (band, bucket), where bucket
    collisions are rare by construction.
    """
    # ALL bands from ONE pass over the signature frame: the per-band
    # unionByName re-executed the whole minhash signature pipeline (md5 per
    # gram × k affine transforms) once per band — differently-aliased
    # union branches are not reused; posexplode emits (band, bucket) rows
    # from a single evaluation (r11).
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"sig_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]
    buckets = signatures.select(
        F.col(id_col), F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


SIMHASH_BITS = 60  # md5_int is a 60-bit hash — bits 60..63 carry no signal


def simhash60(text: Column | str) -> Column:
    """60-bit SimHash over distinct tokens: for each bit, sum ±1 across
    token hashes and take the sign.  Token hashes are md5-derived
    (:func:`~olap_sus_spark.operators.text.md5_int`), so the value is
    **engine-portable** — the DuckDB oracle reproduces it bit-exactly from
    the same md5 arithmetic (queries/text_pipeline.py).

    One ``aggregate()`` pass with a 60-counter array accumulator: the md5
    transform is evaluated exactly once per row (60 separate per-bit
    aggregates would re-evaluate the outer hash expression per bit — the
    HOF re-evaluation gotcha).  Bit j is tested as ``(h % 2^(j+1)) >= 2^j``
    — pure BIGINT modulo, exact in every engine (shift-by-column isn't
    expressible in the DataFrame API, and float division would lose bits
    past 2⁵³).  Per-row, no shuffle."""
    # one-call server-side literal (operators/onecall.py): F.lit(list)
    # expands client-side to SIMHASH_BITS scalar-lit py4j round trips
    powers = lit_bigints([2**j for j in range(SIMHASH_BITS)])
    hashes = F.transform(F.array_distinct(tokens(text)), md5_int)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a
            + F.when((h % (p + p)) >= p, F.lit(1)).otherwise(F.lit(-1)).cast("bigint"),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force within label blocks).

    Blocks on the `label` column when present (analogous to lang blocking);
    at 100 TB swap the block for an IVF/LSH bucket (similarity.py).
    """
    from olap_sus_spark.operators.similarity import dot, norm

    # Per-vector norms price once per VECTOR, not once per pair (r10, the
    # embedding_dup_pairs_lsh discipline): an inline cosine re-folds both
    # norms for every within-label pair.  Staged sqrt(fold(x²)) is bit-
    # identical and the division tree is unchanged.
    v = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"), F.col("label")
    ).withColumn("_n", norm(F.col("v")))
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.col("_n").alias("na"), "label",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
        F.col("_n").alias("nb"), "label",
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    # keep_ge: one 64-dim dot fold per within-label pair (a plain filter
    # would push the fold into the join condition and re-evaluate it in
    # the projection for survivors — VERDICT r10 #4)
    return keep_ge(
        pairs.select(
            "id_a", "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        ),
        "cosine",
        threshold,
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_tables: int = 12,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at the 100 TB shape: candidate pairs
    come from SRP-LSH bucket collisions (operators/similarity.srp_buckets —
    the same signature family the ANN index maintains), verified by exact
    cosine.  This is the scale path :func:`embedding_dup_pairs` documents:
    label-blocking needs a label and degenerates to all-pairs within hot
    labels; LSH blocks are corpus-size-adaptive and the only shuffle is the
    (table, bucket) collision join.  Recall follows the SRP collision
    bound: two vectors at cosine c collide in one table with probability
    (1 − acos(c)/π)^bits, amplified across tables.

    ``n_bits=None`` (the default) sizes signatures with
    ``auto_bits(N, target_bucket=8)`` — NON-NEGOTIABLE at scale, and with a
    much SMALLER occupancy target than the ANN probes use: pair generation
    pays Σ occupancy² noise candidates, so random-collision occupancy must
    be a small constant (true near-dup groups still collide — per-pair
    collision probability (1−θ/π)^bits depends on the signature, not the
    bucket count — and their pairs are the answer, inherently quadratic in
    group size like jaccard_pairs; use dedup_near_clusters for the
    linear-output shape).  The ×100 probe history (PLANS.md round-4):
    4 fixed bits → >70 GB spill, OOM; ANN's 256-occupancy target → 235M
    noise candidates, still spilling; occupancy 8 → bounded.  Recall at the
    near-dup regime stays high (cosine 0.95, 15 bits, 12 tables → ~93%);
    low thresholds like 0.3 are NOT the SRP regime — bucket recall decays
    exponentially in bits there, identically mirrored by the oracle.
    """
    from olap_sus_spark.operators.similarity import auto_bits, srp_buckets

    # IDS ONLY through the collision join: the candidate stage is the
    # quadratic-in-occupancy part, so it must shuffle 24-byte (id, t,
    # bucket) rows, never KB-scale vectors — carrying vectors here spilled
    # >70 GB at the ×100 probe even with auto-sized buckets (duplicate-
    # dense corpora collide by design).  Vectors move only for the DEDUPED
    # pairs, in two equi-joins on id.
    if buckets is not None:
        # maintained-index serving path: a persisted (id, .., t, bucket)
        # table (load_or_build_srp_index) replaces the inline signature pass
        ids = buckets.select(id_col, "t", "bucket")
    else:
        if n_bits is None:
            n_bits = auto_bits(emb.count(), target_bucket=8)
        # Materialize the (id, t, bucket) triples ONCE: the collision
        # self-join would otherwise run the signature pass (12×bits
        # fold-dot products per vector — by far the dominant cost) on BOTH
        # sides.  24-byte rows × L tables stay tiny; at warehouse scale the
        # maintained SRP index table replaces this per-job checkpoint.
        ids = (
            srp_buckets(emb, dim, n_tables, n_bits, id_col, vec_col)
            .select(id_col, "t", "bucket")
            .localCheckpoint(eager=True)
        )
    pairs = (
        ids.select(F.col(id_col).alias("id_a"), "t", "bucket")
        .join(ids.select(F.col(id_col).alias("id_b"), "t", "bucket"), ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    from olap_sus_spark.operators.similarity import dot, norm

    # Per-vector norms price once per VECTOR, not once per pair — computing
    # cosine(va, vb) inline would fold both norms again for every candidate
    # (3 array folds/pair instead of 1).  sqrt(fold(x²)) is deterministic,
    # so the precomputed product is bit-identical to the oracle's inlined
    # norms.
    v = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_n", norm(F.col("_v")))
    # keep_ge: one 64-dim dot fold per candidate pair (a plain filter
    # would push the fold into the topmost join condition and re-evaluate
    # it in the projection for survivors — VERDICT r10 #4)
    return keep_ge(
        pairs.join(
            v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"),
                     F.col("_n").alias("na")),
            "id_a",
        )
        .join(
            v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"),
                     F.col("_n").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        ),
        "cosine",
        threshold,
    )


def contaminated_docs(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval decontamination: for each training document, count the
    distinct token n-grams it shares with ANY eval-set document — the
    benchmark-leakage check every pre-training pipeline runs before
    training.  Returns (doc_id, n_hits) for contaminated docs only.

    Scale shape: both sides explode to 60-bit gram *hashes* (never text),
    the eval side is deduplicated (a benchmark suite is tiny next to the
    corpus — typically broadcastable), and the join is equi on the hash.
    Work is O(corpus grams); nothing quadratic.
    """
    def gram_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(gram_hash_array(F.col(text_col), n)).alias("g"),
        )

    eval_grams = gram_hashes(evalset).select("g").distinct()
    return (
        gram_hashes(train)
        .join(eval_grams, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def star_edges(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Star-reduced candidate edges: per min-gram block, connect every member
    to the block's smallest id (the hub) instead of all-pairs, then verify
    each edge with exact n-gram Jaccard.

    This is the mega-cluster-safe edge generator: a document duplicated m
    times produces m−1 edges instead of m²/2 pairs, so the edge count —
    and the connected-components input — stays LINEAR in corpus size no
    matter how pathological the duplicate density (boilerplate pages at
    100 TB are exactly this).  The cost is recall through the hub only:
    two docs similar to each other but not to the hub are not directly
    linked (they still cluster if a verified path exists).  All joins are
    equi (block, then hub id); nothing quadratic anywhere.
    """
    grams = df.select(
        F.col(id_col),
        gram_hash_array(F.col(text_col), n).alias("grams_h"),
    ).withColumn("block", F.array_min(F.col("grams_h")).cast("string"))
    hubs = grams.groupBy("block").agg(F.min(id_col).alias("hub_id"))
    members = (
        grams.join(hubs, "block")
        .filter(F.col(id_col) != F.col("hub_id"))
        .select(F.col("hub_id"), F.col(id_col).alias("id_b"), F.col("grams_h").alias("grams_b"))
    )
    hub_grams = grams.select(
        F.col(id_col).alias("hub_id"), F.col("grams_h").alias("grams_a")
    )
    pairs = members.join(hub_grams, "hub_id")
    # keep_ge: one jaccard evaluation per hub edge (see jaccard_pairs)
    return keep_ge(
        pairs.select(
            F.col("hub_id").alias("id_a"), "id_b",
            jaccard_of("grams_a", "grams_b").alias("jaccard"),
        ),
        "jaccard",
        threshold,
    )


# Bump when the clustering ALGORITHM changes (gram hashing, star-edge
# construction, CC labeling) or the persisted layout changes: the manifest
# catches data changes but a persisted cluster map built by older code
# would otherwise be silently reused.
# v2: location-keyed path + manifest staleness + persisted hub table →
#     incremental append refresh (refresh_cluster_index).
_CLUSTER_ALGO_VERSION = "v2"

_SRC = "src"


def cluster_index_path(
    sf_dir: str, view: CorpusView, threshold: float, n: int = 3
) -> str:
    """Index directory for one (corpus dir, corpus view, threshold, n):
    the view name is in the key, so cluster maps over two views of one
    corpus never share a directory."""
    import os

    from olap_sus_spark.operators.index_store import index_path

    return index_path(
        "ndclust",
        f"{_CLUSTER_ALGO_VERSION}|{os.path.abspath(sf_dir)}|{view.name}|{threshold}|{n}",
    )


def _grams_blocks(docs: DataFrame, n: int, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, grams_h, block [, src]) — the shared staging frame of the star
    topology: block = the doc's min gram hash (its ONE block)."""
    from pyspark.sql import functions as F

    extra = [F.col(_SRC)] if _SRC in docs.columns else []
    return docs.select(
        F.col(id_col),
        gram_hash_array(F.col(text_col), n).alias("grams_h"),
        *extra,
    ).withColumn("block", F.array_min(F.col("grams_h")).cast("string"))


def star_labels(
    g: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Direct (doc, cluster_id) labels for the star topology — the closed
    form of ``dedup_clusters`` over :func:`star_edges` (r10).

    Star components have diameter ≤ 2 by construction: every doc belongs to
    exactly ONE block (its min gram hash), edges only connect a block's hub
    (its smallest doc id) to members that verify at ``threshold``, and the
    hub id is the smallest id of the whole component.  Min-label propagation
    therefore converges to: hub → its own id, verified member → hub id,
    unverified member → its own id.  Computing that directly replaces the
    iterative CC loop (per-round join + aggregate + checkpoint + count)
    with ONE aggregation and ONE join — same output, proven by the shared
    transitive-closure oracle and the refresh==rebuild equality tests.

    ``g`` is a :func:`_grams_blocks` frame (id, grams_h, block [, extra]).
    The hub's gram set rides out of the same aggregation via ``min_by``
    (doc ids are unique within a block, so the argmin is unambiguous).
    """
    hubs = g.groupBy("block").agg(
        F.min(id_col).alias("hub_id"),
        F.min_by("grams_h", id_col).alias("hub_grams"),
    )
    return g.join(hubs, "block").select(
        F.col(id_col),
        F.when(F.col(id_col) == F.col("hub_id"), F.col(id_col))
        .when(jaccard_of("hub_grams", "grams_h") >= threshold, F.col("hub_id"))
        .otherwise(F.col(id_col))
        .alias("cluster_id"),
        *extra,
    )


def _cluster_table(sf_dir: str, view: CorpusView, threshold: float, n: int):
    from olap_sus_spark.operators import index_store as ix

    return ix.SrcTable(
        cluster_index_path(sf_dir, view, threshold, n),
        sf_dir,
        TABLE,
        {"clusters": (("cluster_id",), 4), "hubs": (("block",), 4)},
    )


def load_or_build_cluster_index(
    spark,
    sf_dir: str,
    view: CorpusView,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Return the (doc_id, cluster_id) near-dup cluster map for the corpus
    at ``sf_dir``, building + persisting it on first use — a per-file
    maintained table on index_store.SrcTable (location-keyed path,
    per-part-file manifest for staleness, mismatch → safe full staged
    rebuild).

    Connected components is the single most expensive computation in the
    dedup family; serving queries (keep-best corpus selection, membership
    lookups) must NOT re-cluster the corpus per call — they probe this
    table (join + window), exactly like ANN probes over the bucket table.
    Pass a ``CorpusView`` (operators/corpus_view.py) as ``view``: it
    decides the rows clustered and keys the index path.

    Layout: ``path/clusters`` (doc_id, cluster_id; src-partitioned, sorted
    on cluster_id so footer stats prune membership probes) plus
    ``path/hubs`` (block, hub_id, grams_h) — the per-block star centers
    with their gram sets, which is exactly the state an APPEND refresh
    needs: a new doc either verifies against its block's existing hub
    (joining that cluster) or founds a new block (becoming its hub).  See
    :func:`refresh_cluster_index`."""
    from pyspark.sql import functions as F

    from olap_sus_spark.operators import index_store as ix

    t = _cluster_table(sf_dir, view, threshold, n)

    def build(staging: str) -> dict:
        g = _grams_blocks(view.docs(spark, sf_dir), n, id_col)
        # The gram arrays feed the hub table AND the labeling join —
        # materialize the (expensive) shingling pass once.
        g = g.persist()
        # r10: direct star labeling (star_labels) — one aggregation + one
        # join replace the star_edges joins + the iterative CC loop; output
        # proven identical by the shared closure oracle and the
        # refresh==rebuild tests.  The hub's src rides the same min_by agg.
        hubs = g.groupBy("block").agg(
            F.min(id_col).alias("hub_id"),
            F.min_by("grams_h", id_col).alias("hub_grams"),
            F.min_by(_SRC, id_col).alias("hub_src"),
        )
        hub_rows = hubs.select(
            "block", "hub_id", F.col("hub_grams").alias("grams_h"),
            F.col("hub_src").alias(_SRC),
        )
        clusters = g.join(hubs, "block").select(
            F.col(id_col),
            F.when(F.col(id_col) == F.col("hub_id"), F.col(id_col))
            .when(jaccard_of("hub_grams", "grams_h") >= threshold, F.col("hub_id"))
            .otherwise(F.col(id_col))
            .alias("cluster_id"),
            F.col(_SRC),
        )
        t.write(staging, "clusters", clusters)
        t.write(staging, "hubs", hub_rows)
        max_id = g.agg(F.max(id_col)).first()[0]
        g.unpersist()
        return {
            "max_doc_id": None if max_id is None else int(max_id),
            "threshold": threshold,
            "n": n,
        }

    t.load_or_build(build)
    return ix.serve(spark, t.path, "clusters").select(id_col, "cluster_id")


def refresh_cluster_index(
    spark,
    sf_dir: str,
    view: CorpusView,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental cluster-map maintenance for an APPEND-ONLY corpus with
    monotonically increasing doc ids — O(ingested docs) instead of a full
    re-shingle + re-cluster pass.

    Why appends are exactly incremental here: star edges only ever connect
    a block's hub (its smallest doc id) to its members, so components are
    stars and every doc's cluster_id is its block hub's id (or its own when
    unverified).  A new doc with id above every existing id can never
    displace a hub; it either (a) lands in an existing block → verify
    against the PERSISTED hub grams → cluster_id = hub_id if Jaccard ≥
    threshold else its own id, or (b) founds a new block among this
    batch's docs → the batch's smallest id becomes hub.  Both are the
    labels a fresh full build would assign — proven by the
    refresh==rebuild equality test.

    ``view`` is the same ``CorpusView`` the map was built over (it keys
    the path).  Non-append changes (rewritten or removed part files) and
    id-order violations — the augmented view's derived ids interleave
    across batches — fall back to the safe full rebuild."""
    import os

    from pyspark.sql import functions as F

    from olap_sus_spark.operators import index_store as ix

    t = _cluster_table(sf_dir, view, threshold, n)

    def step(man: dict, d) -> dict | None:
        if d.changed or d.removed:
            return None
        g = _grams_blocks(view.docs(spark, sf_dir, t.file_paths(d.added)), n, id_col)
        g = g.persist()
        try:
            min_new = g.agg(F.min(id_col)).first()[0]
            if min_new is None:
                return {}
            if man["max_doc_id"] is not None and min_new <= man["max_doc_id"]:
                # an id at or below the existing range could displace a hub
                # and re-center its star — not expressible as an append
                return None
            hubs_old = spark.read.parquet(os.path.join(t.path, "hubs")).select(
                "block", "hub_id", F.col("grams_h").alias("hub_grams")
            )
            m = g.join(hubs_old, "block", "left")
            matched = m.filter(F.col("hub_id").isNotNull()).select(
                F.col(id_col),
                F.when(
                    jaccard_of("grams_h", "hub_grams") >= threshold, F.col("hub_id")
                ).otherwise(F.col(id_col)).alias("cluster_id"),
                F.col(_SRC),
            )
            # blocks new to the corpus: the batch's smallest id founds the hub
            fresh = m.filter(F.col("hub_id").isNull()).drop("hub_id", "hub_grams")
            new_hubs = fresh.groupBy("block").agg(F.min(id_col).alias("hub_id"))
            fresh = fresh.join(new_hubs, "block")
            hub_grams = fresh.filter(F.col(id_col) == F.col("hub_id")).select(
                F.col("block"), F.col("grams_h").alias("hub_grams")
            )
            fresh_labeled = fresh.join(hub_grams, "block").select(
                F.col(id_col),
                F.when(F.col(id_col) == F.col("hub_id"), F.col(id_col))
                .when(
                    jaccard_of("grams_h", "hub_grams") >= threshold, F.col("hub_id")
                )
                .otherwise(F.col(id_col))
                .alias("cluster_id"),
                F.col(_SRC),
            )
            new_hub_rows = fresh.filter(F.col(id_col) == F.col("hub_id")).select(
                "block", "hub_id", "grams_h", _SRC
            )
            t.write(t.path, "clusters", matched.unionByName(fresh_labeled), d.added)
            t.write(t.path, "hubs", new_hub_rows, d.added)
            return {"max_doc_id": int(g.agg(F.max(id_col)).first()[0])}
        finally:
            g.unpersist()

    t.refresh(
        step,
        lambda: load_or_build_cluster_index(spark, sf_dir, view, threshold, n, id_col),
    )
    return ix.serve(spark, t.path, "clusters").select(id_col, "cluster_id")


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup *clusters* from candidate pairs: connected components by
    iterative min-label propagation (the Pregel pattern as DataFrame joins).

    Emitting all pairs is quadratic in cluster size — at 100 TB the right
    output is one ``(doc, cluster_id)`` row per document, cluster_id = the
    smallest member id.  Each iteration: every node adopts the minimum label
    among itself and its neighbors; converges in O(cluster diameter) rounds
    (near-dup clusters are shallow).  ``localCheckpoint`` truncates lineage
    per round so plans don't grow unboundedly.
    """
    # Both edge orientations from ONE generator: unionByName duplicated
    # the whole candidate-pair pipeline (shingling + blocked self-join +
    # per-pair jaccard — the dominant term) because differently-aliased
    # exchanges are not reused; explode evaluates its input once and emits
    # two rows (r11, the _mutual_nn_from_buckets fix applied here).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        # Materialize once: the candidate-pair pipeline upstream must not
        # be re-executed on every iteration — edges are re-read by every
        # round's join AND the convergence check.
        .localCheckpoint(eager=True)
    )
    # Only edge ENDPOINTS can ever adopt a label other than their own id: a
    # node with no edges never receives a neighbor_min, so its
    # least(label, coalesce(null, label)) is a fixpoint from round one.
    # Iterating the propagation over the endpoint set only makes every
    # round's join/aggregate/checkpoint/count O(edge endpoints) instead of
    # O(corpus) (r10, guide §1.2 — on a near-dup corpus the duplicate
    # minority is a small fraction); the singleton majority is stitched
    # back with ONE left join at the end, label = own id.  Endpoints are
    # read from the symmetrized edge list, so `src` covers both sides.
    labels = edges.select("src").distinct().select(
        "src", F.col("src").alias("label")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides in the frame itself: one checkpoint
        # materializes both the new labels and the change count, so each
        # round is exactly one join+groupBy+join pipeline — no separate
        # old-vs-new comparison join.  eager=False + count folds the
        # checkpoint materialization INTO the convergence count's job
        # (one job per round instead of an eager-materialize job + a
        # count job); the count computes every partition, so the persisted
        # RDD is complete before the next round reads it (r11, the
        # serial-barrier cut — VERDICT r10 #5).
        new_labels = (
            labels.join(neighbor_min, "src", "left")
            .select(
                "src",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("label") > F.coalesce("nbr_label", "label")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return (
        nodes.select(F.col(id_col).alias("src"))
        .join(labels, "src", "left")
        .select(
            F.col("src").alias(id_col),
            F.coalesce("label", "src").alias("cluster_id"),
        )
    )
