"""Registered queries for the text-analysis + dedup operator families
(operators/text.py, operators/dedup.py), each with a DuckDB oracle.

Duplicate scenarios are synthesized deterministically inside the query (the
fixture corpus has no exact duplicates): every 7th document is unioned back
with a shifted id (exact dup) and every 11th with one appended token
(near dup).  Both engines build the same augmented corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table, spread_compute
from olap_sus_spark.operators import dedup as dd
from olap_sus_spark.operators import text as tx
from olap_sus_spark.operators.corpus_view import AUG, EVAL97, _augment
from olap_sus_spark.operators.prefix import running_total
from olap_sus_spark.registry import register

# ---------------------------------------------------------------------------
# SQL helpers (the DuckDB twins of operators/text.py expressions).
# ---------------------------------------------------------------------------
_TOKENS_SQL = "regexp_extract_all(lower({t}), '[a-z0-9]+')"


def _md5_int_sql(x: str) -> str:
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _ngrams_expr_sql(toks: str, n: int = 3) -> str:
    join = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} "
        f"THEN list_transform(range(1, len({toks}) - {n - 2}), i -> {join}) "
        f"ELSE [] END"
    )


_AUG_SQL = """
aug AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || ' zzduplicado', lang, source, n_chars
    FROM documents WHERE doc_id % 11 = 0
)
"""


def augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every consumer immediately runs n-gram/signature hashing over the
    # text; spread the (narrow single-row-group) scan across cores first —
    # no-op on a wide input (catalog.spread_compute).
    return _augment(spread_compute(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Quality features.
# ---------------------------------------------------------------------------
_QUALITY_ORACLE = f"""
SELECT
    doc_id,
    length(text) AS q_chars,
    len({_TOKENS_SQL.format(t='text')}) AS q_tokens,
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform({_TOKENS_SQL.format(t='text')}, t -> CAST(length(t) AS BIGINT))),
        (a, b) -> a + b) AS DOUBLE)
        / CAST(greatest(len({_TOKENS_SQL.format(t='text')}), 1) AS DOUBLE) AS q_mean_token_len,
    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) AS q_punct_ratio,
    CAST(len(list_filter({_TOKENS_SQL.format(t='text')},
        t -> list_contains(['the','and','of','to','is','a'], t))) AS DOUBLE)
        / CAST(greatest(len({_TOKENS_SQL.format(t='text')}), 1) AS DOUBLE) AS q_stopword_ratio
FROM documents
"""


@register("text_quality_features", oracle=_QUALITY_ORACLE)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    return tx.quality_features(docs).select(
        "doc_id", "q_chars", "q_tokens", "q_mean_token_len", "q_punct_ratio", "q_stopword_ratio"
    )


# ---------------------------------------------------------------------------
# Per-source calibrated quality cut.  A single global quality threshold
# biases the kept mix toward whichever source happens to score high (e.g.
# prose-heavy feeds beat code feeds on stopword density) — production
# pipelines calibrate the cut PER SOURCE: keep each source's top half by
# score.  Exact per-source quantiles would need a data-sized sort, so the
# scale formulation is histogram quantiles: scores quantize to 1000 fixed
# bins, the per-(source, bin) histogram is one groupBy, the cumulative walk
# runs over ≤1000 rows per source (bounded window), and the cutoff bin
# (largest bin whose top-down cumulative count still reaches
# ceil(n_total/2)) broadcasts back onto the docs.  Ties at the cutoff bin
# keep everyone in it — deterministic overshoot, never a row-order coin
# flip.  Bin edges compare bit-identical doubles (the proven
# q_stopword_ratio fold), so the bucketing agrees across engines.
# ---------------------------------------------------------------------------
_CUT_BINS = 1000

_CALIBRATED_CUT_ORACLE = f"""
WITH s AS (
    SELECT doc_id, source,
        CAST(LEAST(floor((CAST(len(list_filter({_TOKENS_SQL.format(t='text')},
            t -> list_contains(['the','and','of','to','is','a'], t))) AS DOUBLE)
            / CAST(greatest(len({_TOKENS_SQL.format(t='text')}), 1) AS DOUBLE))
            * {_CUT_BINS}), {_CUT_BINS - 1}) AS INT) AS q_bin
    FROM documents
),
h AS (SELECT source, q_bin, COUNT(*) AS cnt FROM s GROUP BY source, q_bin),
c AS (
    SELECT source, q_bin,
           SUM(cnt) OVER (PARTITION BY source ORDER BY q_bin DESC) AS cum
    FROM h
),
t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_total FROM h GROUP BY source),
cut AS (
    SELECT c.source, CAST(MAX(c.q_bin) AS INT) AS cutoff_bin
    FROM c JOIN t USING (source)
    WHERE c.cum >= CAST(floor((t.n_total + 1) / 2.0) AS BIGINT)
    GROUP BY c.source
)
SELECT s.doc_id, s.source, s.q_bin, cut.cutoff_bin,
       CAST(CASE WHEN s.q_bin >= cut.cutoff_bin THEN 1 ELSE 0 END AS INT)
           AS is_kept
FROM s JOIN cut USING (source)
"""


@register("quality_calibrated_cut", oracle=_CALIBRATED_CUT_ORACLE)
def quality_calibrated_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each source's top half by stopword-density quality score, with
    the threshold found on a 1000-bin histogram instead of a full sort."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    scored = tx.quality_features(docs).select(
        "doc_id",
        "source",
        F.least(
            F.floor(F.col("q_stopword_ratio") * _CUT_BINS), F.lit(_CUT_BINS - 1)
        ).cast("int").alias("q_bin"),
    )
    from pyspark.sql.window import Window

    hist = scored.groupBy("source", "q_bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.col("q_bin").desc())
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n_total"))
    cut = (
        cum.join(tot, "source")
        .filter(
            F.col("cum")
            >= F.floor((F.col("n_total") + F.lit(1)) / F.lit(2.0)).cast("bigint")
        )
        .groupBy("source")
        .agg(F.max("q_bin").alias("cutoff_bin"))
    )
    return scored.join(F.broadcast(cut), "source").select(
        "doc_id",
        "source",
        "q_bin",
        "cutoff_bin",
        F.when(F.col("q_bin") >= F.col("cutoff_bin"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_kept"),
    )


# Serving twin: the per-source histogram is a maintained src-partitioned
# partial table (operators/qualhist.py — additive, so EVERY maintenance
# case is partition-local: appends/rewrites recompute their own files,
# removals drop partitions; no full-rebuild case exists).  The cutoff side
# folds the index-sized partials instead of re-aggregating the corpus; the
# per-doc verdict pass stays the narrow map it always was.  Shares the
# from-scratch oracle — hash equality proves the maintained fold.
@register("quality_calibrated_cut_served", oracle=_CALIBRATED_CUT_ORACLE)
def quality_calibrated_cut_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from olap_sus_spark.operators import qualhist as qh

    partials = qh.load_or_build_quality_hist(spark, sf_dir)
    hist = partials.groupBy("source", "q_bin").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.col("q_bin").desc())
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n_total"))
    cut = (
        cum.join(tot, "source")
        .filter(
            F.col("cum")
            >= F.floor((F.col("n_total") + F.lit(1)) / F.lit(2.0)).cast("bigint")
        )
        .groupBy("source")
        .agg(F.max("q_bin").alias("cutoff_bin"))
    )
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", "source", qh.q_bin(F.col("text")).alias("q_bin")
    )
    return scored.join(F.broadcast(cut), "source").select(
        "doc_id",
        "source",
        "q_bin",
        "cutoff_bin",
        F.when(F.col("q_bin") >= F.col("cutoff_bin"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# BPE-style pre-token counting (LLM token-budget proxy).  Lookahead-free
# regex, so Java (Spark) and RE2 (DuckDB) extract identical pieces.
# ---------------------------------------------------------------------------
_BPE_ORACLE = """
SELECT
    doc_id,
    len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_pretokens
FROM documents
"""


@register("text_bpe_token_count", oracle=_BPE_ORACLE)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", tx.bpe_pretoken_count(F.col("text")).alias("n_pretokens"))


# ---------------------------------------------------------------------------
# Language ID (stopword-profile heuristic) — grouped confusion counts.
# ---------------------------------------------------------------------------
def _langid_sql(t: str) -> str:
    toks = _TOKENS_SQL.format(t=t)
    structs = ", ".join(
        "{{'s': -len(list_filter({toks}, t -> list_contains({words}, t))), 'c': '{code}'}}".format(
            toks=toks,
            words="[" + ",".join(f"'{w}'" for w in tx.LANG_PROFILES[code]) + "]",
            code=code,
        )
        for code in sorted(tx.LANG_PROFILES)
    )
    return f"(list_sort([{structs}]))[1].c"


_LANGID_ORACLE = f"""
SELECT lang, {_langid_sql('text')} AS lang_pred, COUNT(*) AS quantidade
FROM documents
GROUP BY 1, 2
"""


@register("text_language_id", oracle=_LANGID_ORACLE)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", tx.langid(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("quantidade"))
    )


# ---------------------------------------------------------------------------
# Document fingerprints (md5 token-set + rolling min:max n-gram hash).
# ---------------------------------------------------------------------------
_TOKS = _TOKENS_SQL.format(t="text")
_GRAMS = _ngrams_expr_sql(_TOKS)
_FP_ORACLE = f"""
SELECT
    doc_id,
    md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
    CAST(list_min(list_transform({_GRAMS}, g -> {_md5_int_sql('g')})) AS VARCHAR)
        || ':' ||
    CAST(list_max(list_transform({_GRAMS}, g -> {_md5_int_sql('g')})) AS VARCHAR) AS rolling_fp
FROM documents
"""


@register("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tx.fingerprint(F.col("text")).alias("fingerprint"),
        tx.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# Exact dedup over the augmented corpus.
# ---------------------------------------------------------------------------
_EXACT_DEDUP_ORACLE = f"""
WITH {_AUG_SQL}
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM aug
GROUP BY 1
"""


@register("dedup_exact", oracle=_EXACT_DEDUP_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(augmented_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard near-dup pairs.
# ---------------------------------------------------------------------------
# Set algebra over 60-bit gram hashes, mirroring operators/dedup.py (the
# hashes are paid for by the blocking key; Jaccard is identical barring a
# 60-bit collision).
_JACCARD_ORACLE = f"""
WITH {_AUG_SQL},
g0 AS (
    SELECT doc_id,
        list_distinct(list_transform(list_distinct({_GRAMS}), x -> {_md5_int_sql('x')}))
            AS grams
    FROM aug
),
g AS (
    SELECT doc_id, CAST(list_min(grams) AS VARCHAR) AS block, grams
    FROM g0
)
SELECT
    a.doc_id AS id_a,
    b.doc_id AS id_b,
    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5
"""


@register("dedup_jaccard_pairs", oracle=_JACCARD_ORACLE)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-gram blocking (1-row minhash): block sizes track duplicate
    clusters, not corpus size — unlike length-bucket blocking, which
    degenerates to O(n²) on uniform-length corpora."""
    return dd.jaccard_pairs(augmented_docs(spark, sf_dir), threshold=0.5)


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs, verified with exact Jaccard.
# ---------------------------------------------------------------------------
def _minhash_oracle(num_hashes: int = 8, bands: int = 2, rows: int = 4) -> str:
    p = dd.MINHASH_P
    sig_cols = ",\n        ".join(
        f"list_min(list_transform(bases, x -> ({a} * x + {b}) % {p})) AS sig_{i}"
        for i, (a, b) in enumerate(dd.MINHASH_AB[:num_hashes])
    )
    band_selects = "\n    UNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(
                f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {_AUG_SQL},
base AS (
    SELECT doc_id,
        list_transform(list_distinct({_GRAMS}), g -> {_md5_int_sql('g')} % {p}) AS bases
    FROM aug
),
sigs AS (
    SELECT doc_id,
        {sig_cols}
    FROM base
),
buckets AS (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
g AS (SELECT doc_id, list_distinct({_GRAMS}) AS grams FROM aug)
SELECT
    c.id_a, c.id_b,
    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE) AS jaccard
FROM cand c
JOIN g ga ON ga.doc_id = c.id_a
JOIN g gb ON gb.doc_id = c.id_b
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = augmented_docs(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, num_hashes=8)
    cand = dd.lsh_candidate_pairs(sigs, bands=2, rows_per_band=4)
    grams = docs.select(
        "doc_id", F.array_distinct(tx.token_ngrams(F.col("text"), 3)).alias("grams")
    )
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    verified = cand.join(ga, "id_a").join(gb, "id_b")
    jac = (
        F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
        / F.size(F.array_union("grams_a", "grams_b")).cast("double")
    )
    return verified.select("id_a", "id_b", jac.alias("jaccard"))


# ---------------------------------------------------------------------------
# SimHash — md5-derived 60-bit token hashes, so the sign-vote aggregation is
# pure integer arithmetic and DuckDB reproduces every bit.  Bit j of a hash
# is tested as (h % 2^(j+1)) >= 2^j on both sides (no shift-by-column in the
# DataFrame API; float division would lose bits past 2^53).
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    votes = ",\n        ".join(
        f"CAST(SUM(CASE WHEN (h % {2 ** (j + 1)}) >= {2**j} THEN 1 ELSE -1 END)"
        f" AS BIGINT) AS v{j}"
        for j in range(dd.SIMHASH_BITS)
    )
    pack = "\n         + ".join(
        f"(CASE WHEN v.v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(dd.SIMHASH_BITS)
    )
    toks = _TOKENS_SQL.format(t="text")
    return f"""
WITH t AS (SELECT doc_id, list_distinct({toks}) AS toks FROM documents),
u AS (
    SELECT doc_id, unnest(list_transform(toks, x -> {_md5_int_sql('x')})) AS h
    FROM t
),
v AS (SELECT doc_id, {votes} FROM u GROUP BY doc_id)
SELECT d.doc_id,
       CAST({pack} AS BIGINT) AS simhash
FROM t d LEFT JOIN v ON v.doc_id = d.doc_id
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", dd.simhash60(F.col("text")).alias("simhash"))


# ---------------------------------------------------------------------------
# Composite corpus-prep pipeline — the end-to-end shape a pre-training data
# pipeline runs: quality filter → language filter → exact-dedup canonical
# selection.  Every stage reuses an operator that is individually
# oracle-verified above; this query verifies their *composition*.
# ---------------------------------------------------------------------------
_CORPUS_CLEAN_ORACLE = f"""
WITH {_AUG_SQL},
q AS (
    SELECT doc_id, text,
        len({_TOKS}) AS q_tokens,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS q_punct_ratio,
        {_langid_sql('text')} AS lang_pred
    FROM aug
),
kept AS (
    SELECT * FROM q
    WHERE q_tokens >= 5 AND q_punct_ratio <= 0.3 AND lang_pred = 'en'
)
SELECT
    md5(text) AS content_hash,
    MIN(doc_id) AS doc_id,
    COUNT(*) AS n_copies,
    MIN(q_tokens) AS q_tokens
FROM kept
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Deterministic stratified sampling + split assignment.  Training-data
# pipelines need REPRODUCIBLE sampling (re-running the pipeline must pick
# the same rows — Bernoulli rng seeds don't survive engine/partitioning
# changes).  Mechanism: md5 of the stable key, compared as hex text —
# portable bit-for-bit across engines; stratum rates differ per language
# (downsample the dominant 'en'); a second, independent hash slice assigns
# train/valid/test so split membership is uncorrelated with the sampling
# decision.  Zero shuffle: pure per-row expressions, filter pushes to scan.
# --------------------------------------------------------------------------
_SAMPLE_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 2) < '14'
            THEN 'valid'
            WHEN substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 2) < '28'
            THEN 'test' ELSE 'train' END AS particao
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE lang WHEN 'en' THEN '40' ELSE '80' END
"""


@register("stratified_sample_split", oracle=_SAMPLE_ORACLE)
def stratified_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    keep = F.substring(F.md5(key), 1, 2) < F.when(
        F.col("lang") == "en", "40"
    ).otherwise("80")
    split_slice = F.substring(F.md5(F.concat(F.lit("s"), key)), 1, 2)
    return docs.filter(keep).select(
        "doc_id",
        "lang",
        F.when(split_slice < "14", "valid")
        .when(split_slice < "28", "test")
        .otherwise("train")
        .alias("particao"),
    )


@register("corpus_clean_pipeline", oracle=_CORPUS_CLEAN_ORACLE)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality → language → exact-dedup, one declarative plan: the filters
    and the content hash fuse into the scan stage, so the only shuffle is
    the dedup groupBy — the same shape at 100 TB."""
    docs = augmented_docs(spark, sf_dir)
    kept = docs.select(
        "doc_id", "text",
        tx.token_count(F.col("text")).alias("q_tokens"),
        tx.punct_ratio(F.col("text")).alias("q_punct_ratio"),
        tx.langid(F.col("text")).alias("lang_pred"),
    ).filter(
        (F.col("q_tokens") >= 5) & (F.col("q_punct_ratio") <= 0.3)
        & (F.col("lang_pred") == "en")
    )
    return (
        kept.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("q_tokens").alias("q_tokens"),
        )
    )


# The connected-components fixpoint (min label over the component) equals
# the minimum id reachable over the candidate-pair graph, which a DuckDB
# recursive CTE computes directly: reach = transitive closure of labels,
# then MIN per node.  Shared by both near-dup cluster queries; `src_cte`
# names the CTE holding the (doc_id, text-hash grams) population.
def _cc_tail_sql(src_cte: str, out_col: str) -> str:
    # Every CTE below the recursion is MATERIALIZED: inside WITH RECURSIVE
    # DuckDB does NOT auto-materialize multi-referenced CTEs (plain WITH
    # does), and the recursive term re-evaluates its inputs per iteration —
    # without the hints each closure step re-ran the whole gram+join
    # pipeline (measured: the g0 gram pass alone is ~14 min on the sf10
    # stage, and the un-hinted oracle ground >75 min vs ~1 pass hinted).
    # MATERIALIZED is purely an evaluation hint — result sets are
    # unchanged, and the sf0.001/sf0.01 gates re-verify the hash.
    return f"""
g0 AS MATERIALIZED (
    SELECT doc_id,
        list_distinct(list_transform(list_distinct({_GRAMS}), x -> {_md5_int_sql('x')}))
            AS grams
    FROM {src_cte}
),
g AS MATERIALIZED (SELECT doc_id, CAST(list_min(grams) AS VARCHAR) AS block, grams FROM g0),
p AS MATERIALIZED (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5
),
e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
reach AS (
    SELECT doc_id AS doc, doc_id AS lbl FROM {src_cte}
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.doc
)
SELECT doc AS doc_id, MIN(lbl) AS {out_col} FROM reach GROUP BY doc
"""


_CLEAN_NEARDUP_ORACLE = f"""
WITH RECURSIVE {_AUG_SQL},
q AS (
    SELECT doc_id, text,
        len({_TOKS}) AS q_tokens,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS q_punct_ratio,
        {_langid_sql('text')} AS lang_pred
    FROM aug
),
kept AS MATERIALIZED (
    SELECT doc_id, text FROM q
    WHERE q_tokens >= 5 AND q_punct_ratio <= 0.3 AND lang_pred = 'en'
),
{_cc_tail_sql('kept', 'keep_doc')}
"""


@register("corpus_clean_neardup", oracle=_CLEAN_NEARDUP_ORACLE)
def corpus_clean_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full prep pipeline ending in *near*-dup suppression: quality +
    language filters, then MinHash-free blocked Jaccard clustering over the
    survivors; output is one row per kept document with its cluster
    representative (keep_doc) — linear in corpus size, the scale shape."""
    docs = augmented_docs(spark, sf_dir)
    kept = docs.select(
        "doc_id", "text",
        tx.token_count(F.col("text")).alias("q_tokens"),
        tx.punct_ratio(F.col("text")).alias("q_punct_ratio"),
        tx.langid(F.col("text")).alias("lang_pred"),
    ).filter(
        (F.col("q_tokens") >= 5) & (F.col("q_punct_ratio") <= 0.3)
        & (F.col("lang_pred") == "en")
    )
    pairs = dd.jaccard_pairs(kept, threshold=0.5)
    return dd.dedup_clusters(pairs, kept.select("doc_id")).withColumnRenamed(
        "cluster_id", "keep_doc"
    )


_NEAR_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_AUG_SQL},
{_cc_tail_sql('aug', 'cluster_id')}
"""


@register("dedup_near_clusters", oracle=_NEAR_CLUSTERS_ORACLE)
def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline at its scale shape: blocked-Jaccard candidate
    pairs -> connected components (iterative min-label propagation) -> one
    row per doc with its cluster representative.  The oracle replays the
    fixpoint as a DuckDB recursive-CTE transitive closure + MIN(label)."""
    docs = augmented_docs(spark, sf_dir)
    verified = dd.jaccard_pairs(docs, threshold=0.5)
    return dd.dedup_clusters(verified, docs.select("doc_id"))


# Star-reduced variant: per-block hub edges instead of all-pairs.  A doc
# duplicated m times contributes m−1 verified edges, not m²/2 — the edge
# set (and the CC input) stays linear under boilerplate mega-clusters,
# which is what actually breaks pair-emitting dedup at 100 TB (the ×100
# probe OOMed the all-pairs path when replicas merged into one cluster).
def _cc_star_ctes(src_cte: str) -> str:
    """The star-edge connected-components CTE chain WITHOUT a final select,
    so downstream oracles (keep-best selection) can keep composing."""
    # MATERIALIZED hints for the same reason as _cc_tail_sql: under WITH
    # RECURSIVE the recursive term re-evaluates un-materialized inputs
    # per iteration (g is referenced three times here even before the
    # recursion).  Hint-only change — result sets identical.
    return f"""
g0 AS MATERIALIZED (
    SELECT doc_id,
        list_distinct(list_transform(list_distinct({_GRAMS}), x -> {_md5_int_sql('x')}))
            AS grams
    FROM {src_cte}
),
g AS MATERIALIZED (SELECT doc_id, CAST(list_min(grams) AS VARCHAR) AS block, grams FROM g0),
hub AS MATERIALIZED (SELECT block, MIN(doc_id) AS hub_id FROM g GROUP BY block),
p AS MATERIALIZED (
    SELECT h.hub_id AS id_a, m.doc_id AS id_b
    FROM g m JOIN hub h ON m.block = h.block AND m.doc_id != h.hub_id
    JOIN g gh ON gh.doc_id = h.hub_id
    WHERE CAST(len(list_intersect(gh.grams, m.grams)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(gh.grams, m.grams))) AS DOUBLE) >= 0.5
),
e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
reach AS (
    SELECT doc_id AS doc, doc_id AS lbl FROM {src_cte}
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.doc
)"""


def _cc_star_tail_sql(src_cte: str, out_col: str) -> str:
    return f"""{_cc_star_ctes(src_cte)}
SELECT doc AS doc_id, MIN(lbl) AS {out_col} FROM reach GROUP BY doc
"""


_NEAR_CLUSTERS_STAR_ORACLE = f"""
WITH RECURSIVE {_AUG_SQL},
{_cc_star_tail_sql('aug', 'cluster_id')}
"""


@register("dedup_near_clusters_star", oracle=_NEAR_CLUSTERS_STAR_ORACLE)
def dedup_near_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-cluster-safe near-dup clustering: star-reduced verified edges
    -> connected components, computed in the star topology's CLOSED FORM
    (operators/dedup.py:star_labels — components have diameter ≤ 2, so the
    min-label fixpoint is one aggregation + one join; the r10 replacement
    for running the iterative CC loop here, output proven identical by the
    transitive-closure oracle).  Linear edge count regardless of duplicate
    density; the trade is recall through the hub only (docs similar to
    each other but not to the hub link only via a verified path)."""
    docs = augmented_docs(spark, sf_dir)
    g = dd._grams_blocks(docs, 3, "doc_id")
    return dd.star_labels(g, threshold=0.5)


@register("dedup_near_clusters_star_served", oracle=_NEAR_CLUSTERS_STAR_ORACLE)
def dedup_near_clusters_star_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving twin of :func:`dedup_near_clusters_star`: the SAME cluster
    map read from the MAINTAINED index table
    (operators/dedup.py:load_or_build_cluster_index) instead of
    re-shingling + re-verifying + re-running connected components per
    call.  One parquet scan of a (doc_id, cluster_id) table — this is
    what serving the dedup result looks like at 100 TB, where the star-CC
    rebuild is a corpus-version-level batch job, not a query.  Oracle is
    hash-identical to the from-scratch twin's, proving the index holds
    exactly the star-CC map."""
    idx = dd.load_or_build_cluster_index(spark, sf_dir, AUG, threshold=0.5)
    return idx.select("doc_id", "cluster_id")


# The corpus-SELECTION output: one kept document per near-dup cluster,
# chosen by quality (token count, ties → smallest doc_id).  This is what a
# training pipeline actually writes out after dedup — not the pair list,
# not even the cluster map, but the winning documents.  Shape on top of the
# star-CC map: one quality join + one window on cluster_id — linear output,
# one extra shuffle.
_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_AUG_SQL},
{_cc_star_ctes('aug')},
cc AS MATERIALIZED (SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc),
q AS (SELECT doc_id, CAST(len({_TOKS}) AS INT) AS q_tokens FROM aug),
r AS (
    SELECT cc.cluster_id, cc.doc_id, q.q_tokens,
           ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                              ORDER BY q.q_tokens DESC, cc.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY cc.cluster_id) AS n_membros
    FROM cc JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc, q_tokens, n_membros
FROM r WHERE rn = 1
"""


@register("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster, keep the highest-quality document (most
    tokens, deterministic doc_id tie-break) — the kept-corpus output a
    pre-training pipeline materializes.

    Serving shape: the cluster map is a MAINTAINED index table
    (operators/dedup.py:load_or_build_cluster_index — a per-file table on
    operators/index_store.SrcTable, like the ANN indexes), so
    this query is one equi-join + one window over cluster_id.  Re-running
    star-edge + connected-components per call — the single most expensive
    computation in the suite — would re-cluster the whole corpus on every
    serving query at 100 TB; the index amortizes it across corpus versions
    (bench reports the build separately as index_build.near_dup_clusters,
    like the ANN builds)."""
    docs = augmented_docs(spark, sf_dir)
    clusters = dd.load_or_build_cluster_index(spark, sf_dir, AUG, threshold=0.5)
    quality = docs.select("doc_id", tx.token_count(F.col("text")).alias("q_tokens"))
    # rank-1 window + COUNT window → ONE hash aggregate (r10): the window
    # pair forced a full sort of the corpus-sized member stream per
    # partition; max(struct(q_tokens, -doc_id)) + count partial-aggregate
    # map-side with no sort (guide §2.3/§2.4).  Selection-only: the struct
    # comparison is (q_tokens DESC, doc_id ASC) — the window's exact order.
    return (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("q_tokens").alias("_q"), (-F.col("doc_id")).alias("_negid")
                )
            ).alias("_best"),
            F.count(F.lit(1)).alias("n_membros"),
        )
        .select(
            "cluster_id",
            (-F.col("_best._negid")).alias("keep_doc"),
            F.col("_best._q").alias("q_tokens"),
            "n_membros",
        )
    )


# Membership lookup — the OTHER serving shape over the maintained cluster
# map: given a probe set of documents, return every member of their
# clusters ("what else duplicates this doc?").  On the index table this is
# filter + self-equi-join on cluster_id; the map is written range-
# partitioned + sorted on cluster_id, so at 100 TB the member-side lookup
# prunes to the files whose footer ranges cover the probed cluster ids.
_CLUSTER_MEMBERS_ORACLE = f"""
WITH RECURSIVE {_AUG_SQL},
{_cc_star_ctes('aug')},
cc AS MATERIALIZED (SELECT doc AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc)
SELECT p.doc_id AS probe_doc, p.cluster_id, m.doc_id AS member_doc
FROM cc p JOIN cc m ON m.cluster_id = p.cluster_id
WHERE p.doc_id % 97 = 0
"""


@register("dedup_cluster_members", oracle=_CLUSTER_MEMBERS_ORACLE)
def dedup_cluster_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup membership probe over the maintained cluster index: for a
    probe slice of documents (doc_id % 97 == 0 — a stand-in for 'the docs a
    user asked about'), every member of each probe's cluster.  Pure index
    probe: no shingling, no edge verification, no CC — two reads of the
    persisted map joined on cluster_id."""
    idx = dd.load_or_build_cluster_index(spark, sf_dir, AUG, threshold=0.5)
    probes = idx.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_doc"), "cluster_id"
    )
    members = idx.select(F.col("doc_id").alias("member_doc"), "cluster_id")
    return probes.join(members, "cluster_id").select(
        "probe_doc", "cluster_id", "member_doc"
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle + shard assignment — the final step before a
# training run writes its input shards: a seeded global permutation of the
# corpus, split into N shards with a stable position inside each shard.
# Scale shape: hash-ORDER shuffle, never a global sort — shard = hash mod N
# is a narrow projection, and the only shuffle is the per-shard position
# window (each shard ~|corpus|/N rows, embarrassingly parallel across
# shards).  Changing the seed reshuffles everything deterministically;
# md5-derived hashes make the permutation identical on any engine.
# ---------------------------------------------------------------------------
_SHUF_SEED, _SHUF_SHARDS = 42, 8

_SHARD_ORACLE = f"""
WITH h AS (
    SELECT doc_id,
           {_md5_int_sql(f"concat('shuf{_SHUF_SEED}_', doc_id)")} AS hv
    FROM documents
)
SELECT doc_id,
       CAST(hv % {_SHUF_SHARDS} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hv % {_SHUF_SHARDS}
                               ORDER BY hv, doc_id) AS INT) AS pos
FROM h
"""


@register("corpus_shard_assignment", oracle=_SHARD_ORACLE)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hv = tx.md5_int(
        F.concat(F.lit(f"shuf{_SHUF_SEED}_"), F.col("doc_id").cast("string"))
    )
    from pyspark.sql.window import Window

    staged = docs.select(
        "doc_id",
        hv.alias("_hv"),
        F.pmod(hv, F.lit(_SHUF_SHARDS)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(F.col("_hv"), F.col("doc_id"))
    return staged.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


# ---------------------------------------------------------------------------
# Overlapping token-window chunking — the document → training-sample
# transform every LLM data pipeline runs after cleaning/dedup (fixed
# context-window pieces with overlap so no span is split across a boundary
# without context).  Plan shape: tokens materialize ONCE per document at the
# Generate (explode) boundary, then each output row slices its own window —
# O(chunks × chunk_size) work, zero shuffles (fully narrow), so it scales
# embarrassingly with input splits.  Chunk starts come from
# sequence(0, n-1, stride), i.e. every stride-th token while < n.
# ---------------------------------------------------------------------------
_CHUNK, _STRIDE = 40, 30

_CHUNK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, toks,
           CAST(unnest(range(0, len(toks), {_STRIDE})) AS INT) AS inicio
    FROM t WHERE len(toks) >= 1
)
SELECT doc_id, inicio,
       array_to_string(toks[inicio + 1 : inicio + {_CHUNK}], ' ') AS chunk,
       CAST(LEAST({_CHUNK}, len(toks) - inicio) AS INT) AS n_tokens
FROM s
"""


@register("document_chunking", oracle=_CHUNK_ORACLE)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text").alias("toks")
    )
    starts = docs.filter(F.size("toks") >= 1).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_STRIDE))
        ).alias("inicio"),
    )
    return starts.select(
        "doc_id",
        "inicio",
        F.concat_ws(" ", F.slice("toks", F.col("inicio") + 1, _CHUNK)).alias("chunk"),
        F.least(F.lit(_CHUNK), F.size("toks") - F.col("inicio")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus source mixing — resample a multi-source corpus toward target
# mixture weights under a document budget (the "data mixture" step of LLM
# training-data prep).  Rates are DATA-DEPENDENT: rate(s) = min(1,
# budget·share(s)/n(s)) from a per-source count, broadcast back onto the
# scan; acceptance is the portable md5-slice (no RNG state, reproducible
# across engines/partitionings, same mechanism as stratified_sample_split).
# Plan: one tiny count agg + broadcast join + narrow filter.
# ---------------------------------------------------------------------------
_MIX_BUDGET = 300
_MIX_HEAVY = ("src0", "src1", "src2", "src3", "src4")  # weight 3, rest 1

_MIX_ORACLE = f"""
WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
w AS (
    SELECT source, n_docs,
           CASE WHEN source IN {str(tuple(_MIX_HEAVY))} THEN 3.0 ELSE 1.0 END
           AS peso
    FROM n
),
tot AS (SELECT SUM(peso) AS peso_total FROM w),
taxa AS (
    SELECT w.source,
           LEAST(1.0, {_MIX_BUDGET} * (w.peso / t.peso_total) / w.n_docs)
           AS aceite
    FROM w CROSS JOIN tot t
)
SELECT d.doc_id, d.source
FROM documents d
JOIN taxa ON taxa.source = d.source
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT)
      / 65536.0 < taxa.aceite
"""


@register("corpus_source_mixing", oracle=_MIX_ORACLE)
def corpus_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "peso",
            F.when(F.col("source").isin(*_MIX_HEAVY), F.lit(3.0)).otherwise(
                F.lit(1.0)
            ),
        )
    )
    tot = w.agg(F.sum("peso").alias("peso_total"))
    taxa = w.join(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(_MIX_BUDGET)
            * (F.col("peso") / F.col("peso_total"))
            / F.col("n_docs"),
        ).alias("aceite"),
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        / 65536.0
    )
    return (
        docs.join(F.broadcast(taxa), "source")
        .filter(frac < F.col("aceite"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Train/eval decontamination — benchmark-leakage check: count distinct
# 5-gram hashes each training doc shares with the (tiny) eval set.  Only
# 60-bit hashes move; the eval gram set is broadcast-sized by construction.
# ---------------------------------------------------------------------------
_DECONTAM_N = 5


def _decontam_oracle() -> str:
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _DECONTAM_N)
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS t FROM documents),
g AS (
    SELECT doc_id,
        list_distinct(list_transform({grams}, x -> {_md5_int_sql('x')})) AS grams
    FROM tk
),
eg AS (SELECT DISTINCT unnest(grams) AS h FROM g WHERE doc_id % 97 = 0),
tg AS (SELECT doc_id, unnest(grams) AS h FROM g WHERE doc_id % 97 != 0)
SELECT tg.doc_id, COUNT(*) AS n_hits
FROM tg JOIN eg ON eg.h = tg.h
GROUP BY tg.doc_id
"""


@register("decontaminate_train", oracle=_decontam_oracle())
def decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by eval-set n-grams (eval = doc_id % 97
    == 0 here; a real benchmark suite in production), with the count of
    distinct shared grams (operators/dedup.py:contaminated_docs)."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return dd.contaminated_docs(train, evalset, n=_DECONTAM_N)


# ---------------------------------------------------------------------------
# Within-document repetition ratio — the Gopher-style duplication filter
# basis: fraction of token 3-grams that repeat an earlier occurrence.
# Purely narrow (per-row expressions, zero shuffle); the grams array is
# staged as a real column so the tokenizer runs once per doc.
# ---------------------------------------------------------------------------
def _repetition_oracle() -> str:
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", 3)
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS t FROM documents),
g AS (SELECT doc_id, {grams} AS grams FROM tk)
SELECT doc_id,
    CAST(len(grams) AS INT) AS n_grams,
    CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
    CASE WHEN len(grams) > 0
         THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                  / CAST(len(grams) AS DOUBLE)
         ELSE 0.0 END AS dup_ratio
FROM g
"""


@register("text_repetition_ratio", oracle=_repetition_oracle())
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", tx.token_ngrams(F.col("text"), 3).alias("grams"))
    n = F.size("grams")
    nd = F.size(F.array_distinct("grams"))
    return staged.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.when(n > 0, F.lit(1.0) - nd.cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Cross-document repeated n-grams — the corpus-level counterpart of the
# within-doc repetition ratio above, and the statistic behind exact
# substring deduplication (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better": spans repeated verbatim across documents
# are memorization fuel).  A full suffix array doesn't distribute; the
# standard scale formulation is sliding token k-grams: a doc's k-gram that
# also appears in ANY other doc marks a cross-doc repeated span.  Distinct
# from boilerplate_segment_scrub (segment-granular, frequency-thresholded)
# — this is token-window-granular and fires on a single other occurrence.
#
# Shape at 100 TB: grams are md5-hashed to 60-bit ints BEFORE the shuffle
# (same trade as dedup_jaccard_pairs — 8-byte shuffle keys, collisions
# ~n²/2^60), one groupBy(gram) for document frequency, one shuffle join
# back (boilerplate-hot grams are exactly the AQE skew-split case), one
# groupBy(doc).  No driver state, no all-pairs term anywhere.  No
# counterpart in the reference (tabular-only pipeline).
# ---------------------------------------------------------------------------
_CROSS_NGRAM_N = 5


def _cross_doc_ngrams_oracle() -> str:
    # Join-free formulation: grams are per-doc DISTINCT in dg, so a gram
    # with corpus-wide COUNT(*) = 1 belongs to exactly ONE document and
    # n_shared = n_grams - n_unique.  The naive twin (gram -> n_docs,
    # joined back onto every gram occurrence) is quadratic-ish in memory
    # for the single-node oracle at sf10 (90M-row probe against an
    # 85M-group build side ground >60 min in DuckDB, r10 sweep §10);
    # this one is two group-bys plus a docs-sized join.  A DuckDB-vs-
    # DuckDB equivalence test against the old SQL keeps both shapes
    # honest (tests/test_text_pipeline.py).
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _CROSS_NGRAM_N)
    return f"""
WITH {_AUG_SQL},
tk AS (SELECT doc_id, {toks} AS t FROM aug),
dg AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform({grams}, x -> {_md5_int_sql('x')})))
            AS gram
    FROM tk
),
uq AS (SELECT MIN(doc_id) AS doc_id FROM dg GROUP BY gram HAVING COUNT(*) = 1),
u AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique FROM uq GROUP BY doc_id),
tot AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM dg GROUP BY doc_id
)
SELECT tot.doc_id AS doc_id,
    tot.n_grams AS n_grams,
    CAST(tot.n_grams - COALESCE(u.n_unique, 0) AS BIGINT) AS n_shared,
    CAST(tot.n_grams - COALESCE(u.n_unique, 0) AS DOUBLE)
        / CAST(tot.n_grams AS DOUBLE) AS shared_frac
FROM tot LEFT JOIN u USING (doc_id)
"""


@register("dedup_cross_doc_ngrams", oracle=_cross_doc_ngrams_oracle())
def dedup_cross_doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: how many of its distinct token 5-grams also appear in
    at least one OTHER document (a doc's +1M exact copy shares all of
    them; the +2M near copy all but the last window).  Docs shorter than
    5 tokens have no windows and no output row — they carry no repeatable
    span."""
    # Join-free formulation (r10, guide §2.4 — the same identity the sf10
    # sweep already forced onto the ORACLE): grams are per-doc DISTINCT, so
    # n_grams is the SIZE of the per-doc gram array (narrow, zero shuffle)
    # and n_shared = n_grams − n_unique, where a gram is unique iff its
    # corpus-wide occurrence count is 1 (its one doc = min doc).  The old
    # shape shuffled the full (doc, gram) occurrence stream TWICE (gram
    # fold + join-back of every occurrence) before a third doc-grain
    # shuffle; this one shuffles it once, and the join drops from
    # occurrence-stream × gram-table to docs × (doc, n_unique).  The gram
    # arrays are localCheckpointed: tot and dg both read them, and without
    # the barrier each branch would re-run the md5-per-gram tokenize pass
    # (two exchanges with different keys cannot share one physical child) —
    # linear local materialization instead of a second full tokenize.
    gr = (
        augmented_docs(spark, sf_dir)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(tx.token_ngrams(F.col("text"), _CROSS_NGRAM_N), tx.md5_int)
            ).alias("_grams"),
        )
        .localCheckpoint(eager=False)
    )
    tot = gr.select(
        "doc_id", F.size("_grams").cast("bigint").alias("n_grams")
    ).filter(F.col("n_grams") > 0)
    dg = gr.select("doc_id", F.explode("_grams").alias("gram"))
    uq = (
        dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("_c") == 1)
    )
    u = uq.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_unique"))
    return tot.join(u, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        (F.col("n_grams") - F.coalesce(F.col("n_unique"), F.lit(0))).alias("n_shared"),
        (
            (F.col("n_grams") - F.coalesce(F.col("n_unique"), F.lit(0))).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("shared_frac"),
    )


# Corpus-level duplication profile — the headline table of the family
# (how much of the corpus is cross-doc duplicated, bucketed by per-doc
# shared fraction).  Pure composition over the stats query, so the bucket
# edges are compared on bit-identical doubles on both engines.
_PROFILE_BUCKET_SQL = """CASE WHEN shared_frac = 0 THEN 'none'
         WHEN shared_frac < 0.5 THEN 'low'
         WHEN shared_frac < 1 THEN 'high'
         ELSE 'full' END"""


def _duplication_profile_oracle() -> str:
    return f"""
WITH stats AS ({_cross_doc_ngrams_oracle()})
SELECT {_PROFILE_BUCKET_SQL} AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
    CAST(SUM(n_shared) AS BIGINT) AS sum_shared
FROM stats
GROUP BY 1
"""


@register("dedup_duplication_profile", oracle=_duplication_profile_oracle())
def dedup_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = dedup_cross_doc_ngrams(spark, sf_dir)
    bucket = (
        F.when(F.col("shared_frac") == 0, F.lit("none"))
        .when(F.col("shared_frac") < 0.5, F.lit("low"))
        .when(F.col("shared_frac") < 1, F.lit("high"))
        .otherwise(F.lit("full"))
    )
    return stats.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("sum_grams"),
        F.sum("n_shared").alias("sum_shared"),
    )


# Serving twin of the stats: each doc's grams still come from a corpus
# map pass (they are per-doc data), but the global document-frequency side
# is one fold over the maintained partials instead of a recomputed
# distinct+groupBy over every gram occurrence.  Shares the from-scratch
# oracle — hash equality proves the maintained fold.
@register("dedup_cross_doc_ngrams_served", oracle=_cross_doc_ngrams_oracle())
def dedup_cross_doc_ngrams_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olap_sus_spark.operators import gramfreq

    # r10 (guide §2.3/§2.4, the join-free identity of the from-scratch
    # twin): n_shared only needs MEMBERSHIP in the maintained >=2 CUT (r9
    # served the full rollup and tested n_docs>=2 per occurrence), so the
    # occurrence stream left-joins the much smaller shared-grams set, and
    # n_grams rides along on the occurrence rows (SIZE of the per-doc
    # array, constant within a doc — max() restores it at doc grain) so
    # the corpus is tokenized exactly once with zero extra passes.
    dg = augmented_docs(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(
            F.transform(tx.token_ngrams(F.col("text"), _CROSS_NGRAM_N), tx.md5_int)
        ).alias("_grams"),
    ).select(
        "doc_id",
        F.size("_grams").cast("bigint").alias("_ng"),
        F.explode("_grams").alias("gram"),
    )
    cut = gramfreq.shared_grams_cut(spark, sf_dir).select(
        "gram", F.lit(1).alias("_hit")
    )
    return (
        dg.join(cut, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.max("_ng").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (
                F.col("n_shared").cast("double") / F.col("n_grams").cast("double")
            ).alias("shared_frac"),
        )
    )


# The SCRUB output of the same statistic — what the pipeline actually
# writes: each document re-emitted with every token position covered by a
# cross-doc-repeated 5-gram window removed (Lee et al.'s ExactSubstr cut,
# token-granular).  No interval-merge pass needed: the covered-position
# SET per doc is the union of all repeated windows by construction —
# explode each repeated window's 5 positions, collect_set per doc, and
# subtract from the doc's own position range with array_except (r10:
# replaces the tokpos-explode → anti-join → collect_list reassembly; the
# token strings never shuffle — only covered positions, two ints each,
# cross an exchange, and the per-doc reassembly is a narrow map).
def _cross_doc_scrub_oracle() -> str:
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _CROSS_NGRAM_N)
    n = _CROSS_NGRAM_N
    return f"""
WITH {_AUG_SQL},
tk AS (SELECT doc_id, {toks} AS t FROM aug),
g AS (SELECT doc_id, t, {grams} AS grams FROM tk),
dg AS (
    SELECT doc_id,
        unnest(list_transform(grams, x -> {_md5_int_sql('x')})) AS gram,
        generate_subscripts(grams, 1) AS pos
    FROM g
),
gc AS (
    SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM dg)
    GROUP BY gram HAVING COUNT(*) >= 2
),
cov AS (
    SELECT DISTINCT doc_id, cpos FROM (
        SELECT dg.doc_id, unnest(range(dg.pos, dg.pos + {n})) AS cpos
        FROM dg JOIN gc USING (gram)
    )
),
tp AS (
    SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p FROM tk
),
kept AS (
    SELECT tp.doc_id, tp.tok, tp.p
    FROM tp ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.cpos
),
agg AS (
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
           string_agg(tok, ' ' ORDER BY p) AS scrubbed
    FROM kept GROUP BY doc_id
)
SELECT tk.doc_id AS doc_id,
    CAST(len(tk.t) AS INT) AS n_tokens,
    CAST(len(tk.t) - COALESCE(agg.n_kept, 0) AS INT) AS n_removed,
    COALESCE(agg.scrubbed, '') AS scrubbed_text
FROM tk LEFT JOIN agg USING (doc_id)
"""


@register("dedup_cross_doc_scrub", oracle=_cross_doc_scrub_oracle())
def dedup_cross_doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document (fully-duplicated docs included, scrubbed to ''),
    with tokens inside cross-doc-repeated 5-gram windows removed.
    Positions are 1-based on both sides (DuckDB list indexing)."""
    n = _CROSS_NGRAM_N
    toks = augmented_docs(spark, sf_dir).select(
        "doc_id", tx.tokens(F.col("text")).alias("t")
    )
    grams = (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(tx.sliding_concat(F.col("t"), n), tx.md5_int)
            ).alias("pos0", "gram"),
        )
        .withColumn("pos", F.col("pos0") + 1)
        .drop("pos0")
    )
    shared = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    covered = grams.join(shared, "gram").select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cpos"),
    )
    from olap_sus_spark.operators.gramfreq import scrub_assemble

    return scrub_assemble(toks, covered)


# Serving twin: the scrub with the global gram-frequency pass served from
# the MAINTAINED per-src partials table (operators/gramfreq.py) instead of
# recomputed per call.  At 100 TB the frequency table is maintained
# O(ingest-day) by refresh_gram_freq; the scrub itself stays corpus-sized
# because its OUTPUT is the corpus — the served win is skipping the
# distinct+groupBy frequency pass over every gram occurrence.  Shares the
# from-scratch twin's oracle: value-hash equality IS the proof the
# maintained partials fold to exactly the recomputed frequencies.
@register("dedup_cross_doc_scrub_served", oracle=_cross_doc_scrub_oracle())
def dedup_cross_doc_scrub_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olap_sus_spark.operators import gramfreq

    n = _CROSS_NGRAM_N
    toks = augmented_docs(spark, sf_dir).select(
        "doc_id", tx.tokens(F.col("text")).alias("t")
    )
    grams = (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(tx.sliding_concat(F.col("t"), n), tx.md5_int)
            ).alias("pos0", "gram"),
        )
        .withColumn("pos", F.col("pos0") + 1)
        .drop("pos0")
    )
    # r9: >=2 cut served from the maintained rollup — plain sorted scan,
    # zero shuffle (shared_grams' per-serve fold is the fallback path)
    shared = gramfreq.shared_grams_cut(spark, sf_dir)
    covered = grams.join(shared, "gram").select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cpos"),
    )
    return gramfreq.scrub_assemble(toks, covered)


# Ingest-incremental twin (r9): the scrub OUTPUT itself is the maintained
# table (operators/gramfreq.refresh_gram_scrub) — per ingest batch only
# the appended part files plus the old files retroactively hit by a
# unique→shared gram flip are re-scrubbed; serving is a plain read of the
# per-src scrub partitions, zero corpus work.  Shares the from-scratch
# oracle: hash equality proves every maintained partition — including the
# retroactively refreshed ones — equals the full recompute.
@register("dedup_cross_doc_scrub_ingested", oracle=_cross_doc_scrub_oracle())
def dedup_cross_doc_scrub_ingested(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olap_sus_spark.operators import gramfreq

    return gramfreq.load_or_build_gram_scrub(spark, sf_dir)


# Per-source duplication accounting over the scrub output — the corpus
# curator's readout ("which source is feeding the dedup shredder"): per
# source, docs / tokens / tokens removed by the exact-substring cut, and
# the removed fraction.  Reads the MAINTAINED scrub table (the per-doc
# pass is already paid at ingest) + a narrow (doc_id, source) projection
# of the corpus; one dimension-sized groupBy.  Oracle recomputes the
# whole scrub from scratch and aggregates — value-hash equality proves
# the maintained table composes into exact downstream analytics.
def _scrub_summary_oracle() -> str:
    return f"""
WITH s AS ({_cross_doc_scrub_oracle()}),{_AUG_SQL.lstrip()}
SELECT a.source AS source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens,
    CAST(SUM(s.n_removed) AS BIGINT) AS sum_removed,
    CAST(SUM(s.n_removed) AS DOUBLE) / CAST(SUM(s.n_tokens) AS DOUBLE)
        AS removed_frac
FROM s JOIN aug a USING (doc_id)
GROUP BY a.source
"""


@register("dedup_scrub_summary_by_source", oracle=_scrub_summary_oracle())
def dedup_scrub_summary_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olap_sus_spark.operators import gramfreq

    scrub = gramfreq.load_or_build_gram_scrub(spark, sf_dir)
    src = augmented_docs(spark, sf_dir).select("doc_id", "source")
    return (
        scrub.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("n_removed").cast("bigint").alias("sum_removed"),
        )
        .withColumn(
            "removed_frac",
            F.col("sum_removed").cast("double") / F.col("sum_tokens").cast("double"),
        )
    )


# Cross-SOURCE contamination matrix — the curator's "which feeds copy from
# each other" readout: exact 5-gram Jaccard between every pair of corpus
# sources.  Same md5-hashed gram space as the dedup family, but keyed by
# the source dimension (bounded — ~20 here, hundreds in production), so
# the pair explosion is per-GRAM bounded by |sources-holding-that-gram|
# choose 2, never doc×doc: one distinct over (source, gram), one gram-keyed
# self-join with per-key fanout <= |sources|², one dimension-sized groupBy.
# A boilerplate-hot gram held by every source is the classic skew key —
# exactly the AQE skew-split case, same trade as dedup_cross_doc_ngrams.
def _source_overlap_oracle() -> str:
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _CROSS_NGRAM_N)
    return f"""
WITH tk AS (SELECT source, {toks} AS t FROM documents),
sg AS (
    SELECT DISTINCT source, gram FROM (
        SELECT source,
            unnest(list_distinct(list_transform({grams}, x -> {_md5_int_sql('x')})))
                AS gram
        FROM tk
    )
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY source),
-- per-gram source lists are bounded by the source dimension (~20), so the
-- pair expansion is a per-row list transform — NOT a gram-keyed self-join,
-- whose ~|grams|-row single-node build side is the exact shape that ground
-- the sf10 oracle run (see _cross_doc_ngrams_oracle).  The Spark side
-- keeps the distributed self-join (right shape there: per-key fanout is
-- dimension-bounded and the shuffle is gram-keyed).
gs AS (SELECT gram, list(source ORDER BY source) AS ss FROM sg GROUP BY gram),
pr AS (
    SELECT unnest(flatten(list_transform(ss,
        a -> list_transform(list_filter(ss, b -> b > a), b -> [a, b])))) AS p
    FROM gs WHERE len(ss) >= 2
),
pairs AS (
    SELECT p[1] AS source_a, p[2] AS source_b, CAST(COUNT(*) AS BIGINT) AS n_common
    FROM pr GROUP BY 1, 2
)
SELECT p.source_a AS source_a, p.source_b AS source_b,
    sa.n AS n_a, sb.n AS n_b, p.n_common AS n_common,
    CAST(p.n_common AS DOUBLE)
        / CAST(sa.n + sb.n - p.n_common AS DOUBLE) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
"""


@register("source_gram_overlap_matrix", oracle=_source_overlap_oracle())
def source_gram_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact 5-gram Jaccard between corpus sources (pairs with
    zero shared grams are absent on both engines — inner-join semantics)."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    sg = (
        docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        tx.token_ngrams(F.col("text"), _CROSS_NGRAM_N), tx.md5_int
                    )
                )
            ).alias("gram"),
        )
        .distinct()
        # consumed three times (both self-join sides + sizes): materialize
        # the tokenize+hash+distinct pass once instead of re-running it per
        # branch — at corpus scale that pass IS the query's dominant cost
        .localCheckpoint()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = (
        sg.alias("a")
        .join(
            sg.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# Exact-substring DECONTAMINATION — the other half of Lee et al. 2022's
# ExactSubstr: benchmark leakage hunted at verbatim token-5-gram
# granularity instead of decontaminate_train's 8-gram document overlap.
# Eval set = doc_id % 97 == 0 on the PLAIN corpus (same convention as
# decontaminate_train; a real benchmark suite in production).  The eval
# gram set is benchmark-sized, so it broadcasts — the train side is one
# scan + map-side hash probe, no shuffle of corpus grams against corpus
# grams.
def _decontam_exact_substring_oracle() -> str:
    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _CROSS_NGRAM_N)
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS t FROM documents),
dg AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform({grams}, x -> {_md5_int_sql('x')})))
            AS gram
    FROM tk
),
ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, gram FROM dg WHERE doc_id % 97 <> 0),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM tr GROUP BY doc_id),
hit AS (
    SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_shared
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.doc_id
)
SELECT h.doc_id AS doc_id, t.n_grams AS n_grams,
    h.n_eval_shared AS n_eval_shared,
    CAST(h.n_eval_shared AS DOUBLE) / CAST(t.n_grams AS DOUBLE) AS eval_frac
FROM hit h JOIN tot t USING (doc_id)
"""


# Broadcasting the eval gram set is the right plan for a real fixed
# benchmark suite (a few thousand docs), but the hint must never be
# unconditional: under the `doc_id % 97` demo convention the eval set is
# ~1% of CORPUS grams, which at 100 TB would OOM every executor.  The
# guard probes the set with an O(bound) limit+count (CollectLimit stops
# the job at bound+1 rows — never a full pass) and only then pins the
# hint; past the bound the join takes the plain shuffle path, where AQE
# may still pick a runtime broadcast from actual stats.  (VERDICT r09 #3.)
_EVAL_BROADCAST_MAX = 2_000_000  # bigint grams ≈ 16 MB raw, well under heap


def _maybe_broadcast_eval(ev: DataFrame, bound: int | None = None) -> DataFrame:
    b = _EVAL_BROADCAST_MAX if bound is None else bound
    return F.broadcast(ev) if ev.limit(b + 1).count() <= b else ev


@register(
    "decontaminate_exact_substring", oracle=_decontam_exact_substring_oracle()
)
def decontaminate_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    dg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.token_ngrams(F.col("text"), _CROSS_NGRAM_N), tx.md5_int
                )
            )
        ).alias("gram"),
    )
    ev = dg.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    tr = dg.filter(F.col("doc_id") % 97 != 0)
    tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    hit = (
        tr.join(_maybe_broadcast_eval(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval_shared"))
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_eval_shared",
        (F.col("n_eval_shared").cast("double") / F.col("n_grams").cast("double"))
        .alias("eval_frac"),
    )


# Maintained decontamination (VERDICT r09 #6): the eval gram set is a pure
# per-src function of the eval-split corpus view, so it rides the ENTIRE
# gram_freq maintenance contract unchanged — index keyed on the EVAL97 view,
# per-src staged refresh O(ingested files), doc-locality guard, zero-row
# partition drop, staged build + atomic promote.  The served twin shares
# the from-scratch oracle: serving reads ~|eval grams| index rows instead
# of re-gramming the eval split per call; the training side (per-doc
# stats over the query's input corpus) is inherent to the question asked.
def load_or_build_eval_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained eval gram SET (distinct fold over the per-src
    partials; set semantics need no flip handling — a gram is in the set
    iff any live src contributes it)."""
    from olap_sus_spark.operators import gramfreq as gf

    return gf.load_or_build_gram_freq(spark, sf_dir, EVAL97).select("gram").distinct()


def refresh_eval_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(ingested files) maintenance of the eval gram set."""
    from olap_sus_spark.operators import gramfreq as gf

    return gf.refresh_gram_freq(spark, sf_dir, EVAL97).select("gram").distinct()


@register(
    "decontaminate_exact_substring_served",
    oracle=_decontam_exact_substring_oracle(),
)
def decontaminate_exact_substring_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    dg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.token_ngrams(F.col("text"), _CROSS_NGRAM_N), tx.md5_int
                )
            )
        ).alias("gram"),
    )
    ev = load_or_build_eval_grams(spark, sf_dir)
    tr = dg.filter(F.col("doc_id") % 97 != 0)
    tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    hit = (
        tr.join(_maybe_broadcast_eval(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval_shared"))
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_eval_shared",
        (F.col("n_eval_shared").cast("double") / F.col("n_grams").cast("double"))
        .alias("eval_frac"),
    )


# ---------------------------------------------------------------------------
# Sequence packing — assign documents to fixed token-budget training bins
# by contiguous cumulative token count within each source partition (the
# distributed-friendly variant of greedy packing: one shuffle on source,
# deterministic doc_id order inside).  bin = exclusive-cumsum // budget.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048

_PACK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS prev_cum
    FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(prev_cum // {_PACK_BUDGET} AS INT) AS bin
FROM c
"""


@register("sequence_packing", oracle=_PACK_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_cum = F.sum("n_tokens").over(w) - F.col("n_tokens")
    # Integer `div`, not double `/`+floor: cumulative token counts past 2^53
    # (reachable at 100 TB) would lose bits in the double and diverge from
    # the oracle's exact BIGINT // division.
    return t.withColumn("prev_cum", prev_cum).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"CAST(prev_cum DIV {_PACK_BUDGET} AS INT)").alias("bin"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing — email/phone detection + redaction, the compliance pass
# every corpus runs before training.  Patterns avoid constructs where Java
# (Spark) and RE2-ish (DuckDB) dialects diverge; every 13th document gets
# deterministic injected PII on BOTH engines so the scrub is exercised.
# Output carries counts + an md5 of the redacted text (hash-comparable
# without shipping megabytes through the gate).
# ---------------------------------------------------------------------------
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
_PHONE_RE = "[0-9][0-9][0-9][-. ][0-9][0-9][0-9][-. ][0-9][0-9][0-9][0-9]"

_PII_ORACLE = f"""
WITH p AS (
    SELECT doc_id,
        CASE WHEN doc_id % 13 = 0
             THEN text || ' contato bob@example.com tel 555-123-4567'
             ELSE text END AS text
    FROM documents
)
SELECT doc_id,
    CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
    CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
    md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM p
"""


@register("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    injected = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.col("text"), F.lit(" contato bob@example.com tel 555-123-4567")),
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", injected.alias("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the standard keyword/feature extraction
# over a cleaned corpus.  idf is the LINEAR variant N/df (not log(N/df)):
# both engines then compute the score as exactly two IEEE ops (one div, one
# mul) on integers exactly representable as doubles — bit-identical — where
# a transcendental log could differ in the last ulp between libm builds and
# silently flip rank ties.  Scale shape: Generate (explode) → one shuffle
# to (doc, term) counts → term-grain df aggregate joined back on term → one
# window per doc.  The df table is vocabulary-sized (≪ corpus), N is a
# 1-row broadcast.
# ---------------------------------------------------------------------------
_TFIDF_K = 3

_TFIDF_ORACLE = f"""
WITH t AS (
    SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
               AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= {_TFIDF_K}
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} characteristic terms per document by tf·idf (linear idf,
    deterministic term tie-break)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tx.tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = tf.join(df, "term").join(F.broadcast(n)).select(
        "doc_id", "term", "tf", "df",
        (
            F.col("tf").cast("double")
            * (F.col("n").cast("double") / F.col("df").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Boilerplate segment scrub — the C4/RefinedWeb "repeated line" filter.  A
# crawl corpus is full of navigation chrome / license footers that repeat
# verbatim across many pages; training-data prep drops any line that occurs
# in >= K distinct documents and keeps the rest of the page.  The fixture
# corpus is single-line, so "line" maps to the disjoint 10-token segment
# (same unit family as document_chunking, stride == width).
#
# Plan shape (the scale story): segments explode narrowly (tokens
# materialize once per doc at the Generate boundary, document_chunking's
# proven pattern); the document-frequency table groups by the 60-bit md5
# segment hash, so BOTH shuffles that scale with the corpus — the df
# rollup and the join back — carry 8-byte keys, never segment text; the
# rebuild is one grain-collapse groupBy(doc_id) with an order-restoring
# array_sort over (position, segment) structs, so the output is identical
# under any shuffle order.  No driver-side state, no HOF re-evaluation
# (the slice runs on the row's own materialized array).
# ---------------------------------------------------------------------------
_SCRUB_SEG = 10
_SCRUB_MIN_DOCS = 2

_SCRUB_ORACLE = f"""
WITH {_AUG_SQL.strip()},
t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM aug
),
s AS (
    SELECT doc_id, toks, CAST(unnest(range(0, len(toks), {_SCRUB_SEG})) AS INT) AS inicio
    FROM t WHERE len(toks) >= 1
),
segs AS (
    SELECT doc_id, inicio,
           array_to_string(toks[inicio + 1 : inicio + {_SCRUB_SEG}], ' ') AS seg,
           {_md5_int_sql("array_to_string(toks[inicio + 1 : inicio + " + str(_SCRUB_SEG) + "], ' ')")} AS seg_h
    FROM s
),
df AS (
    SELECT seg_h, COUNT(DISTINCT doc_id) AS seg_df FROM segs GROUP BY seg_h
)
SELECT g.doc_id,
       COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN d.seg_df >= {_SCRUB_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler,
       COALESCE(string_agg(g.seg, ' ' ORDER BY g.inicio)
                FILTER (WHERE d.seg_df < {_SCRUB_MIN_DOCS}), '') AS texto_limpo
FROM segs g JOIN df d ON d.seg_h = g.seg_h
GROUP BY g.doc_id
"""


@register("boilerplate_segment_scrub", oracle=_SCRUB_ORACLE)
def boilerplate_segment_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = augmented_docs(spark, sf_dir).select(
        "doc_id", tx.tokens("text").alias("toks")
    )
    segs = (
        docs.filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_SCRUB_SEG))
            ).alias("inicio"),
        )
        .select(
            "doc_id",
            "inicio",
            F.concat_ws(
                " ", F.slice("toks", F.col("inicio") + 1, _SCRUB_SEG)
            ).alias("seg"),
        )
        .withColumn("seg_h", tx.md5_int(F.col("seg")))
    )
    df_tbl = segs.groupBy("seg_h").agg(F.countDistinct("doc_id").alias("seg_df"))
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("inicio", "seg", "seg_df"))),
        lambda x: x["seg_df"] < _SCRUB_MIN_DOCS,
    )
    return (
        segs.join(df_tbl, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(
                F.when(F.col("seg_df") >= _SCRUB_MIN_DOCS, 1).otherwise(0)
            ).alias("n_boiler"),
            F.concat_ws(" ", F.transform(kept, lambda x: x["seg"])).alias(
                "texto_limpo"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Budgeted corpus selection — "take the best documents until the training
# token budget is exhausted", the final gate of LLM data prep.  Rank by a
# quality score, accumulate token counts in rank order, cut at the budget.
#
# The scale shape is the point: a naive rank-order running total is a
# single-partition global window (the WindowExec all-to-one collapse).
# Here the prefix sum is TWO-PHASE (operators/prefix.py running_total):
# repartitionByRange on the rank key gives globally-ordered partitions,
# each computes its local running total in parallel, and the
# per-partition grand totals (one row per partition, broadcast) shift
# each partition by its predecessors' sum.  Row placement across range
# boundaries can vary run to run; every row's GLOBAL prefix sum cannot
# (the rank order is total: score desc, doc_id), so the result is
# partitioning-independent.  All-integer arithmetic — no float
# accumulation anywhere.
# ---------------------------------------------------------------------------
_BUDGET_TOKENS = 15_000

_BUDGET_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           len(list_distinct({_TOKENS_SQL.format(t='text')})) AS score,
           len({_TOKENS_SQL.format(t='text')}) AS n_tokens
    FROM documents
)
SELECT doc_id, score, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
FROM t
QUALIFY cum_tokens <= {_BUDGET_TOKENS}
"""


@register("corpus_token_budget", oracle=_BUDGET_ORACLE)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens("text")
    scored = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("score"),
        F.size(toks).alias("n_tokens"),
    )
    cum = running_total(
        scored,
        [F.col("score").desc(), F.col("doc_id")],
        F.col("n_tokens").cast("bigint"),
        "cum_tokens",
    )
    return cum.filter(F.col("cum_tokens") <= _BUDGET_TOKENS).select(
        "doc_id", "score", "n_tokens", "cum_tokens"
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing — the standard LLM mixture rule
# (weight ∝ size^α, here α = 1/2): big sources are DOWN-weighted relative
# to proportional sampling so small high-quality sources aren't drowned.
# Per-source size is the exact BIGINT character sum; the α-power uses
# SQRT (IEEE-correctly-rounded everywhere, unlike pow(x, 0.5)); and the
# normalizing total Σ√size folds over the sources in SORTED source order
# on BOTH engines — float addition isn't associative, so a fixed fold
# order is what makes the rates (and thus the sampled set) bit-identical.
# Acceptance is the portable md5-slice, as corpus_source_mixing.
# Plan: one grain-collapse agg, a 1-row broadcast fold, broadcast rate
# join, narrow filter — nothing scales past the source count but the scan.
# ---------------------------------------------------------------------------
_TEMP_BUDGET = 250

_TEMP_MIX_ORACLE = f"""
WITH n AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS tam
    FROM documents GROUP BY source
),
w AS (SELECT source, n_docs, sqrt(CAST(tam AS DOUBLE)) AS peso FROM n),
tot AS (
    SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(peso ORDER BY source)),
                       (a, b) -> a + b) AS t
    FROM w
),
taxa AS (
    SELECT w.source,
           LEAST(1.0, {_TEMP_BUDGET} * (w.peso / tot.t) / w.n_docs) AS aceite
    FROM w CROSS JOIN tot
)
SELECT d.doc_id, d.source
FROM documents d
JOIN taxa ON taxa.source = d.source
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT)
      / 65536.0 < taxa.aceite
"""


@register("corpus_temperature_mixing", oracle=_TEMP_MIX_ORACLE)
def corpus_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("tam"),
        )
        .withColumn("peso", F.sqrt(F.col("tam").cast("double")))
    )
    tot = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "peso"))),
            F.lit(0.0),
            lambda acc, x: acc + x["peso"],
        ).alias("t")
    )
    taxa = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(_TEMP_BUDGET) * (F.col("peso") / F.col("t")) / F.col("n_docs"),
        ).alias("aceite"),
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        / 65536.0
    )
    return (
        docs.join(F.broadcast(taxa), "source")
        .filter(frac < F.col("aceite"))
        .select("doc_id", "source")
    )

# ---------------------------------------------------------------------------
# Quality-classifier inference — the fastText-style linear filter every
# production corpus pipeline runs after the heuristic gates (CCNet's
# fasttext langid+quality, FineWeb's edu classifier).  The *inference*
# shape is what matters at 100 TB: featurize with the hashing trick (no
# vocabulary table to ship), dot the feature vector with a broadcastable
# weight vector, threshold the logit — embarrassingly parallel, zero
# shuffles, no model server in the loop.
#
# Engine-portable by construction: the "learned" weights are a
# deterministic function of the token itself — w(t) = md5₆₀(t) mod 2001 −
# 1000 ∈ [−1000, 1000] — so both engines materialize the identical weight
# vector without a side table, and the logit is an exact BIGINT sum folded
# per-row (F.aggregate / list_transform+list_sum), never a float.  A real
# deployment swaps the md5 weight for a broadcast map-literal lookup of
# trained coefficients; the plan shape (narrow per-row fold) is unchanged.
# ---------------------------------------------------------------------------
_CLS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_SQL.format(t='text')} AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(toks,
            s -> {_md5_int_sql('s')} % 2001 - 1000)), 0) AS BIGINT) AS logit,
       CAST(coalesce(list_sum(list_transform(toks,
            s -> {_md5_int_sql('s')} % 2001 - 1000)), 0) AS BIGINT) > 0 AS keep
FROM t
"""


@register("quality_classifier_scores", oracle=_CLS_ORACLE)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier over the token stream: logit = Σ_tokens
    w(token) with integer weights, keep = logit > 0.  One narrow pass —
    tokenize, fold, threshold all inside whole-stage codegen; at 1000
    executors this is a pure map stage with no exchange at all."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens("text")
    w = lambda s: (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % 2001 - 1000
    )
    logit = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, s: acc + w(s))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )

# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis–Spirakis one-pass) — the
# mixture primitive acceptance sampling can't provide: an EXACTLY-N sample
# with inclusion probability ∝ weight (here n_chars — "sample N documents
# proportional to size/quality").  E-S orders items by u^(1/w) for uniform
# u; the order is equivalently by -ln(u)/w ascending, and for our purposes
# any strictly-monotone surrogate with the same ordering works.  We use
# key = h₅₂ / w where h₅₂ is a 52-bit md5 slice (exact in a double) and w
# the BIGINT weight: ONE IEEE division per row — bit-identical in any
# engine — then a global bottom-N.  Deterministic, seedless, rerunnable;
# at 100 TB the bottom-N is a per-partition partial top-k folded on the
# driver side of one exchange (TakeOrderedAndProject), never a full sort.
# ---------------------------------------------------------------------------
_WS_N = 200

_WSAMPLE_ORACLE = f"""
SELECT doc_id, source, n_chars,
       CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
            AS DOUBLE) / CAST(n_chars AS DOUBLE) AS sample_key
FROM documents
WHERE n_chars > 0
ORDER BY sample_key, doc_id
LIMIT {_WS_N}
"""


@register("weighted_corpus_sample", oracle=_WSAMPLE_ORACLE)
def weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N weight-proportional sample: larger n_chars → smaller key →
    more likely in the bottom-N.  Plan: narrow key projection over the scan,
    then TakeOrderedAndProject (partial per-partition top-N, single fold) —
    no global sort, no shuffle of the corpus."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    h52 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    key = h52.cast("double") / F.col("n_chars").cast("double")
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", key.alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(_WS_N)
    )


# ---------------------------------------------------------------------------
# Balanced per-group sampling — exactly k documents per source in ONE pass,
# the per-class balancing step of corpus construction (complement of the
# global weighted sample above).  "Random" order is a portable
# content-independent hash of the id (both engines replay the md5 ordering
# bit-for-bit, so the sampled SET is deterministic and auditable — the
# reproducibility a training pipeline actually needs from its sampler).
# Scale shape: one shuffle on the group key; the rank ≤ k filter compiles
# to WindowGroupLimit, so each map task keeps only its local top-k before
# the exchange — output is ≤ k·|groups| rows however large the corpus.
# ---------------------------------------------------------------------------
_RSV_K = 25

_RSV_ORACLE = f"""
SELECT source, doc_id, posicao FROM (
    SELECT source, doc_id,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id
           ) AS INT) AS posicao
    FROM documents
) WHERE posicao <= {_RSV_K}
"""


@register("grouped_reservoir_sample", oracle=_RSV_ORACLE)
def grouped_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    hkey = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15)
    w = Window.partitionBy("source").orderBy(hkey.asc(), F.col("doc_id"))
    return docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).cast("int").alias("posicao"),
    ).filter(F.col("posicao") <= _RSV_K)
