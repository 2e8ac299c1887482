"""Maintained cross-document gram-frequency index — the serving structure
behind ``dedup_cross_doc_scrub_served`` (queries/text_pipeline.py).

The exact-substring-dedup family (Lee et al. 2022) needs, per token
5-gram, the number of distinct documents containing it; the from-scratch
queries (``dedup_cross_doc_ngrams`` / ``dedup_cross_doc_scrub``) pay a
corpus-sized tokenize + hash + per-doc-distinct + global groupBy on every
call.  At 100 TB that global gram-frequency pass is a corpus-version-level
batch job, not a query — so it is a per-file maintained table on
operators/index_store.SrcTable (corpus-manifest staleness, staged build +
publish, per-``src`` partition refresh):

- ``grams/`` — per corpus part file: ``(src, gram, n_docs)`` where ``gram``
  is the 60-bit md5 hash of a sliding token 5-gram over one corpus view
  of that file's documents and ``n_docs`` the count of distinct docs in
  the file containing it.  Pass a ``CorpusView``
  (operators/corpus_view.py; default ``AUG``, the registered queries'
  augmented view): its transform is row-local and every document lives
  wholly in one part file, so each partition is a pure function of its
  part file — a refresh of the ingested files is bit-identical to a full
  rebuild by construction.
- Serving folds the partials: global document frequency of a gram is the
  SUM of its per-src counts (``doc_id`` is the corpus primary key, unique
  across part files — the same assumption the cluster index's id-order
  guard rests on), and the scrub only needs the ``>= 2`` cut of that sum.

No counterpart in the reference (tabular-only pipeline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.operators import index_store as ix
from olap_sus_spark.operators import text as tx
from olap_sus_spark.operators.corpus_view import AUG, TABLE, CorpusView

_ALGO_VERSION = "gramfreq-v1"
NGRAM_N = 5  # must match queries/text_pipeline._CROSS_NGRAM_N
_DEGRADED_SRC = "__degraded__"


def _key(sf_dir: str, view: CorpusView) -> str:
    return f"{_ALGO_VERSION}|{os.path.abspath(sf_dir)}|{TABLE}|{NGRAM_N}|{view.name}"


def gram_freq_path(sf_dir: str, view: CorpusView = AUG) -> str:
    """Index directory for one (corpus dir, ``CorpusView``).  The view
    name is part of the key: the registered queries gram the AUGMENTED view
    (synthetic duplicate injection the driver oracles are defined over)
    while the streaming ingest loop grams the PLAIN corpus — folding one
    view's partials into the other's query would be silently wrong, so the
    two views can never share a directory.  ``sf_dir`` is normalized with
    abspath (same as cluster_index_path) so relative vs absolute
    invocations of the same corpus hit the same index."""
    return ix.index_path("gramfreq", _key(sf_dir, view))


def _partials_frame(docs: DataFrame) -> DataFrame:
    """(src, gram, n_docs) for a ``src``-tagged documents frame in one
    corpus view: distinct docs per 60-bit-hashed sliding 5-gram, within
    src.

    ``count_distinct(doc_id)`` (not ``count(1)``) so a doc_id duplicated
    across two ROWS of the same part file is counted once — intra-file
    duplicates are harmless by construction, and the doc-locality guard
    only has to prove CROSS-file uniqueness (footer-range disjointness).
    Shuffle cost is unchanged in the common case: after the per-row
    ``array_distinct``, (src, doc_id, gram) rows are already unique when
    doc_ids are, so the extra distinct level collapses nothing."""
    return (
        docs.select(
            ix.SRC,
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        tx.sliding_concat(tx.tokens(F.col("text")), NGRAM_N),
                        tx.md5_int,
                    )
                )
            ).alias("gram"),
        )
        .groupBy(ix.SRC, "gram")
        .agg(F.count_distinct(F.col("doc_id")).cast("bigint").alias("n_docs"))
    )


def _degraded_partials(docs: DataFrame) -> DataFrame:
    """Single-partition partials with the (doc_id, gram) pairs GLOBALLY
    deduplicated before counting — the correct distinct-document frequency
    when the doc-locality invariant is violated (a doc_id appearing in two
    part FILES would otherwise be double-counted by the per-src fold;
    intra-file duplicates are already handled by the per-src
    count_distinct).
    Loses incremental refresh (any corpus change → full rebuild) but keeps
    the served >=2 cut — and therefore the scrub twins — exact."""
    dg = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.sliding_concat(tx.tokens(F.col("text")), NGRAM_N),
                    tx.md5_int,
                )
            )
        ).alias("gram"),
    ).distinct()
    return dg.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).select(F.lit(_DEGRADED_SRC).alias(ix.SRC), "gram", "n_docs")


def _expanded_intervals(
    ranges: dict[str, list[int] | None] | None, view: CorpusView
) -> list[tuple[int, int]] | None:
    """View-expanded per-file id intervals, or None when they can't prove
    anything (missing stats, legacy manifest)."""
    if not isinstance(ranges, dict):
        return None
    out: list[tuple[int, int]] = []
    for rng in ranges.values():
        if rng is None:
            return None
        lo, hi = int(rng[0]), int(rng[1])
        if lo > hi:  # empty file: vacuously safe
            continue
        out.extend((lo + o, hi + o) for o in view.offsets)
    return out


def _intervals_disjoint(ivs: list[tuple[int, int]]) -> bool:
    ivs = sorted(ivs)
    return all(ivs[i][1] < ivs[i + 1][0] for i in range(len(ivs) - 1))


def _intervals_between_disjoint(
    a: list[tuple[int, int]], b: list[tuple[int, int]]
) -> bool:
    """No interval of ``a`` overlaps any interval of ``b`` (overlaps WITHIN
    each list are allowed — the refresh guard only needs batch-vs-old
    disjointness; old-vs-old overlaps were proven unique by the build's
    exact check, batch-internal duplicates by the refresh's O(batch)
    exact check)."""
    import bisect

    merged: list[tuple[int, int]] = []
    for lo, hi in sorted(b):
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    starts = [m[0] for m in merged]
    for lo, hi in a:
        i = bisect.bisect_right(starts, hi) - 1
        if i >= 0 and merged[i][1] >= lo:
            return False
    return True


def _freq_table(sf_dir: str, view: CorpusView) -> ix.SrcTable:
    return ix.SrcTable(
        gram_freq_path(sf_dir, view), sf_dir, TABLE, {"grams": (("gram",), 4)}
    )


def _doc_local(docs: DataFrame) -> bool:
    """Exact cross-FILE doc-locality check: the per-src fold (count_distinct
    doc_id within src) is exact iff no doc_id lives in two part files —
    intra-file duplicate rows are harmless, so distinct (src, doc_id)
    tuples must equal distinct doc_ids."""
    n, nd = docs.agg(
        F.count_distinct(F.col(ix.SRC), F.col("doc_id")),
        F.count_distinct(F.col("doc_id")),
    ).first()
    return n == nd


def load_or_build_gram_freq(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Return the ``(src, gram, n_docs)`` partials, building + persisting
    on first use.  A manifest mismatch triggers the safe full staged
    rebuild — never silently serves stale frequencies.

    The per-src fold is only exact under the DOC-LOCALITY INVARIANT
    (no doc_id spans two part files; duplicate rows WITHIN a file are
    harmless — the partials count distinct docs, r10).  Every rebuild
    verifies it at runtime: per-file doc_id [min,max] footer stats,
    view-expanded, pairwise disjoint → proven for free; otherwise one
    exact Spark check (:func:`_doc_local`); a genuine violation degrades
    to the single-partition globally-deduplicated build
    (``src=__degraded__``) — served frequencies stay correct, maintenance
    degrades to rebuild-on-change.  The verdict (ranges + degraded flag)
    is stamped into the manifest for the refresh-time guard."""
    t = _freq_table(sf_dir, view)

    def build(staging: str) -> dict:
        docs = view.docs(spark, sf_dir)
        ranges = ix.corpus_id_ranges(sf_dir, TABLE, "doc_id")
        ivs = _expanded_intervals(ranges, view)
        proven = ivs is not None and _intervals_disjoint(ivs)
        degraded = not proven and not _doc_local(docs)
        partials = _degraded_partials(docs) if degraded else _partials_frame(docs)
        t.write(staging, "grams", partials)
        return {"doc_ranges": ranges, "degraded": degraded}

    t.load_or_build(build)
    return _serve(spark, t.path)


def refresh_gram_freq(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Incremental maintenance: re-gram ONLY the part files added or
    rewritten since the last manifest and overwrite their ``src=``
    partitions — O(ingested files), never O(corpus).  Removed part files,
    a degraded index (or a never-built one) fall back to the full staged
    build.  Single refresher per index directory (index_store.SrcTable):
    the streaming ingest loop is serialized per checkpoint by Structured
    Streaming itself, and the query path only ever load_or_builds."""
    t = _freq_table(sf_dir, view)

    def step(man: dict, d: ix.Diff) -> dict | None:
        if d.removed or man.get("degraded"):
            # shrunk corpus, or an index already in degraded (non-per-src)
            # mode: per-partition overwrite can't express either — rebuild
            return None
        # doc-locality guard, refresh side (two cheap halves):
        #  (a) batch-vs-old: the stale files' view-expanded footer ranges
        #      must not overlap the non-stale signed files' — old-vs-old
        #      overlaps are FINE (the build's exact check proved them
        #      unique; staged corpora routinely interleave ids across
        #      files, and re-proving global pairwise disjointness here
        #      forced a full rebuild on every ingest — r9 probe);
        #  (b) batch-internal: one O(batch) exact check (_doc_local) over
        #      the stale files' view.
        # Anything unprovable (missing stats/ranges, overlap, duplicate)
        # falls back to the full staged rebuild, whose exact corpus-wide
        # check decides per-src vs degraded.
        old_ranges = man.get("doc_ranges")
        new_ranges = ix.corpus_id_ranges(sf_dir, TABLE, "doc_id", d.stale)
        if not isinstance(old_ranges, dict):
            return None
        kept = set(d.files) - set(d.stale)
        old_ivs = _expanded_intervals(
            {n: r for n, r in old_ranges.items() if n in kept}, view
        )
        new_ivs = _expanded_intervals(new_ranges, view)
        if (
            not kept <= set(old_ranges)
            or old_ivs is None
            or new_ivs is None
            or not _intervals_between_disjoint(new_ivs, old_ivs)
        ):
            return None
        batch = view.docs(spark, sf_dir, t.file_paths(d.stale))
        if not _doc_local(batch):
            return None
        t.write(t.path, "grams", _partials_frame(batch), d.stale)
        ranges = {k: v for k, v in old_ranges.items() if k in d.files}
        return {"doc_ranges": {**ranges, **new_ranges}, "degraded": False}

    t.refresh(step, lambda: load_or_build_gram_freq(spark, sf_dir, view))
    return _serve(spark, t.path)


def shared_grams(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Grams contained in >= 2 distinct documents corpus-wide, served from
    the maintained partials: one fold over the index table, zero corpus
    work."""
    return (
        load_or_build_gram_freq(spark, sf_dir, view)
        .groupBy("gram")
        .agg(F.sum("n_docs").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )


# ---------------------------------------------------------------------------
# Second-level maintained rollup (r9): the global (gram, n_docs) fold —
# and its >=2 serving cut — as a persisted table of their own, so serving
# paths stop re-folding every per-src partial per call.  At 100× corpus
# the fold is a ~45M-row exchange+hash-agg inside EVERY scrub/stats serve;
# the rollup moves that cost to ingest time: an APPEND-only refresh merges
# the old rollup with just the appended files' partials (read back from
# the partials index with src= partition pruning — the corpus is never
# re-grammed), rewrites the rollup dir staged + atomically promoted, and
# serving becomes a plain pruned scan of the cut with zero shuffle.
# Non-append changes (RTBF rewrites, removals) and degraded-mode partials
# re-fold from the partials index — still never O(corpus) text work.
# ---------------------------------------------------------------------------
def rollup_path(sf_dir: str, view: CorpusView = AUG) -> str:
    return ix.index_path("gramrollup", _key(sf_dir, view))


def _write_rollup_tables(rolled: DataFrame, root: str) -> None:
    from olap_sus_spark.sources.sinks import write_sorted

    rolled = rolled.persist()
    try:
        write_sorted(rolled, os.path.join(root, "rollup"), ["gram"], files=4)
        write_sorted(
            rolled.filter(F.col("n_docs") >= 2).select("gram"),
            os.path.join(root, "cut"),
            ["gram"],
            files=4,
        )
    finally:
        rolled.unpersist()


def _rollup_table(sf_dir: str, view: CorpusView) -> ix.SrcTable:
    return ix.SrcTable(
        rollup_path(sf_dir, view), sf_dir, TABLE, {}, flat=("rollup", "cut")
    )


def load_or_build_gram_rollup(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Global ``(gram, n_docs)``, building by folding the (fresh) partials
    on first use / staleness.  Inherits the partials' degraded flag so a
    doc-locality violation keeps forcing re-folds instead of merges."""
    t = _rollup_table(sf_dir, view)

    def build(staging: str) -> dict:
        partials = load_or_build_gram_freq(spark, sf_dir, view)
        gman = ix.read_manifest(gram_freq_path(sf_dir, view)) or {}
        rolled = partials.groupBy("gram").agg(
            F.sum("n_docs").cast("bigint").alias("n_docs")
        )
        _write_rollup_tables(rolled, staging)
        # a fresh sorted base carries no deltas
        return {"degraded": bool(gman.get("degraded")), "levels": []}

    t.load_or_build(build)
    return _serve_rollup(spark, t.path)


# --- LSM delta levels for the rollup/cut (r10, VERDICT r09 #4) ------------
# The r9 refresh rewrote the WHOLE sorted rollup+cut per ingest (~2 s I/O
# floor of the 14.5 s no-flip refresh at 100×).  Grams are 60-bit hashes —
# uniformly distributed — so range-partitioned partial rewrites can't
# localize a delta (every ingest would touch every range); the LSM shape
# is the one that works: the base rollup/cut stay immutable, each refresh
# appends one bounded DELTA level, and serving overlays the folded levels
# onto the base with broadcast joins (base stays SCAN-ONLY, zero base
# exchange).  Levels are listed in the manifest ("levels"); unlisted dirs
# are crash orphans, ignored and GC'd.  At _ROLLUP_MAX_LEVELS the refresh
# folds everything back into a fresh sorted base (the old full-rewrite
# path) — bounded level count, amortized rewrite.
#   rdelta/<name>: (gram, d)   net per-gram count delta of one refresh
#   cdelta/<name>: (gram, op)  >=2-cut crossings, op=+1 enter / -1 leave;
#                  crossings strictly alternate per gram, so the folded
#                  SUM(op) ∈ {-1,0,+1} is exactly the state flip vs base.
_ROLLUP_MAX_LEVELS = 8


def _levels_of(man: dict | None) -> list[str]:
    lv = (man or {}).get("levels")
    return list(lv) if isinstance(lv, list) else []


def _gc_orphan_levels(path: str, keep: list[str]) -> None:
    import shutil

    for comp in ("rdelta", "cdelta"):
        root = os.path.join(path, comp)
        try:
            entries = list(os.scandir(root))
        except OSError:
            continue
        for e in entries:
            if e.is_dir() and e.name not in keep:
                shutil.rmtree(e.path, ignore_errors=True)


def _write_level(df: DataFrame, path: str, comp: str, name: str) -> None:
    """Stage + rename one delta level (same-fs rename = atomic publish;
    the manifest lists the level only after the rename succeeded)."""
    root = os.path.join(path, comp)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(root, name))


def _read_levels(spark: SparkSession, path: str, comp: str, names: list[str]):
    return spark.read.parquet(
        *[os.path.join(path, comp, n) for n in names]
    )


def _merged_rollup(spark: SparkSession, path: str, man: dict | None) -> DataFrame:
    """Base rollup overlaid with the manifest's delta levels.  The base is
    the only corpus-sized table and it is never exchanged: the folded
    deltas (bounded by levels × ingest size) broadcast onto it, brand-new
    grams come from the tiny delta⟕hit anti-join, and grams folded to zero
    drop out."""
    base = ix.serve(spark, path, "rollup", "gram bigint, n_docs bigint").select(
        F.col("gram").cast("bigint").alias("gram"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )
    levels = _levels_of(man)
    if not levels:
        return base
    dfold = (
        _read_levels(spark, path, "rdelta", levels)
        .groupBy("gram")
        .agg(F.sum("d").cast("bigint").alias("d"))
    )
    updated = base.join(F.broadcast(dfold), "gram", "left").select(
        "gram",
        (F.col("n_docs") + F.coalesce(F.col("d"), F.lit(0)))
        .cast("bigint")
        .alias("n_docs"),
    )
    old_hit = base.join(F.broadcast(dfold.select("gram")), "gram", "left_semi")
    fresh = dfold.join(old_hit, "gram", "left_anti").select(
        "gram", F.col("d").cast("bigint").alias("n_docs")
    )
    return updated.unionByName(fresh).filter(F.col("n_docs") > 0)


def _merged_cut(spark: SparkSession, path: str, man: dict | None) -> DataFrame:
    base = ix.serve(spark, path, "cut", "gram bigint").select(
        F.col("gram").cast("bigint").alias("gram")
    )
    levels = _levels_of(man)
    if not levels:
        return base
    net = (
        _read_levels(spark, path, "cdelta", levels)
        .groupBy("gram")
        .agg(F.sum("op").cast("int").alias("net"))
    )
    dels = net.filter(F.col("net") < 0).select("gram")
    adds = net.filter(F.col("net") > 0).select("gram")
    return base.join(F.broadcast(dels), "gram", "left_anti").unionByName(adds)


def _manifests_aligned(a: dict | None, b: dict | None) -> bool:
    """True when two index manifests were stamped from the SAME corpus
    snapshot (files + epochs bit-identical).  The changed-file delta merges
    need the partials' OLD per-src values; if the partials index was
    refreshed independently past this index's snapshot those values are
    already overwritten — the caller must re-fold instead."""
    if a is None or b is None:
        return False
    return a.get("files") == b.get("files") and a.get("epochs") == b.get("epochs")


def _capture_partials(spark: SparkSession, gpath: str, srcs: list[str]) -> str:
    """Materialize the CURRENT (pre-refresh) partials of specific srcs to a
    temp parquet — O(changed files), partition-pruned — so delta merges can
    subtract them after the refresh overwrites the live partitions."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="spark_graft_gram_olddelta_")
    (
        spark.read.parquet(os.path.join(gpath, "grams"))
        .filter(F.col(ix.SRC).isin(sorted(srcs)))
        .select("gram", F.col("n_docs").cast("bigint").alias("n_docs"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    return tmp


def refresh_gram_rollup(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Keep partials AND rollup fresh after an ingest or an RTBF rewrite.
    Appends contribute ``appended srcs' partials``; CHANGED files (purge
    rewrites keep their names) contribute ``new partials − captured old
    partials`` of just those srcs — both O(ingest/affected), no corpus
    re-gram, no full re-fold (r9).  The net delta lands as ONE bounded LSM
    level (r10): the sorted base rollup/cut are untouched, serving overlays
    the folded levels by broadcast, and the full sorted rewrite runs only
    at the ``_ROLLUP_MAX_LEVELS`` fold (or for backfill-sized deltas) —
    the per-ingest base rewrite the r9 probe measured as the refresh floor
    is amortized 1-in-8.  Removals, degraded mode, and a partials index
    refreshed past this rollup's snapshot (old per-src values already
    overwritten) re-fold from the refreshed partials.  Same
    single-refresher assumption as :func:`refresh_gram_freq`."""
    import shutil
    import uuid

    t = _rollup_table(sf_dir, view)
    path = t.path
    gpath = gram_freq_path(sf_dir, view)

    def rebuild() -> None:
        refresh_gram_freq(spark, sf_dir, view)
        load_or_build_gram_rollup(spark, sf_dir, view)

    def step(man: dict, d: ix.Diff) -> dict | None:
        if d.removed or man.get("degraded"):
            return None
        old_delta_tmp = None
        if d.changed:
            if not _manifests_aligned(man, ix.read_manifest(gpath)):
                return None
            old_delta_tmp = _capture_partials(spark, gpath, d.changed)
        try:
            refresh_gram_freq(spark, sf_dir, view)
            if (ix.read_manifest(gpath) or {}).get("degraded"):
                return None
            delta = (
                spark.read.parquet(os.path.join(gpath, "grams"))
                .filter(F.col(ix.SRC).isin(d.stale))
                .select("gram", F.col("n_docs").cast("bigint").alias("n_docs"))
            )
            if old_delta_tmp is not None:
                neg = spark.read.parquet(old_delta_tmp).select(
                    "gram", (-F.col("n_docs")).cast("bigint").alias("n_docs")
                )
                delta = delta.unionByName(neg)
            # net per-gram delta is bounded by the stale files' gram count —
            # small for a daily ingest/purge; zero-net grams (a rewrite
            # that re-grammed identically) drop out entirely
            dd = (
                delta.groupBy("gram")
                .agg(F.sum("n_docs").cast("bigint").alias("d"))
                .filter(F.col("d") != 0)
                .persist()
            )
            try:
                return _fold_delta(spark, path, man, d.files, dd, uuid.uuid4().hex[:8])
            finally:
                dd.unpersist()
        finally:
            if old_delta_tmp is not None:
                shutil.rmtree(old_delta_tmp, ignore_errors=True)

    t.refresh(step, rebuild)
    return _serve_rollup(spark, path)


def _fold_delta(
    spark: SparkSession, path: str, man: dict, files: dict, dd: DataFrame, tag: str
) -> dict:
    """Apply the net per-gram delta ``dd`` (gram, d) to the rollup at
    ``path``; returns the manifest keys of the new state."""
    levels = _levels_of(man)
    n_dd = dd.count()
    if n_dd == 0:
        # net no-op (a rewrite re-grammed identically): stamp the manifest
        # current, no level, no rewrite
        return {"degraded": False, "levels": levels}
    small = n_dd <= 1_000_000
    if small and len(levels) < _ROLLUP_MAX_LEVELS:
        # LSM fast path (r10): append ONE bounded delta level — the base
        # rollup/cut are not rewritten at all.  The only base-sized work is
        # one scan-only broadcast-semi to fetch the dd grams' old base
        # counts for the cut-crossing computation; everything written is
        # O(dd).
        name = f"L{len(levels):03d}_{tag}"
        base = ix.serve(spark, path, "rollup", "gram bigint, n_docs bigint").select(
            F.col("gram").cast("bigint").alias("gram"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        old_tot = base.join(
            F.broadcast(dd.select("gram")), "gram", "left_semi"
        ).select("gram", F.col("n_docs").alias("v"))
        if levels:
            old_tot = old_tot.unionByName(
                _read_levels(spark, path, "rdelta", levels)
                .join(F.broadcast(dd.select("gram")), "gram", "left_semi")
                .select("gram", F.col("d").cast("bigint").alias("v"))
            )
        old_tot = old_tot.groupBy("gram").agg(
            F.sum("v").cast("bigint").alias("old_n")
        )
        x = (
            dd.join(old_tot, "gram", "left")
            .select(
                "gram",
                "d",
                F.coalesce(F.col("old_n"), F.lit(0)).cast("bigint").alias("old_n"),
            )
            .withColumn("new_n", F.col("old_n") + F.col("d"))
        )
        cut_delta = x.filter(
            ((F.col("old_n") < 2) & (F.col("new_n") >= 2))
            | ((F.col("old_n") >= 2) & (F.col("new_n") < 2))
        ).select(
            "gram",
            F.when(F.col("new_n") >= 2, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("op"),
        )
        _write_level(
            dd.select("gram", F.col("d").cast("bigint").alias("d")),
            path,
            "rdelta",
            name,
        )
        _write_level(cut_delta, path, "cdelta", name)
        # unlisted level dirs are crash orphans; the new list keeps every
        # level a reader of the old manifest can still be folding
        _gc_orphan_levels(path, levels + [name])
        return {"degraded": False, "levels": levels + [name]}
    # fold (level cap reached, or a backfill-sized delta): base + all
    # levels + dd -> a fresh sorted base with no deltas.  When dd
    # broadcasts, the merge keeps the old base SCAN-ONLY (BHJ update + tiny
    # anti for brand-new grams); the remaining big shuffle is the sorted
    # rewrite itself — paid once per _ROLLUP_MAX_LEVELS refreshes.
    old = _merged_rollup(spark, path, man)
    if small:
        updated = old.join(F.broadcast(dd), "gram", "left").select(
            "gram",
            (F.col("n_docs") + F.coalesce(F.col("d"), F.lit(0)))
            .cast("bigint")
            .alias("n_docs"),
        )
        old_hit = old.join(F.broadcast(dd.select("gram")), "gram", "left_semi")
        fresh = dd.join(old_hit, "gram", "left_anti").select(
            "gram", F.col("d").cast("bigint").alias("n_docs")
        )
        merged = updated.unionByName(fresh).filter(F.col("n_docs") > 0)
    else:
        merged = (
            old.unionByName(dd.select("gram", F.col("d").alias("n_docs")))
            .groupBy("gram")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
            .filter(F.col("n_docs") > 0)
        )
    keys = {"degraded": False, "levels": []}
    staging = ix.staging_path(path)
    _write_rollup_tables(merged, staging)
    ix.write_manifest(staging, {**ix.compact_manifest(man, files), **keys})
    # the merge read the OLD rollup: publish must replace it even though it
    # exists — retire-then-promote, never skip
    ix.publish(staging, path)
    return keys


def shared_grams_cut(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """The >=2 cut served from the maintained ROLLUP — a plain sorted scan
    of the base cut plus a broadcast overlay of the (bounded) crossing
    levels, zero base exchange (the scale serving path;
    :func:`shared_grams` remains the fold-the-partials fallback)."""
    load_or_build_gram_rollup(spark, sf_dir, view)
    path = rollup_path(sf_dir, view)
    return _merged_cut(spark, path, ix.read_manifest(path))


# ---------------------------------------------------------------------------
# Ingest-incremental scrub (r9): the exact-substring scrub OUTPUT itself as
# a maintained per-src table, closing the family's last corpus-sized
# serving term.  dedup_cross_doc_scrub_served still re-scrubs the whole
# corpus per call (only its frequency pass is served); the production
# shape at 100 TB is scrub-on-ingest — per batch, scrub ONLY:
#
#   1. the newly ingested part files, and
#   2. the old part files RETROACTIVELY affected by the ingest: a new doc
#      can flip an old doc's gram from unique to shared (n_docs 1 -> >=2),
#      invalidating that old doc's previously emitted scrub.  Flipped
#      grams are computed without any pre-refresh snapshot:
#      new_total >= 2 AND new_total - delta <= 1 (delta = the appended
#      srcs' partials, re-readable from the partials index any time),
#      and the affected srcs are the partials' srcs containing a flipped
#      gram — index work only, never corpus work.
#
# Each src= scrub partition is a pure function of (that part file, the
# GLOBAL >=2 cut), so untouched partitions stay exact by construction.
# Non-append changes (RTBF rewrites, removals) and degraded-mode partials
# fall back to the full staged rebuild — correct first, incremental where
# the invariants allow.  No counterpart in the reference.
# ---------------------------------------------------------------------------
def scrub_path(sf_dir: str, view: CorpusView = AUG) -> str:
    return ix.index_path("gramscrub", _key(sf_dir, view))


def scrub_assemble(toks: DataFrame, covered_pos: DataFrame, extra=()) -> DataFrame:
    """Shared scrub assembly (r10): ``toks`` = (..extra.., doc_id, t) with
    the token array staged; ``covered_pos`` = (doc_id, cpos) rows of
    1-based covered token positions (duplicates fine — collect_set dedups).
    Returns one row per doc: (..extra.., doc_id, n_tokens, n_removed,
    scrubbed_text).

    Replaces the tokpos-explode → anti-join → collect_list + order-
    restoring-sort reassembly: covered positions (two ints per row) are the
    only rows that cross an exchange — the token strings never shuffle —
    and the per-doc reassembly is a narrow map.  Bit-identical output:
    array_except preserves the (ascending) order of its left operand, so
    kept positions come out sorted and each kept token is re-read in place
    with element_at (1-based, and every position is ≤ size(t) by
    construction, so ANSI cannot throw)."""
    cov = covered_pos.groupBy("doc_id").agg(F.collect_set("cpos").alias("_cov"))
    empty = F.array().cast("array<int>")
    # sequence(1, 0) silently turns DESCENDING under ANSI (CLAUDE.md) —
    # guard the zero-token docs explicitly.
    allpos = F.when(F.size("t") > 0, F.sequence(F.lit(1), F.size("t"))).otherwise(empty)
    staged = toks.join(cov, "doc_id", "left").select(
        *extra,
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.array_except(allpos, F.coalesce(F.col("_cov"), empty)).alias("_kept"),
        "t",
    )
    return staged.select(
        *extra,
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("_kept")).cast("int").alias("n_removed"),
        F.array_join(
            F.transform(F.col("_kept"), lambda p: F.element_at(F.col("t"), p)), " "
        ).alias("scrubbed_text"),
    )


def _scrub_frame(docs: DataFrame, shared: DataFrame, src_col=None) -> DataFrame:
    """Exact-substring scrub of ``docs`` against the ``shared`` gram cut:
    (src, doc_id, n_tokens, n_removed, scrubbed_text), token positions
    1-based (same semantics as queries/text_pipeline.dedup_cross_doc_scrub,
    whose oracle the maintained table shares).  ``src_col`` overrides the
    provenance column (degraded mode writes one pseudo-partition)."""
    n = NGRAM_N
    src = F.lit(src_col) if src_col is not None else F.col(ix.SRC)
    toks = docs.select(
        src.alias(ix.SRC), "doc_id", tx.tokens(F.col("text")).alias("t")
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
    covered = grams.join(shared, "gram").select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("cpos"),
    )
    return scrub_assemble(toks, covered, extra=(ix.SRC,))


def _scrub_table(sf_dir: str, view: CorpusView) -> ix.SrcTable:
    return ix.SrcTable(
        scrub_path(sf_dir, view), sf_dir, TABLE, {"docs": (("doc_id",), 4)}
    )


def load_or_build_gram_scrub(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """The maintained scrub table, full staged build on first use /
    staleness: partials + rollup brought current first, then every part
    file scrubbed against the global cut.  Degraded partials (doc-locality
    violation) scrub the whole view in ONE pass under ``src=__degraded__``
    — identical semantics to the from-scratch query, which groups kept
    tokens by doc_id corpus-wide."""
    t = _scrub_table(sf_dir, view)

    def build(staging: str) -> dict:
        load_or_build_gram_rollup(spark, sf_dir, view)
        degraded = bool(
            (ix.read_manifest(gram_freq_path(sf_dir, view)) or {}).get("degraded")
        )
        shared = shared_grams_cut(spark, sf_dir, view)
        frame = _scrub_frame(
            view.docs(spark, sf_dir), shared, src_col=_DEGRADED_SRC if degraded else None
        )
        t.write(staging, "docs", frame)
        return {"degraded": degraded}

    t.load_or_build(build)
    return _serve_scrub(spark, t.path)


def refresh_gram_scrub(
    spark: SparkSession,
    sf_dir: str,
    view: CorpusView = AUG,
) -> DataFrame:
    """Scrub-on-ingest AND scrub-on-purge: bring partials + rollup current,
    then rewrite ONLY the scrub partitions of (added ∪ changed srcs) ∪
    (old srcs retroactively hit by a shared-status flip).  Flips go BOTH
    ways (r9): an append can turn a gram unique→shared (old docs need
    scrubbing), an RTBF rewrite can turn it shared→unique (surviving docs
    get their tokens BACK).  Per gram, old_total = new_total − new_delta +
    old_delta over the stale srcs — snapshot-free except the O(changed)
    old-partials capture.  Removals, degraded mode, and misaligned
    manifests fall back to the full staged rebuild.  Same single-refresher
    assumption as :func:`refresh_gram_freq`."""
    import shutil

    t = _scrub_table(sf_dir, view)
    gpath = gram_freq_path(sf_dir, view)

    def step(man: dict, d: ix.Diff) -> dict | None:
        if d.removed or man.get("degraded"):
            return None
        old_delta_tmp = None
        if d.changed:
            if not _manifests_aligned(man, ix.read_manifest(gpath)):
                return None
            old_delta_tmp = _capture_partials(spark, gpath, d.changed)
        try:
            rollup = refresh_gram_rollup(spark, sf_dir, view)
            if (ix.read_manifest(gpath) or {}).get("degraded"):
                return None
            partials = spark.read.parquet(os.path.join(gpath, "grams"))
            nd = (
                partials.filter(F.col(ix.SRC).isin(d.stale))
                .groupBy("gram")
                .agg(F.sum("n_docs").cast("bigint").alias("nd"))
            )
            if old_delta_tmp is not None:
                od = (
                    spark.read.parquet(old_delta_tmp)
                    .groupBy("gram")
                    .agg(F.sum("n_docs").cast("bigint").alias("od"))
                )
                cand = nd.join(od, "gram", "full")
            else:
                cand = nd.withColumn("od", F.lit(None).cast("bigint"))
            # candidate grams are bounded by the stale files' gram count;
            # keep the big rollup SCAN-ONLY: broadcast-semi it down to the
            # candidates, then join the two small sides (vs an SMJ that
            # would exchange the whole rollup per refresh)
            cand = cand.persist()
            try:
                small = cand.count() <= 1_000_000
                small_rollup = (
                    rollup.join(F.broadcast(cand.select("gram")), "gram", "left_semi")
                    if small
                    else rollup
                )
                j = cand.join(small_rollup, "gram", "left")
                new_total = F.coalesce(F.col("n_docs"), F.lit(0))
                old_total = (
                    new_total - F.coalesce(F.col("nd"), F.lit(0))
                    + F.coalesce(F.col("od"), F.lit(0))
                )
                flipped = j.filter(
                    (old_total >= 2) != (new_total >= 2)
                ).select("gram")
                flipped = F.broadcast(flipped) if small else flipped
                affected = {
                    r[0]
                    for r in partials.join(flipped, "gram", "left_semi")
                    .select(ix.SRC)
                    .distinct()
                    .collect()
                }
            finally:
                cand.unpersist()
            scope = sorted(set(d.stale) | affected)
            shared = shared_grams_cut(spark, sf_dir, view)
            frame = _scrub_frame(view.docs(spark, sf_dir, t.file_paths(scope)), shared)
            t.write(t.path, "docs", frame, scope)
            return {"degraded": False}
        finally:
            if old_delta_tmp is not None:
                shutil.rmtree(old_delta_tmp, ignore_errors=True)

    t.refresh(step, lambda: load_or_build_gram_scrub(spark, sf_dir, view))
    return _serve_scrub(spark, t.path)


def _serve_scrub(spark: SparkSession, path: str) -> DataFrame:
    return ix.serve(
        spark,
        path,
        "docs",
        "doc_id bigint, n_tokens int, n_removed int, scrubbed_text string",
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "scrubbed_text",
    )


def _serve_rollup(spark: SparkSession, path: str) -> DataFrame:
    return _merged_rollup(spark, path, ix.read_manifest(path))


def _serve(spark: SparkSession, path: str) -> DataFrame:
    # every src partition dropped (e.g. RTBF purged the whole corpus) is a
    # valid EMPTY index, not an error
    return ix.serve(spark, path, "grams", "gram bigint, n_docs bigint").select(
        "gram", F.col("n_docs").cast("bigint").alias("n_docs")
    )
