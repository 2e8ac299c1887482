"""Round-10 hardening (ADVICE r09): the four verified findings.

1. medium — _partials_frame counted ROWS per (src, gram), so a doc_id
   duplicated in two rows of the SAME part file double-counted and could
   wrongly push a unique gram into the >=2 scrub cut WITHOUT degrading
   (disjoint footer ranges only prove cross-file uniqueness).  Fixed by
   count_distinct(doc_id) in the partials, making the range proof
   sufficient.
2. medium — _serve_component's empty-index heuristic looked for
   top-level *.parquet files, but the scrub docs component is
   src=-partitioned, so a real read error on a POPULATED scrub table was
   masked as a valid empty frame.  Fixed: partitioned components detect
   emptiness by absence of src= dirs.
3. low — drop_src_partitions (now publish_partitions' scope drop)
   decoded partition-path percent-escapes
   byte-wise with chr() (Latin-1), so UTF-8 source names never matched
   and stale partitions were kept forever.  Fixed: urllib.parse.unquote.
4. low — `python bench.py --aba` with no commit argument silently ran
   the full default benchmark.  Fixed: usage error, exit 2.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from olap_sus_spark.operators import gramfreq as gf
from olap_sus_spark.operators import index_store as ix
from olap_sus_spark.operators.corpus_view import PLAIN
from tests.conftest import SF_DIR

pytestmark = pytest.mark.slow  # hour-scale chain/probe suite: opt-in via -m slow (driver verify window, r11)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mk_corpus(spark, tmp_path) -> str:
    sf = str(tmp_path / "sf")
    os.makedirs(os.path.join(sf, "documents.parquet"))
    shutil.copy(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
    )
    return sf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _move_single_part(df, dest: str) -> None:
    staging = dest + ".__stage__"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), dest)
    shutil.rmtree(staging)


# ---------------------------------------------------------------------------
# 1. intra-file duplicate doc_id rows
# ---------------------------------------------------------------------------
def test_partials_count_distinct_docs_not_rows(spark):
    """Unit: a doc_id duplicated across two rows of one src contributes 1
    to n_docs, not 2."""
    docs = spark.createDataFrame(
        [
            ("f1", 1, "alpha beta gamma delta epsilon zeta"),
            ("f1", 1, "alpha beta gamma delta epsilon zeta"),  # dup row
            ("f1", 2, "unrelated words entirely different here now"),
        ],
        "src string, doc_id bigint, text string",
    )
    partials = gf._partials_frame(docs)
    assert partials.agg(F.max("n_docs")).first()[0] == 1


def test_intra_file_dup_keeps_fast_path_and_exact_cut(
    spark, tmp_path, monkeypatch
):
    """End-to-end ADVICE repro: duplicate one doc's row INSIDE part-00 (the
    per-file footer range is unchanged, so the cross-file range proof still
    passes and the build takes the per-src fast path — no degrade).  The
    served >=2 cut must equal the distinct-document truth: the duplicated
    doc's unique grams must NOT leak into the cut."""
    from olap_sus_spark.operators import text as tx

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    part = os.path.join(sf, "documents.parquet", "part-00.parquet")
    docs = spark.read.parquet(part)
    # two identical rows of an EXISTING doc_id (footer range unchanged)
    # whose synthetic text's 5-grams exist nowhere else in the corpus: a
    # per-row fold counts them twice and leaks them into the >=2 cut
    min_id = docs.agg(F.min("doc_id")).first()[0]
    dup = docs.limit(1).select(
        F.lit(min_id).cast("bigint").alias("doc_id"),
        *[
            F.lit("zqxa zqxb zqxc zqxd zqxe zqxf zqxg").alias(c)
            if c == "text"
            else F.col(c)
            for c in docs.columns
            if c != "doc_id"
        ],
    ).select(*docs.columns)
    _move_single_part(docs.unionAll(dup).unionAll(dup), part)

    gf.load_or_build_gram_freq(spark, sf, PLAIN)
    path = gf.gram_freq_path(sf, PLAIN)
    man = ix.read_manifest(path)
    assert man["degraded"] is False  # fast path kept, not degraded
    assert not os.path.isdir(os.path.join(path, "grams", "src=__degraded__"))

    dg = (
        spark.read.parquet(part)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        tx.sliding_concat(tx.tokens(F.col("text")), gf.NGRAM_N),
                        tx.md5_int,
                    )
                )
            ).alias("gram"),
        )
        .distinct()
    )
    truth = {
        r[0]
        for r in dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gram")
        .collect()
    }
    served = {r[0] for r in gf.shared_grams(spark, sf, PLAIN).collect()}
    assert served == truth
    # the pre-fix per-row fold WOULD have differed (the duplicated doc's
    # solo grams would read n_docs=2): prove the fix is load-bearing
    wrong = {
        r[0]
        for r in spark.read.parquet(part)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        tx.sliding_concat(tx.tokens(F.col("text")), gf.NGRAM_N),
                        tx.md5_int,
                    )
                )
            ).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gram")
        .collect()
    }
    assert wrong > truth


def test_cross_file_dup_still_degrades(spark, tmp_path, monkeypatch):
    """The refined exact check (distinct (src, doc_id) == distinct doc_id)
    must still catch a doc_id living in TWO part files with overlapping
    footer ranges — per-src fold impossible, degrade required."""

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    shutil.copy(
        os.path.join(sf, "documents.parquet", "part-00.parquet"),
        os.path.join(sf, "documents.parquet", "part-01.parquet"),
    )
    gf.load_or_build_gram_freq(spark, sf, PLAIN)
    path = gf.gram_freq_path(sf, PLAIN)
    assert ix.read_manifest(path)["degraded"] is True


# ---------------------------------------------------------------------------
# 2. partitioned serve: read errors must not be masked as empty
# ---------------------------------------------------------------------------
def test_scrub_serve_corruption_raises_not_empty(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    gf.load_or_build_gram_scrub(spark, sf)
    path = gf.scrub_path(sf)
    docs_dir = os.path.join(path, "docs")
    src_dirs = [
        e.path for e in os.scandir(docs_dir) if e.name.startswith("src=")
    ]
    assert src_dirs  # populated, src=-partitioned
    # corrupt every data file: a populated-but-unreadable scrub table
    for sd in src_dirs:
        for f in os.listdir(sd):
            if f.endswith(".parquet"):
                with open(os.path.join(sd, f), "wb") as fh:
                    fh.write(b"not a parquet footer")
    with pytest.raises(Exception):
        gf._serve_scrub(spark, path).collect()


def test_scrub_serve_no_src_dirs_is_valid_empty(spark, tmp_path):
    path = str(tmp_path / "scrubidx")
    os.makedirs(os.path.join(path, "docs"))
    out = ix.serve(
        spark,
        path,
        "docs",
        "doc_id bigint, n_tokens int, n_removed int, scrubbed_text string",
    )
    assert out.count() == 0


# ---------------------------------------------------------------------------
# 3. UTF-8 partition-path escapes
# ---------------------------------------------------------------------------
def test_drop_src_partitions_decodes_utf8_escapes(tmp_path):
    root = str(tmp_path / "comp")
    # Spark escapes the UTF-8 BYTES: 'é' -> %C3%A9
    victim = os.path.join(root, "src=f%C3%A9.parquet")
    keeper = os.path.join(root, "src=plain.parquet")
    raw = os.path.join(root, "src=naïve.parquet")  # unescaped multi-byte
    for d in (victim, keeper, raw):
        os.makedirs(d)
    ix.publish_partitions(root + ".none", root, "src", {"fé.parquet", "naïve.parquet"})
    assert not os.path.isdir(victim)
    assert not os.path.isdir(raw)
    assert os.path.isdir(keeper)


def test_drop_src_partitions_invalid_escape_matches_verbatim(tmp_path):
    root = str(tmp_path / "comp")
    # %FF%FE is not valid UTF-8: strict decode fails, verbatim match wins
    odd = os.path.join(root, "src=x%FF%FE.parquet")
    os.makedirs(odd)
    ix.publish_partitions(root + ".none", root, "src", {"x%FF%FE.parquet"})
    assert not os.path.isdir(odd)


# ---------------------------------------------------------------------------
# 5. decontamination eval-set broadcast guard (VERDICT r09 #3): the hint
# is pinned only for a provably small eval set; an adversarially large one
# (bound forced to 0) takes the un-hinted shuffle path with identical
# results.
# ---------------------------------------------------------------------------
def test_decontam_broadcast_guard_fallback_is_exact(spark, monkeypatch):
    from olap_sus_spark.queries import text_pipeline as tp

    base = sorted(
        tuple(r) for r in tp.decontaminate_exact_substring(spark, SF_DIR).collect()
    )
    assert base  # the convention yields hits at sf0.001
    monkeypatch.setattr(tp, "_EVAL_BROADCAST_MAX", 0)
    got = sorted(
        tuple(r) for r in tp.decontaminate_exact_substring(spark, SF_DIR).collect()
    )
    assert got == base


def test_maybe_broadcast_eval_probe_is_bounded(spark):
    from olap_sus_spark.queries import text_pipeline as tp

    ev = spark.range(5).select(F.col("id").alias("gram"))
    # over the bound: the EXACT input frame comes back (no pinned hint —
    # AQE stays free to choose from runtime stats)
    assert tp._maybe_broadcast_eval(ev, 2) is ev
    # under the bound: a hinted copy, not the original
    assert tp._maybe_broadcast_eval(ev, 10) is not ev


# ---------------------------------------------------------------------------
# 7. maintained decontamination (VERDICT r09 #6): the eval gram set rides
# the gram_freq contract under the EVAL97 view; refresh == rebuild, and the
# served twin equals the from-scratch query row for row.
# ---------------------------------------------------------------------------
def test_eval_grams_refresh_equals_rebuild(spark, tmp_path, monkeypatch):
    from olap_sus_spark.queries import text_pipeline as tp

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    base = {r[0] for r in tp.load_or_build_eval_grams(spark, sf).collect()}
    assert base  # the %97 convention selects eval docs at sf0.001

    # append with an eval-CLASS-preserving shift (multiple of 97): the
    # batch contains new eval docs, so the refresh extends the set
    part = os.path.join(sf, "documents.parquet", "part-00.parquet")
    docs = spark.read.parquet(part)
    extra = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(97 * 100_000).cast("bigint")
    )
    _move_single_part(
        extra, os.path.join(sf, "documents.parquet", "part-01.parquet")
    )
    refreshed = {r[0] for r in tp.refresh_eval_grams(spark, sf).collect()}
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = {r[0] for r in tp.load_or_build_eval_grams(spark, sf).collect()}
    assert refreshed == fresh
    assert base <= refreshed  # set semantics: appends only extend


def test_decontaminate_served_equals_from_scratch(spark, tmp_path, monkeypatch):
    from olap_sus_spark.queries import text_pipeline as tp

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    a = sorted(
        tuple(r) for r in tp.decontaminate_exact_substring(spark, sf).collect()
    )
    b = sorted(
        tuple(r)
        for r in tp.decontaminate_exact_substring_served(spark, sf).collect()
    )
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# 6. corpus-scale mutual-NN (VERDICT r09 #2): the SRP-bucketed candidate
# stream must recover most of the TRUE mutual-NN set (recall gate), and
# the served twin must equal the inline build exactly.
# ---------------------------------------------------------------------------
def test_mutual_nn_bucketed_recall_vs_exact(spark):
    from pyspark.sql import Window

    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators.similarity import _as_double, cosine
    from olap_sus_spark.queries.vector import mutual_nn_pairs_bucketed

    emb = load_table(spark, SF_DIR, "embeddings")
    vecs = _as_double(emb, "embedding", "cv").select("vec_id", "cv")
    a = vecs.select(F.col("vec_id").alias("ida"), F.col("cv").alias("va"))
    b = vecs.select(F.col("vec_id").alias("idb"), F.col("cv").alias("vb"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("ida") != F.col("idb"))
        .select("ida", "idb", cosine(F.col("va"), F.col("vb")).alias("cosine"))
    )
    w = Window.partitionBy("ida").orderBy(F.col("cosine").desc(), "idb")
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("ida", "idb")
        .localCheckpoint(eager=True)
    )
    t = nn.select(F.col("ida").alias("idb"), F.col("idb").alias("ida"))
    exact = {
        (r[0], r[1])
        for r in nn.join(t, ["ida", "idb"]).filter("ida < idb").collect()
    }
    got = {
        (r[0], r[1]) for r in mutual_nn_pairs_bucketed(spark, SF_DIR).collect()
    }
    assert exact  # the gate corpus has true mutual pairs
    recall = len(got & exact) / len(exact)
    # measured 0.841 at sf0.001 / 0.855 at sf0.01 with occupancy-64 ×12
    # tables; 0.75 leaves headroom for testdata regeneration, and a drop
    # below it means the sizing regressed toward the 0.50 dedup-width trap
    assert recall >= 0.75, f"recall {recall:.3f}"


def test_mutual_nn_bucketed_indexed_equals_inline(spark, tmp_path, monkeypatch):
    from olap_sus_spark.queries.vector import (
        mutual_nn_pairs_bucketed,
        mutual_nn_pairs_bucketed_indexed,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    inline = sorted(
        tuple(r) for r in mutual_nn_pairs_bucketed(spark, SF_DIR).collect()
    )
    served = sorted(
        tuple(r)
        for r in mutual_nn_pairs_bucketed_indexed(spark, SF_DIR).collect()
    )
    assert inline == served and len(inline) > 0


# ---------------------------------------------------------------------------
# 8. index compaction (VERDICT r09 #1): refresh chains accumulate up to 4
# files per touched src= partition; compaction walks the registry's
# per-file tables and folds them to 1 with bit-identical served values,
# untouched manifests, and a still-working refresh path afterwards.
# ---------------------------------------------------------------------------
def _n_parquet(root: str) -> int:
    return sum(
        1
        for r, _d, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def _served(out) -> list:
    """Every served frame of a spec's build or refresh, as sorted rows."""
    return [_rows(df) for df in (out if isinstance(out, tuple) else (out,))]


# the registry's text tables (the gram partials, the scrub and the
# postings) plus the SRP pair-generation index, whose width follows the
# corpus size (the table the old hand-written list missed)
_COMPACTED = ("gramfreq", "gramscrub", "inverted", "srp_lsh_dedup")


def _append_parts(spark, sf, docs0, emb0, max_doc, max_vec, i) -> None:
    """Part file ``i`` of both corpora: docs with doc_id % 5 == i under
    fresh ids, and 4 vectors under fresh ids (504..512 vectors keep the
    occupancy-8 SRP width at 6 bits)."""
    extra = docs0.filter(F.col("doc_id") % 5 == i).withColumn(
        "doc_id", F.col("doc_id") + F.lit(i * max_doc).cast("bigint")
    )
    _move_single_part(extra, os.path.join(sf, "documents.parquet", f"part-{i:02d}.parquet"))
    vecs = emb0.orderBy("vec_id").limit(4).withColumn(
        "vec_id", F.col("vec_id") + F.lit(i * max_vec).cast("bigint")
    )
    _move_single_part(vecs, os.path.join(sf, "embeddings.parquet", f"part-{i:02d}.parquet"))


def test_compaction_shrinks_files_preserves_values_and_refresh(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.maintenance import specs
    from olap_sus_spark.operators.compaction import compact_maintained_indexes

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    os.makedirs(os.path.join(sf, "embeddings.parquet"))
    shutil.copy(
        os.path.join(SF_DIR, "embeddings.parquet"),
        os.path.join(sf, "embeddings.parquet", "part-00.parquet"),
    )
    docs0 = spark.read.parquet(os.path.join(sf, "documents.parquet", "part-00.parquet"))
    emb0 = spark.read.parquet(os.path.join(sf, "embeddings.parquet", "part-00.parquet"))
    max_doc = docs0.agg(F.max("doc_id")).first()[0] + 1
    max_vec = emb0.agg(F.max("vec_id")).first()[0] + 1
    assert emb0.count() == 500

    chosen = [s for s in specs() if s.name in _COMPACTED]
    assert {s.name for s in chosen} == set(_COMPACTED)
    for s in chosen:
        s.build(spark, sf)
    for i in (1, 2):  # two refresh rounds accumulate per-src files
        _append_parts(spark, sf, docs0, emb0, max_doc, max_vec, i)
        for s in chosen:
            s.refresh(spark, sf, [])

    paths = {s.name: s.path(sf) for s in chosen}
    before = {n: _n_parquet(p) for n, p in paths.items()}
    served_before = {s.name: _served(s.build(spark, sf)) for s in chosen}
    man_before = {n: ix.read_manifest(p) for n, p in paths.items()}

    done = compact_maintained_indexes(spark, sf)
    for key in ("gramfreq/grams", "gramscrub/docs", "inverted/postings", "srp_lsh_dedup"):
        assert key in done, (key, sorted(done))
    assert set(done) <= {
        f"{s.name}/{c}" if c else s.name
        for s in specs() if s.table is not None
        for c in s.table(sf).parts
    }
    after = {n: _n_parquet(p) for n, p in paths.items()}
    for n in before:
        assert after[n] < before[n], (n, before[n], after[n])
    # one file per src= partition now, in every compacted component
    for s in specs():
        if s.table is None or not os.path.isdir(s.path(sf)):
            continue
        t = s.table(sf)
        for c in t.parts:
            root = os.path.join(t.path, c) if c else t.path
            for e in os.scandir(root):
                if e.is_dir() and e.name.startswith("src="):
                    files = [f for f in os.listdir(e.path) if f.endswith(".parquet")]
                    assert len(files) == 1, (e.path, files)

    # served values bit-identical, manifests untouched
    assert man_before == {n: ix.read_manifest(p) for n, p in paths.items()}
    assert served_before == {s.name: _served(s.build(spark, sf)) for s in chosen}

    # the refresh contract survives compaction: append -> refresh == rebuild
    _append_parts(spark, sf, docs0, emb0, max_doc, max_vec, 3)
    got = {s.name: _served(s.refresh(spark, sf, [])) for s in chosen}
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = {s.name: _served(s.build(spark, sf)) for s in chosen}
    assert got == fresh
    assert all(rows for name in got for rows in got[name])


def test_compaction_skips_missing_indexes(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators.compaction import compact_maintained_indexes

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_none"))
    sf = _mk_corpus(spark, tmp_path)
    assert compact_maintained_indexes(spark, sf) == {}


# ---------------------------------------------------------------------------
# 9. LSM rollup levels (VERDICT r09 #4): per-ingest refreshes append one
# bounded delta level (base rollup/cut files untouched), crossings flip
# the served cut both ways, the RTBF/changed path lands negative deltas,
# and the level cap folds everything back into a fresh sorted base —
# serve == fresh rebuild after every step.
# ---------------------------------------------------------------------------
def _fresh_rollup_rows(spark, sf, tmp_path, tag):
    """Rollup + cut of a FRESH full build in a throwaway index root."""
    old = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(tmp_path / f"idx_fresh_{tag}")
    try:
        from olap_sus_spark.operators import gramfreq as gf

        r = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
        c = _rows(gf.shared_grams_cut(spark, sf, PLAIN))
        return r, c
    finally:
        os.environ["SPARK_GRAFT_INDEX_DIR"] = old


def test_rollup_lsm_levels_and_fold(spark, tmp_path, monkeypatch):
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    monkeypatch.setattr(gf, "_ROLLUP_MAX_LEVELS", 3)
    sf = _mk_corpus(spark, tmp_path)
    gf.load_or_build_gram_rollup(spark, sf, PLAIN)
    path = gf.rollup_path(sf, PLAIN)
    assert gf._levels_of(ix.read_manifest(path)) == []
    base_files = sorted(os.listdir(os.path.join(path, "rollup")))

    part0 = os.path.join(sf, "documents.parquet", "part-00.parquet")
    docs0 = spark.read.parquet(part0)
    max_id = docs0.agg(F.max("doc_id")).first()[0] + 1

    # ingest 1: VERBATIM copies of existing docs -> unique->shared
    # crossings (+1 ops); ingest 2: fresh salted text -> new grams
    for i, dup in ((1, True), (2, False)):
        batch = docs0.filter(F.col("doc_id") % 4 == i).withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * max_id).cast("bigint")
        )
        if not dup:
            batch = batch.withColumn(
                "text",
                F.expr(
                    f"array_join(transform(split(text, ' '),"
                    f" w -> concat('lsm{i}', w)), ' ')"
                ),
            )
        _move_single_part(
            batch, os.path.join(sf, "documents.parquet", f"part-{i:02d}.parquet")
        )
        gf.refresh_gram_rollup(spark, sf, PLAIN)
        man = ix.read_manifest(path)
        assert len(gf._levels_of(man)) == i  # one level per ingest
        # the sorted base was NOT rewritten
        assert sorted(os.listdir(os.path.join(path, "rollup"))) == base_files
        got_r = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
        got_c = _rows(gf.shared_grams_cut(spark, sf, PLAIN))
        fr, fc = _fresh_rollup_rows(spark, sf, tmp_path, f"a{i}")
        assert got_r == fr and got_c == fc and len(got_c) > 0

    # ingest 3: RTBF-style rewrite of the dup file -> negative deltas,
    # shared->unique crossings (-1 ops) — still a level, base untouched
    import time

    shrunk = spark.read.parquet(
        os.path.join(sf, "documents.parquet", "part-01.parquet")
    ).limit(2)
    _move_single_part(
        shrunk, os.path.join(sf, "documents.parquet", "part-01.parquet")
    )
    now = time.time() + 2
    os.utime(os.path.join(sf, "documents.parquet", "part-01.parquet"), (now, now))
    gf.refresh_gram_rollup(spark, sf, PLAIN)
    assert len(gf._levels_of(ix.read_manifest(path))) == 3
    assert sorted(os.listdir(os.path.join(path, "rollup"))) == base_files
    got_r = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
    got_c = _rows(gf.shared_grams_cut(spark, sf, PLAIN))
    fr, fc = _fresh_rollup_rows(spark, sf, tmp_path, "rtbf")
    assert got_r == fr and got_c == fc

    # ingest 4: level cap reached -> FOLD into a fresh sorted base
    batch = docs0.filter(F.col("doc_id") % 4 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(4 * max_id).cast("bigint")
    )
    _move_single_part(
        batch, os.path.join(sf, "documents.parquet", "part-04.parquet")
    )
    gf.refresh_gram_rollup(spark, sf, PLAIN)
    man = ix.read_manifest(path)
    assert gf._levels_of(man) == []  # folded
    assert not os.path.exists(os.path.join(path, "rdelta"))  # promote wiped
    got_r = _rows(gf.load_or_build_gram_rollup(spark, sf, PLAIN))
    got_c = _rows(gf.shared_grams_cut(spark, sf, PLAIN))
    fr, fc = _fresh_rollup_rows(spark, sf, tmp_path, "fold")
    assert got_r == fr and got_c == fc


def test_rollup_lsm_scrub_chain_stays_exact(spark, tmp_path, monkeypatch):
    """The scrub chain on top of LSM levels: refresh_gram_scrub's flip
    detection reads the MERGED rollup — after two leveled ingests the
    maintained scrub must equal a fresh full rebuild."""
    from olap_sus_spark.operators import gramfreq as gf

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _mk_corpus(spark, tmp_path)
    gf.load_or_build_gram_scrub(spark, sf, PLAIN)
    part0 = os.path.join(sf, "documents.parquet", "part-00.parquet")
    docs0 = spark.read.parquet(part0)
    max_id = docs0.agg(F.max("doc_id")).first()[0] + 1
    for i, dup in ((1, True), (2, False)):
        batch = docs0.filter(F.col("doc_id") % 4 == i).withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * max_id).cast("bigint")
        )
        if not dup:
            batch = batch.withColumn("text", F.concat(F.lit(f"zq{i} "), "text"))
        _move_single_part(
            batch, os.path.join(sf, "documents.parquet", f"part-{i:02d}.parquet")
        )
        got = _rows(gf.refresh_gram_scrub(spark, sf, PLAIN))
    assert (
        len(gf._levels_of(ix.read_manifest(gf.rollup_path(sf, PLAIN)))) == 2
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = _rows(gf.load_or_build_gram_scrub(spark, sf, PLAIN))
    assert got == fresh and len(got) > 0


# ---------------------------------------------------------------------------
# 4. bench.py --aba argv guard
# ---------------------------------------------------------------------------
def test_bench_aba_missing_commit_is_usage_error():
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--aba"],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )
    assert p.returncode == 2
    assert "usage" in p.stderr.lower()
