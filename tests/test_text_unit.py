"""Unit tests for text/dedup primitives: simhash determinism + locality,
BPE pre-tokenization."""

from __future__ import annotations

from pyspark.sql import functions as F

from olap_sus_spark.operators import dedup as dd
from olap_sus_spark.operators import text as tx


def _hashes(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [r.h for r in df.select(dd.simhash60(F.col("text")).alias("h")).collect()]


def test_simhash_deterministic(spark):
    a = _hashes(spark, ["the quick brown fox jumps over the lazy dog"] * 3)
    b = _hashes(spark, ["the quick brown fox jumps over the lazy dog"])
    assert len(set(a)) == 1 and a[0] == b[0]


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy", 1)
    far = "completely different content about spark catalyst optimizer internals"
    h_base, h_near, h_far = _hashes(spark, [base, near, far])

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 60) - 1)).count("1")

    assert hamming(h_base, h_near) < hamming(h_base, h_far)
    assert hamming(h_base, h_near) <= 16  # near-dup within typical threshold


def test_bpe_pretokens(spark):
    df = spark.createDataFrame([("Hello world, it's 2024!",)], "text string")
    toks = df.select(tx.bpe_pretokens(F.col("text")).alias("t")).first().t
    assert toks == ["Hello", " world", ",", " it", "'", "s", " 2024", "!"]
    n = df.select(tx.bpe_pretoken_count(F.col("text")).alias("n")).first().n
    assert n == len(toks)


def test_approx_aggregates_bounded_error(spark):
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.queries.grouping_sets import approx_aggregates
    from tests.conftest import SF_DIR

    row = approx_aggregates(spark, SF_DIR).first()
    orders = load_table(spark, SF_DIR, "orders")
    exact = orders.select("o_custkey").distinct().count()
    # exact twins really are exact
    assert row.clientes_exatos == exact
    fr = orders.selectExpr(
        "percentile(o_totalprice, 0.5) AS p50", "percentile(o_totalprice, 0.9) AS p90"
    ).first()
    # discrete percentile within interpolation distance of the continuous one
    assert abs(row.p50_exato - fr.p50) / fr.p50 < 0.05
    assert abs(row.p90_exato - fr.p90) / fr.p90 < 0.05
    # sketches landed inside their advertised bounds
    assert row.hll_within_bound and row.p50_within_bound and row.p90_within_bound


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=4/16 centroids must keep reasonable recall@5 vs the
    exact brute-force ranking (quality gate for the approximate path)."""
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.orderBy("vec_id").limit(10).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = sim.cosine_topk(emb, queries, k=5)
    approx = sim.ivf_topk(emb, queries, num_centroids=16, nprobe=4, k=5)
    exact_sets = {
        r.query_id: set()
        for r in exact.select("query_id").distinct().collect()
    }
    for r in exact.collect():
        exact_sets[r.query_id].add(r.cand_id)
    hit = total = 0
    approx_sets: dict = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.cand_id)
    for q, want in exact_sets.items():
        got = approx_sets.get(q, set())
        hit += len(want & got)
        total += len(want)
    assert total > 0
    assert hit / total >= 0.5, f"recall@5 too low: {hit}/{total}"


def test_quantized_rerank_recall_vs_brute_force(spark):
    """int8-prescore + exact rerank must essentially reproduce the exact
    top-k: with pool=4k the quantization error (max ~scale/2 per element)
    has to push a true neighbor out of a 20-deep shortlist to cost recall.
    Also pins the invariants: prescore pool bound respected, exact cosine
    on output rows equals the brute-force value bit-for-bit."""
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = sim.cosine_topk(emb, queries, k=5)
    approx = sim.quantized_rerank_topk(emb, n_query=10, k=5, pool=20)
    exact_rows = {(r.query_id, r.cand_id): r.cosine for r in exact.collect()}
    approx_rows = {(r.query_id, r.cand_id): r.cosine for r in approx.collect()}
    hit = sum(1 for key in approx_rows if key in exact_rows)
    assert len(exact_rows) == 50 and len(approx_rows) == 50
    assert hit / len(exact_rows) >= 0.9, f"recall@5 too low: {hit}/50"
    # the float rerank is EXACT — shared (query, cand) rows carry the
    # identical brute-force cosine double
    for key, cos in approx_rows.items():
        if key in exact_rows:
            assert cos == exact_rows[key]


def test_dedup_clusters_connected_components(spark):
    from olap_sus_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 12)], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in dd.dedup_clusters(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8, 9: 8, 10: 8, 11: 11}


def test_lsh_recall_vs_brute_force(spark):
    """SRP-LSH (12 tables x 4 bits) must keep reasonable recall@5 vs the
    exact brute-force ranking (quality gate for the bucketed path)."""
    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = sim.cosine_topk(emb, queries, k=5)
    approx = sim.lsh_topk(emb, dim=64, n_query=10, n_tables=12, n_bits=4, k=5)
    exact_sets: dict = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.cand_id)
    approx_sets: dict = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.cand_id)
    hit = total = 0
    for q, want in exact_sets.items():
        got = approx_sets.get(q, set())
        hit += len(want & got)
        total += len(want)
    assert total > 0
    assert hit / total >= 0.5, f"recall@5 too low: {hit}/{total}"


def test_multiprobe_lsh_recall_dominates_single_probe(spark, tmp_path, monkeypatch):
    """Multi-probe (home bucket + every Hamming-1 neighbor) must recall at
    least everything single-probe finds — its candidate set is a strict
    superset — and lift recall@5 vs brute force, at unchanged index size."""
    import olap_sus_spark.queries  # noqa: F401
    from olap_sus_spark.registry import QUERIES
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    def pairs(name):
        return {(r.query_id, r.cand_id) for r in QUERIES[name](spark, SF_DIR).collect()}

    exact = pairs("ann_cosine_topk")
    single = pairs("ann_lsh_probe_topk")
    multi = pairs("ann_lsh_multiprobe_topk")
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single, (r_single, r_multi)
    assert r_multi >= 0.6, r_multi


def test_probe_queries_match_inline_variants(spark, tmp_path, monkeypatch):
    """The maintained-index probe path (build once → persist → probe) must
    return exactly the rows of the build-inline variants, and the second
    call must reuse the persisted index (no rebuild)."""
    import os

    from olap_sus_spark.queries import vector as vq
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    for inline, probe in [
        ("ann_lsh_topk", "ann_lsh_probe_topk"),
        ("ann_ivf_topk", "ann_ivf_probe_topk"),
    ]:
        from olap_sus_spark.registry import QUERIES

        want = sorted(map(tuple, QUERIES[inline](spark, SF_DIR).collect()))
        got = sorted(map(tuple, QUERIES[probe](spark, SF_DIR).collect()))
        assert got == want, probe

    # Index dirs were materialized under the overridden root and are reused.
    built = os.listdir(tmp_path)
    assert any(d.startswith("srp_") for d in built), built
    assert any(d.startswith("ivf_") for d in built), built
    mtimes = {d: os.path.getmtime(os.path.join(tmp_path, d)) for d in built}
    from olap_sus_spark.registry import QUERIES

    QUERIES["ann_lsh_probe_topk"](spark, SF_DIR).collect()
    assert {d: os.path.getmtime(os.path.join(tmp_path, d)) for d in built} == mtimes


def test_star_edges_linear_in_cluster_size(spark):
    """A cluster of m near-identical docs yields exactly m-1 star edges
    (all through the hub), not m(m-1)/2 pairs — the mega-cluster guarantee."""
    m = 12
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(m)],
        "doc_id bigint, text string",
    )
    edges = dd.star_edges(docs, threshold=0.5).collect()
    assert len(edges) == m - 1
    assert all(e.id_a == 0 for e in edges)  # hub = smallest id
    assert sorted(e.id_b for e in edges) == list(range(1, m))
    # and the pair emitter on the same corpus is quadratic:
    pairs = dd.jaccard_pairs(docs, threshold=0.5).collect()
    assert len(pairs) == m * (m - 1) // 2


def test_boilerplate_scrub_semantics(spark):
    """Exact-duplicate documents are scrubbed to empty (every segment is
    corpus-repeated); unique documents come back verbatim; near-duplicates
    keep exactly the segment their extra token landed in."""
    from olap_sus_spark.queries.text_pipeline import boilerplate_segment_scrub
    from olap_sus_spark.operators.text import tokens
    from tests.conftest import SF_DIR

    out = {
        r["doc_id"]: r
        for r in boilerplate_segment_scrub(spark, SF_DIR).collect()
    }
    # exact-dup pair: base doc_id % 7 == 0 and its +1_000_000 copy
    base7 = next(i for i in sorted(out) if i % 7 == 0 and i + 1_000_000 in out)
    for i in (base7, base7 + 1_000_000):
        assert out[i]["texto_limpo"] == ""
        assert out[i]["n_boiler"] == out[i]["n_segs"]
    # a doc in NO duplicate class survives verbatim (token-normalized)
    from olap_sus_spark.catalog import load_table
    clean_id = next(
        i for i in sorted(out) if i < 1_000_000 and i % 7 != 0 and i % 11 != 0
    )
    src = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") == clean_id)
        .select(F.concat_ws(" ", tokens("text")).alias("t"))
        .first()["t"]
    )
    assert out[clean_id]["texto_limpo"] == src
    assert out[clean_id]["n_boiler"] == 0


def test_corpus_token_budget_matches_naive_global_window(spark):
    """The two-phase distributed prefix sum (range partition + broadcast
    partition offsets) equals the naive single-partition global window —
    and the budget cut is exact (next-ranked doc would overflow it)."""
    from pyspark.sql.window import Window

    from olap_sus_spark.catalog import load_table
    from olap_sus_spark.queries.text_pipeline import (
        _BUDGET_TOKENS,
        corpus_token_budget,
    )
    from tests.conftest import SF_DIR

    got = {r["doc_id"]: r for r in corpus_token_budget(spark, SF_DIR).collect()}

    toks = tx.tokens("text")
    scored = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("score"),
        F.size(toks).alias("n_tokens"),
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    kept = [r for r in naive.collect() if r["cum_tokens"] <= _BUDGET_TOKENS]
    assert {r["doc_id"] for r in kept} == set(got)
    for r in kept:
        assert got[r["doc_id"]]["cum_tokens"] == r["cum_tokens"]
    # the cut is tight: at least one more doc exists and would overflow
    over = naive.filter(F.col("cum_tokens") > _BUDGET_TOKENS).count()
    assert over > 0


def test_cross_doc_ngrams_oracle_join_free_rewrite_equivalent():
    """The r10 join-free oracle (n_shared = n_grams - n_unique; a gram with
    corpus-wide count 1 belongs to exactly one doc) must return the exact
    result set of the original join-back formulation — DuckDB vs DuckDB,
    no Spark involved, so this pins the SQL rewrite itself."""
    import duckdb

    from olap_sus_spark.queries.text_pipeline import (
        _AUG_SQL,
        _CROSS_NGRAM_N,
        _TOKENS_SQL,
        _cross_doc_ngrams_oracle,
        _md5_int_sql,
        _ngrams_expr_sql,
    )
    from tests.conftest import SF_DIR

    toks = _TOKENS_SQL.format(t="text")
    grams = _ngrams_expr_sql("t", _CROSS_NGRAM_N)
    old = f"""
WITH {_AUG_SQL},
tk AS (SELECT doc_id, {toks} AS t FROM aug),
dg AS (
    SELECT doc_id,
        unnest(list_distinct(list_transform({grams}, x -> {_md5_int_sql('x')})))
            AS gram
    FROM tk
),
gc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs FROM dg GROUP BY gram)
SELECT dg.doc_id AS doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(CASE WHEN gc.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
    CAST(SUM(CASE WHEN gc.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS shared_frac
FROM dg JOIN gc USING (gram)
GROUP BY dg.doc_id
"""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )

    def run(sql):
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        nv = lambda v: repr(v) if isinstance(v, float) else str(v)
        return sorted(cols), sorted(
            tuple(nv(r[i]) for i in order) for r in rows
        )

    co, ro = run(old)
    cn, rn = run(_cross_doc_ngrams_oracle())
    assert co == cn
    assert ro == rn
    assert len(ro) > 0


def test_cross_doc_scrub_degenerate_long_doc(spark, tmp_path, monkeypatch):
    """Exact-substring scrub semantics pinned on a hand-built corpus,
    including a 50k-token all-identical document (the per-doc reassembly
    collect_list's worst group): every window of the spam doc is shared
    with doc 2's middle window, so it scrubs to ''; doc 2 loses exactly
    the 5 positions of the shared window; the unique doc survives
    verbatim.  Ids chosen %7 != 0 and %11 != 0 so the synthetic
    augmentation adds no copies."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    from olap_sus_spark.queries.text_pipeline import (
        dedup_cross_doc_scrub,
        dedup_cross_doc_scrub_served,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    rows = [
        (1, " ".join(["spam"] * 50_000), "en", "web", 5),
        (2, "alpha spam spam spam spam spam beta", "en", "web", 7),
        (3, "unique words only here now", "en", "web", 5),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    for fn in (dedup_cross_doc_scrub, dedup_cross_doc_scrub_served):
        out = {r["doc_id"]: r for r in fn(spark, sf).collect()}
        assert out[1]["scrubbed_text"] == "" and out[1]["n_removed"] == 50_000
        assert out[2]["scrubbed_text"] == "alpha beta" and out[2]["n_removed"] == 5
        assert out[3]["scrubbed_text"] == "unique words only here now"
        assert out[3]["n_removed"] == 0


def test_quality_calibrated_cut_per_source_target(spark):
    """Per source: kept count must be >= ceil(n/2) (the histogram target)
    and the overshoot must be exactly the cutoff-bin tie mass — i.e.
    dropping the cutoff bin itself would land BELOW the target."""
    from pyspark.sql import functions as F

    import olap_sus_spark.queries  # noqa: F401 — populate registry
    from olap_sus_spark.registry import QUERIES

    out = QUERIES["quality_calibrated_cut"](spark, "/root/testdata/sf0.001")
    per_src = (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_kept").alias("kept"),
            F.sum(
                F.when(F.col("q_bin") == F.col("cutoff_bin"), 1).otherwise(0)
            ).alias("at_cut"),
        )
        .collect()
    )
    assert per_src
    for r in per_src:
        target = (r["n"] + 1) // 2
        assert r["kept"] >= target, r
        assert r["kept"] - r["at_cut"] < target, r  # minimal overshoot
