"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query and total wall-clock seconds.

Each query is executed to completion (collect) after a small warm-up query
so JVM/codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from olap_sus_spark.session import get_spark  # noqa: E402

# Headline set: the flagship + the six named OLAP operations + the heaviest
# data-pipeline operators (extended as coverage grows).
HEADLINE = [
    "pricing_summary",
    "tpch_q3_shipping_priority",  # classic 3-way decision-support join
    "tpch_q5_local_supplier_volume",  # the 6-way join-order classic
    "tpch_q10_returned_items",
    "tpch_q4_order_priority",  # correlated EXISTS as a semi-join
    "tpch_q21_waiting_shipments",  # EXISTS + NOT-EXISTS chain as one per-order aggregate
    "tpch_q7_cross_border_volume",  # double nation role-play + year-grain volume
    "tpch_q9_product_profit",  # 5-way profit arithmetic by nation x year
    "tpch_q18_large_orders",  # HAVING-subquery as the driving aggregate
    "tpch_q6_forecast_revenue",  # pure scan-predicate aggregate (pushdown floor)
    "tpch_q17_small_quantity_revenue",  # correlated per-part AVG threshold
    "tpch_q20_potential_promotions",  # doubly-nested IN + two-key correlated agg
    "money_cost_rollup",  # DECIMAL(15,2) factInternacoes money-measure twin
    "rollup_family_schooling",
    "rollup_state_ageband",
    "slice_dice_city_years",
    "pivot_year_by_region",
    "drill_across_growth",
    "topk_parts_per_nation",
    "bridge_group_signature",
    "explode_word_counts",
    # data-pipeline heavyweights
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "dedup_cross_doc_ngrams",  # Lee-et-al-style cross-doc repeated 5-gram stats
    "dedup_cross_doc_ngrams_served",  # same stats, frequency side from the maintained partials
    "dedup_duplication_profile",  # corpus-level duplication headline table
    "dedup_cross_doc_scrub",  # exact-substring scrub output (from-scratch frequency pass)
    "dedup_cross_doc_scrub_served",  # same scrub served from the maintained gram-freq partials
    "dedup_cross_doc_scrub_ingested",  # scrub OUTPUT as a maintained table (pure partition read)
    "dedup_scrub_summary_by_source",  # per-source duplication accounting off the maintained scrub
    "decontaminate_exact_substring",  # verbatim 5-gram benchmark-leakage hunt (size-guarded broadcast)
    "decontaminate_exact_substring_served",  # eval grams from the maintained eval97 index
    "source_gram_overlap_matrix",  # pairwise source-to-source 5-gram Jaccard (curator matrix)
    "dedup_near_clusters",  # linear-output near-dup shape (the 100 TB path)
    "dedup_near_clusters_star",  # star-reduced edges: linear under mega-clusters
    "dedup_near_clusters_star_served",  # same map served from the maintained cluster index
    "dedup_keep_best",  # kept-corpus output: best-quality doc per cluster
    "dedup_cluster_members",  # membership probe over the maintained cluster map
    "dedup_embedding_lsh",  # LSH-blocked embedding near-dup (ids-only collision join)
    "dedup_embedding_lsh_indexed",  # same, served from the maintained dedup-width SRP index
    "dedup_semantic_clusters",  # SemDeDup from-scratch baseline (Lloyd + within-cell pairs)
    "dedup_semantic_clusters_indexed",  # served from the maintained verdict table (pure scan)
    "tfidf_top_terms",
    "bm25_search_topk",  # full-text BM25 from the raw corpus
    "bm25_search_indexed",  # same, served from the maintained inverted index
    "phrase_search_indexed",  # exact-phrase probe over the positional postings
    "ann_cosine_topk",
    "ann_ivf_probe_topk",  # serving path over a maintained IVF index
    "ann_lsh_probe_topk",  # serving path over a maintained SRP bucket index
    "ann_lsh_auto_topk",  # same, with corpus-sized signature width (auto_bits)
    "ann_lsh_multiprobe_topk",  # Hamming-1 bucket neighborhood: recall up, index unchanged
    "ann_lsh_filtered_topk",  # pre-filtered ANN: metadata semi-join on the candidate stream
    "ann_mmr_diverse_topk",  # MMR diversity rerank over the candidate pool
    "ann_quantized_rerank_topk",  # int8 prescore over the 4x-smaller table + exact rerank
    "mutual_nn_pairs",  # reciprocal rank-1 pairs (duplicate-account signal)
    "mutual_nn_pairs_bucketed",  # corpus-scale variant (SRP candidates)
    "mutual_nn_pairs_bucketed_indexed",  # served from the maintained buckets
    "kmeans_fixed_point",  # engine-portable Lloyd's (fixed-point means)
    "text_quality_features",
    "ngram_lm_fluency",  # bigram-LM quality scoring (CCNet-style filtering)
    "quality_classifier_scores",  # hashed linear classifier inference (zero-shuffle fold)
    "quality_calibrated_cut",  # per-source histogram-quantile calibration (from scratch)
    "quality_calibrated_cut_served",  # cutoffs from the maintained per-source histogram
    "bpe_learn_merges",  # tokenizer training: BPE merges off the word-freq table
    "decontaminate_train",  # benchmark-leakage gram-hash join
    # event-time / streaming
    "events_session_window",
    "streaming_tumbling_window",
    "asof_join_purchase_click",
    "interval_join_attribution",
    # skew-rewrite parity
    "salted_aggregate",
    # behavioral / affinity analytics
    "funnel_stage_counts",
    "sessionize_events",
    "basket_part_pairs",
    "rfm_segmentation",
    # data-quality + corpus prep
    "constraint_checks",
    "pareto_abc_parts",
    "document_chunking",
    "corpus_source_mixing",
    "weighted_corpus_sample",  # exactly-N weight-proportional sample (E-S bottom-N)
    "grouped_reservoir_sample",  # exact k-per-source balanced sample (WindowGroupLimit)
    "boilerplate_segment_scrub",  # C4/RefinedWeb repeated-segment filter
    # time-series + reconciliation
    "rolling_active_users",
    "snapshot_diff",
    # maintained incremental aggregate (serves from day-grain partials)
    "incremental_revenue_by_month",
    "zorder_box_revenue",  # 2-D box aggregate off the maintained z-ordered layout
    "zorder_events_box",  # same family on the behavior fact (user x id box)
    "kmv_distinct_orders",  # grouped KMV distinct sketch straight off the facts
    "kmv_distinct_orders_served",  # same sketch served from maintained day partials
    "kmv_trailing_quarter_distinct_served",  # sliding-window re-fold of the same cube
    "kmv_active_users_served",  # DAU/WAU/MAU from the maintained user-sketch table
    "cms_supplier_counts_served",  # CMS frequency grid served from maintained day partials
    "cms_heavy_hitter_suppliers",  # heavy-hitter readout over the same maintained grid
    "hist_quantiles_served",  # percentile readout from the maintained day histogram
    # stateful streaming (applyInPandasWithState end-to-end)
    "streaming_sessionize",
    "streaming_sessionize_bucketed",  # adopted bucketed-dispatch scale shape
    "streaming_funnel_bucketed",
    # graph / co-purchase / interval timelines
    "pagerank_parts",
    "triangle_counts_parts",
    "top_copurchases_per_part",
    "open_orders_timeline",
    "open_orders_time_weighted_avg",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("olap_sus_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import olap_sus_spark.queries  # noqa: F401 — populate registry
    from olap_sus_spark.registry import QUERIES

    names = [n for n in HEADLINE if n in QUERIES]

    # Warm-up: touch every table once, JIT the scan path.
    from olap_sus_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    # Maintained-table builds (amortized, off the serving path — like a
    # real vector store or lakehouse): every table of the registry is
    # built from scratch and timed on its own, so the headline probes
    # measure query-path work only.  The registry's hyperparameters are
    # the registered queries' own, so a pre-built key always matches what
    # the probes load.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from olap_sus_spark import maintenance
    from olap_sus_spark.operators import dedup as _dd
    from olap_sus_spark.queries import incremental as _inc
    from olap_sus_spark.queries import sketches as _qs
    from olap_sus_spark.operators.corpus_view import PLAIN

    # registry name -> BENCH_DETAIL.json index_build keys of its (full
    # build, 1-day refresh, grown-corpus full rebuild); None = not timed
    keys = {
        "srp_lsh": ("srp_lsh", "srp_refresh_1d", "srp_full_rebuild"),
        "srp_lsh_dedup": ("srp_lsh_dedup", None, None),
        "ivf": ("ivf", "ivf_refresh_1d", "ivf_full_rebuild"),
        "semantic_dedup": ("semantic_dedup", None, None),
        "quality_hist": ("quality_hist", None, None),
        "near_dup_clusters": (
            "near_dup_clusters", "cluster_refresh_1d", "cluster_full_rebuild",
        ),
        "inverted": ("inverted", "inverted_refresh_1d", "inverted_full_rebuild"),
        "gramfreq": ("gramfreq", "gramfreq_refresh_1d", "gramfreq_full_rebuild"),
        "gramrollup": (
            "gramrollup", "gramrollup_refresh_1d", "gramrollup_full_rebuild",
        ),
        # gramscrub_refresh_1d can exceed gramscrub_full_rebuild, and that is
        # the exact refresh's price on this increment, not a fault: the
        # appended docs copy base docs verbatim, so their grams flip base-file
        # grams to shared and refresh_gram_scrub re-scrubs every part file
        # (the whole corpus) on top of its flip detection.  At sf0.01
        # (4 cores) it re-read part-00000 + part-day1 in 6.25 s against a
        # 2.88 s rebuild.
        "gramscrub": ("gramscrub", "gramscrub_refresh_1d", "gramscrub_full_rebuild"),
        "daily_revenue": ("daily_revenue_full", "daily_revenue_refresh_1d", None),
        "orderkey_kmv": ("kmv_partials", "kmv_refresh_1d", None),
        "supplier_cms": ("cms_partials", "cms_refresh_1d", None),
        "order_hist": ("hist_partials", "hist_refresh_1d", None),
        "zorder_lineitem": ("zorder_monthly_full", "zorder_refresh_1d", None),
        "user_kmv": ("user_kmv_partials", "user_kmv_refresh_1d", None),
        "zorder_events": ("zorder_events_full", "zorder_events_refresh_1d", None),
    }
    timed = [s for s in maintenance.specs() if s.name in keys]
    index_build: dict[str, float] = {}

    def _time(key: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        index_build[key] = round(time.perf_counter() - t0, 4)

    def _rebuild(key: str, path: str, build) -> None:
        shutil.rmtree(path, ignore_errors=True)
        _time(key, build)

    for spec in timed:
        _rebuild(keys[spec.name][0], spec.path(sf_dir), lambda: spec.build(spark, sf_dir))

    # Incremental maintenance of the per-file tables: the cost a daily
    # ingest actually pays — refresh re-indexes only the appended part file
    # and overwrites its src= partition — vs the full rebuild the same
    # ingest would cost without the manifest machinery.  Staged on a copy
    # of the corpus laid out as a directory dataset (the shape appends grow
    # file-by-file); ~1% appended rows ≈ one ingest day.
    inc_root = tempfile.mkdtemp(prefix="spark_graft_bench_inc_")
    inc_sf = os.path.join(inc_root, "sf")
    for t in ("embeddings", "documents"):
        os.makedirs(os.path.join(inc_sf, f"{t}.parquet"))
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(src):
            for i, f in enumerate(sorted(os.listdir(src))):
                if f.endswith(".parquet"):
                    shutil.copy(
                        os.path.join(src, f),
                        os.path.join(inc_sf, f"{t}.parquet", f"part-{i:05d}.parquet"),
                    )
        else:
            shutil.copy(src, os.path.join(inc_sf, f"{t}.parquet", "part-00000.parquet"))

    def _append_part(table: str, id_col: str, pct_mod: int, id_shift: int) -> None:
        base = load_table(spark, inc_sf, table)
        extra = base.filter(F.col(id_col) % pct_mod == 0).withColumn(
            id_col, F.col(id_col) + id_shift
        )
        staging = os.path.join(inc_root, f"{table}_day")
        extra.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(staging, part),
            os.path.join(inc_sf, f"{table}.parquet", "part-day1.parquet"),
        )
        shutil.rmtree(staging)

    # The cluster map keeps its own line here: on the increment copy it
    # runs over the plain corpus view (monotonic ids — the O(batch) refresh
    # shape), not the augmented view the registered queries serve; the
    # view keys its path, so the rebuild below removes the PLAIN map.
    def _inc_spec(spec):
        if spec.name != "near_dup_clusters":
            return spec
        return dataclasses.replace(
            spec,
            path=lambda sf: _dd.cluster_index_path(sf, PLAIN, 0.5),
            build=lambda s, sf: _dd.load_or_build_cluster_index(
                s, sf, PLAIN, threshold=0.5
            ),
            refresh=lambda s, sf, days: _dd.refresh_cluster_index(
                s, sf, PLAIN, threshold=0.5
            ),
        )

    per_file = [_inc_spec(s) for s in timed if s.unit == "src" and keys[s.name][1]]
    # pre-append builds (setup; untimed — the timed baseline is the grown-
    # corpus full rebuild below, the cost a manifest-less index would pay)
    for spec in per_file:
        spec.build(spark, inc_sf)
    _append_part("embeddings", "vec_id", 100, 100_000_000)
    _append_part("documents", "doc_id", 100, 100_000_000)
    # registry order: the rollup refresh runs after the gramfreq refresh,
    # so it times just the rollup merge, and the scrub refresh just the
    # scrub of the appended + retroactively flipped files
    for spec in per_file:
        _time(keys[spec.name][1], lambda: spec.refresh(spark, inc_sf, []))
    for spec in per_file:
        _rebuild(
            keys[spec.name][2], spec.path(inc_sf), lambda: spec.build(spark, inc_sf)
        )
    shutil.rmtree(inc_root, ignore_errors=True)

    # Month-partitioned summaries: the O(day) refresh a daily ingest pays,
    # against their full builds above.  The user cube refreshes an EVENTS
    # day (different day domain).
    one_day = str(
        _inc.load_or_build_daily_revenue(spark, sf_dir)
        .select("dia").orderBy("dia").first()[0]
    )
    user_day = str(
        _qs.load_or_build_user_kmv(spark, sf_dir)
        .select("dia").orderBy("dia").first()[0]
    )
    for spec in timed:
        if spec.unit == "mes_dt":
            day = user_day if spec.source == "events" else one_day
            _time(keys[spec.name][1], lambda: spec.refresh(spark, sf_dir, [day]))

    # N measured executions per query (default 2), report the fastest
    # (steady state): the first run pays one-time whole-stage-codegen
    # compilation, which on a long-lived cluster amortizes to zero.
    # SPARK_GRAFT_BENCH_RUNS=3 is the controlled-rerun mode for disposing of
    # machine-noise regressions (min-of-3 + per-query spread in PLANS.md).
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to a FILE; stdout gets one compact summary
    # line as the LAST line.  The driver records only the last ~2 KB of
    # stdout — a single long JSON line put the headline total outside that
    # tail every round (BENCH_r01..r06 all have parsed:null).  The compact
    # line keeps the contract shape ("metric"/"value"/"unit"/"queries"/"sf")
    # while always fitting the tail; "queries" carries the slowest five,
    # the complete map lives in BENCH_DETAIL.json next to this script.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "index_build": index_build,
                "sf": sf_val,
            },
            f,
            indent=1,
        )
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    spark.stop()  # stop FIRST so nothing can print after the summary line
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": slowest,
                "index_build_total": round(sum(index_build.values()), 4),
                "detail": "BENCH_DETAIL.json",
            }
        ),
        flush=True,
    )


def run_aba(ref_commit: str, runs: int = 3) -> None:
    """Interleaved A/B/A bench against a worktree of ``ref_commit`` — the
    controlled protocol that adjudicated the r6→r7 'drift' as host noise
    (PLANS.md r8 §4), promoted to a first-class mode (VERDICT r08 #5).

    The same-tree run-to-run spread at sf0.1 (89–111 s across three runs
    of one tree) swamps any per-query ratio under ~1.3×, so sequential
    BENCH_rN vs BENCH_rN-1 comparisons mostly read machine noise.  This
    mode removes the shared drift term: HEAD and the reference tree run
    ALTERNATELY (H R H R H R), each in its own process/JVM with its own
    index dir, and per-key minima are compared — page-cache/JIT/host-load
    warming then biases both sides equally.

    Usage: python bench.py --aba <ref-commit> [runs]
    Emits a per-key ratio table (stdout), full detail in ABA_DETAIL.json.
    """
    import shutil
    import statistics
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    wt = tempfile.mkdtemp(prefix="spark_graft_aba_wt_")
    os.rmdir(wt)  # git worktree add wants to create it
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, ref_commit],
        cwd=repo, check=True, capture_output=True, text=True,
    )
    try:
        sides = {"head": repo, "ref": wt}
        idx = {
            k: tempfile.mkdtemp(prefix=f"spark_graft_aba_idx_{k}_") for k in sides
        }
        details: dict[str, list[dict]] = {k: [] for k in sides}
        for i in range(runs):
            for k, cwd in sides.items():
                env = dict(
                    os.environ,
                    SPARK_GRAFT_BENCH_RUNS="1",
                    SPARK_GRAFT_INDEX_DIR=idx[k],
                )
                print(f"[aba] run {i + 1}/{runs} side={k} ...", flush=True)
                t0 = time.perf_counter()
                subprocess.run(
                    [sys.executable, os.path.join(cwd, "bench.py")],
                    cwd=cwd, env=env, check=True,
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                )
                with open(os.path.join(cwd, "BENCH_DETAIL.json")) as f:
                    details[k].append(json.load(f))
                print(
                    f"[aba] run {i + 1}/{runs} side={k} done in "
                    f"{time.perf_counter() - t0:.1f}s", flush=True,
                )

        def _min_by_key(side: str) -> dict[str, float]:
            out: dict[str, float] = {}
            for d in details[side]:
                for section in ("queries", "index_build"):
                    for key, v in d.get(section, {}).items():
                        out[key] = min(out.get(key, float("inf")), v)
            return out

        head, ref = _min_by_key("head"), _min_by_key("ref")
        common = sorted(set(head) & set(ref))
        table = {
            k: {
                "head_min": head[k],
                "ref_min": ref[k],
                "ratio": round(head[k] / ref[k], 3) if ref[k] > 0 else None,
            }
            for k in common
        }
        ratios = [v["ratio"] for v in table.values() if v["ratio"]]
        summary = {
            "metric": "aba_ratio_head_over_ref",
            "ref_commit": ref_commit,
            "runs": runs,
            "n_keys": len(common),
            "median_ratio": round(statistics.median(ratios), 3) if ratios else None,
            "worst": dict(
                sorted(
                    ((k, v["ratio"]) for k, v in table.items() if v["ratio"]),
                    key=lambda kv: -kv[1],
                )[:5]
            ),
            "head_only_keys": sorted(set(head) - set(ref)),
        }
        with open(os.path.join(repo, "ABA_DETAIL.json"), "w") as f:
            json.dump({"summary": summary, "table": table}, f, indent=1)
        width = max((len(k) for k in common), default=10)
        for k in sorted(common, key=lambda k: -(table[k]["ratio"] or 0)):
            v = table[k]
            print(
                f"{k:<{width}}  head={v['head_min']:>8.3f}  "
                f"ref={v['ref_min']:>8.3f}  ratio={v['ratio']}"
            )
        print(json.dumps(summary), flush=True)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=repo, check=False, capture_output=True,
        )
        for d in idx.values():
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--aba":
        if len(sys.argv) < 3:
            print("usage: python bench.py --aba <ref-commit> [rounds]",
                  file=sys.stderr)
            sys.exit(2)
        run_aba(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    else:
        main()
