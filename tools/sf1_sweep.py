"""One-off sf1 full sweep (VERDICT r4 #5): every registered query vs its
DuckDB oracle at ~sf1 (10× the bench scale, ~6M lineitem rows).

No sf1 parquet ships in /root/testdata, so this stages one: every table
replicated ×N with replica-self-contained key shifts (each replica keeps
the base data's join selectivity, duplicate-cluster density, and per-user
event structure — the same shifted-key recipe as the ×100 probes in
PLANS.md, here applied to ALL tables so dimension cardinality grows the
way real TPC-H sf1 grows, not just the facts):

- customer/supplier/part: primary keys shifted per replica;
- orders: o_orderkey AND o_custkey shifted (points at its replica's
  customers); lineitem: l_orderkey/l_partkey/l_suppkey likewise;
- region/nation: copied (fixed-cardinality at every TPC-H sf);
- events: event_id/user_id shifted, timestamps kept (10× concurrent users,
  identical window layout);
- documents/embeddings: the interleaved-salt / perturbed-vector recipe
  from tools/scale_probe.py (cluster density preserved, zero cross-replica
  shingle overlap).

Both engines read the SAME staged parquet, so every full value-hash oracle
stays a valid twin at this scale.  The point is cliff-hunting: the DECIMAL
sum overflow and the ANSI element_at bug were both only reachable by scale
probes, never by the sf0.001/sf0.01 gates.

Usage: python tools/sf1_sweep.py [N]  (default N=10 ≈ sf1)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from olap_sus_spark.catalog import TABLES, load_table  # noqa: E402
from olap_sus_spark.session import get_spark  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (table, primary-key shifts, foreign-key shifts keyed by source table)
_KEYED = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "events_user"},
}


def stage(spark, n: int, out_dir: str) -> None:
    from tools.scale_probe import replicate  # documents + embeddings recipe

    shifts = {
        "customer": load_table(spark, BASE_SF, "customer").agg(F.max("c_custkey")).first()[0] + 1,
        "supplier": load_table(spark, BASE_SF, "supplier").agg(F.max("s_suppkey")).first()[0] + 1,
        "part": load_table(spark, BASE_SF, "part").agg(F.max("p_partkey")).first()[0] + 1,
        "orders": load_table(spark, BASE_SF, "orders").agg(F.max("o_orderkey")).first()[0] + 1,
        "events": load_table(spark, BASE_SF, "events").agg(F.max("event_id")).first()[0] + 1,
        "events_user": load_table(spark, BASE_SF, "events").agg(F.max("user_id")).first()[0] + 1,
    }
    rep = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue  # handled by replicate() below
        df = load_table(spark, BASE_SF, t)
        if t in _KEYED:
            out = df.select("*", rep)
            for col, src in _KEYED[t].items():
                out = out.withColumn(col, F.col(col) + F.col("rep") * F.lit(shifts[src]))
            out = out.drop("rep")
        else:  # region, nation: fixed cardinality at every sf
            out = df
        parts = 64 if t == "lineitem" else 32
        out.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    replicate(spark, n, out_dir)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_sf1_x{n}")
    # The probe harness collects full result sets for hashing; pair-shaped
    # outputs legitimately reach GBs at sf1 (the driver gate never collects
    # at this scale — this knob is probe-only, not an engine setting).
    os.environ.setdefault("SPARK_GRAFT_MAX_RESULT", "8g")
    spark = get_spark("sf1-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(out_dir, "lineitem.parquet")):
        t0 = time.perf_counter()
        stage(spark, n, out_dir)
        print(f"staged x{n} of {BASE_SF} in {time.perf_counter() - t0:.1f}s -> {out_dir}", flush=True)

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as contract

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out_dir}/{t}.parquet/*.parquet')"
        )
    qs, oracles = contract.queries(), contract.oracle_sql()

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        nv = lambda v: "∅" if v is None else (repr(v) if isinstance(v, float) else str(v))
        return sorted(tuple(nv(r[i]) for i in order) for r in rows)

    # Pair-shaped outputs legitimately reach BILLIONS of rows at this scale
    # (fuzzy_part_pairs: 1.1B — block sizes grow 10x, pairs 100x); collecting
    # them to the driver is exactly the anti-pattern the engine avoids, so
    # past this threshold the probe compares ENGINE-SIDE: row count plus an
    # order-insensitive checksum (sum of two 60-bit md5 slices over the
    # canonical row string), computed distributed in Spark and inside DuckDB.
    # Exact — integer sums, no float reassociation — but only defined for
    # float-free schemas (int/string/date/bool canonicalize identically in
    # both engines); a big FLOAT result would fall back to collect and fail
    # loudly rather than hash doubles through repr drift.
    BIG_ROWS = 5_000_000
    _HASHABLE = {"tinyint", "smallint", "int", "bigint", "string", "date", "boolean"}

    def spark_checksum(sdf):
        from pyspark.sql import functions as F

        cols = sorted(sdf.columns)
        canon = F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols]
            )
        )
        h1 = F.conv(F.substring(canon, 1, 15), 16, 10).cast("decimal(38,0)")
        h2 = F.conv(F.substring(canon, 16, 15), 16, 10).cast("decimal(38,0)")
        r = (
            sdf.select(h1.alias("h1"), h2.alias("h2"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("h1").alias("s1"), F.sum("h2").alias("s2"))
            .first()
        )
        return (int(r.n), int(r.s1), int(r.s2))

    def duck_checksum(sql, dcols):
        cols = sorted(dcols)
        canon = "concat_ws(chr(31), " + ", ".join(
            f"coalesce(CAST(\"{c}\" AS VARCHAR), '∅')" for c in cols
        ) + ")"
        r = con.execute(
            f"SELECT COUNT(*), SUM(('0x' || substr(h, 1, 15))::BIGINT),"
            f" SUM(('0x' || substr(h, 16, 15))::BIGINT)"
            f" FROM (SELECT md5({canon}) AS h FROM ({sql}))"
        ).fetchone()
        return (int(r[0]), int(r[1]), int(r[2]))

    # Resume support: SPARK_GRAFT_SWEEP_ONLY=a,b,c restricts to those names
    # (used to finish a sweep whose harness process died mid-run — the staged
    # parquet is reused, so the remaining queries see identical inputs).
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    names = sorted(set(only.split(",")) & set(qs)) if only else sorted(qs)

    # Scale-exclusion policy (documented, printed, overridable with
    # SPARK_GRAFT_SWEEP_SKIP=""): at N>=50 (~sf5+) two entries are
    # DELIBERATE from-scratch baselines whose cost is the point being
    # benchmarked, not a serving path —
    # - fuzzy_part_pairs: quadratic within join-key blocks (1.1B pairs at
    #   sf1 already); its linear twin fuzzy_part_pairs_star IS swept;
    # - streaming_fact_ingest_loop: stages a full micro-batch ingest loop
    #   per call (171 s at sf1); its per-level components are swept
    #   individually and the loop itself is covered by the steady-state
    #   probe (tools/steady_state_probe.py) at 10x.
    # - dedup_semantic_clusters(+_indexed): the ORACLE's k-means assignment
    #   replay is an n×k crossjoin (625M 64-dim cosines at x100 — the
    #   single-node harness bottleneck, not the engine; same class as the
    #   pre-rewrite gram oracle, but irreducible: assignment IS n×k).  The
    #   engine side is probed at x100 with invariant checks + a pinned
    #   checksum by tools/semantic_scale_probe.py (at commit 4c87b2d).
    # - dedup_embedding_pairs: label-blocked ALL-PAIRS baseline; the staged
    #   corpus keeps labels, so blocks grow ×N and pairs ×N² (~2B 64-dim
    #   cosines at x100 — ground >45 min in Spark and unbounded single-node).
    #   Its linear twin dedup_embedding_lsh(+_indexed) IS swept (MATCH at
    #   x100, r10).
    # - dedup_jaccard_pairs: fixed-64-block exact-Jaccard baseline, same ×N²
    #   within-block growth; its linear twin dedup_minhash_lsh IS swept.
    # - mutual_nn_pairs_bucketed(+_indexed): the ORACLE's SRP bucket-replay
    #   scores every collision pair single-node (~234M 64-dim cosines at
    #   x100, hours of DuckDB lambdas vs seconds engine-side).  Full-oracle
    #   ceiling is x10 (run separately, MATCH); the x100 evidence is the
    #   engine-side candidate-volume probe (tools/mutual_nn_probe.py at
    #   commit 4c87b2d) + the recall-vs-exact unit gate.
    # - khop_reachable_parts: the ORACLE's 3-hop frontier×adjacency
    #   expansion spills >75 GB of DuckDB temp at x100 (observed twice, r10
    #   s3) — single-node BFS materialization, not an engine limit (the
    #   engine side is three distributed hash joins).  Full-oracle ceiling
    #   is sf1 (r9 uniform sweep MATCH).
    skip_env = os.environ.get("SPARK_GRAFT_SWEEP_SKIP")
    if skip_env is not None:
        skips = set(s for s in skip_env.split(",") if s)
    elif n >= 50:
        skips = {
            "fuzzy_part_pairs",
            "streaming_fact_ingest_loop",
            "dedup_semantic_clusters",
            "dedup_semantic_clusters_indexed",
            "dedup_embedding_pairs",
            "dedup_jaccard_pairs",
            "mutual_nn_pairs_bucketed",
            "mutual_nn_pairs_bucketed_indexed",
            "khop_reachable_parts",
        }
    else:
        skips = set()
    for s in sorted(skips & set(names)):
        print(f"{s} SKIPPED (scale policy — see tools/sf1_sweep.py)", flush=True)
    names = [x for x in names if x not in skips]

    # Served/ingested twins deliberately SHARE their from-scratch twin's
    # oracle SQL (hash equality proves the maintained path); at sf10 each
    # scrub-family oracle is a full single-node corpus re-scrub, so run
    # each distinct SQL text once and reuse the result across twins.
    # Only multiply-used SQL is cached, and entries are dropped after the
    # last consumer (a scrub result set is ~GBs at sf10).
    from collections import Counter

    sql_uses = Counter(oracles[x] for x in names if x in oracles)
    duck_rows_cache: dict[str, tuple[list, list]] = {}
    duck_chk_cache: dict[str, tuple[int, int, int]] = {}

    def _done_with(sql: str) -> None:
        sql_uses[sql] -= 1
        if sql_uses[sql] <= 0:
            duck_rows_cache.pop(sql, None)
            duck_chk_cache.pop(sql, None)

    fails, slow = [], []
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, out_dir)
            n_out = sdf.count()
            if n_out > BIG_ROWS and all(
                t in _HASHABLE for _, t in sdf.dtypes
            ) and name in oracles:
                schk = spark_checksum(sdf)
                dt = time.perf_counter() - t0
                if dt > 60:
                    slow.append((name, dt))
                rel = con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 0")
                dcols = [d[0] for d in rel.description]
                if sorted(sdf.columns) != sorted(dcols):
                    print(f"{name} MISMATCH (schema) [checksum path]", flush=True)
                    fails.append(name)
                    continue
                if oracles[name] in duck_chk_cache:
                    dchk = duck_chk_cache[oracles[name]]
                else:
                    dchk = duck_checksum(oracles[name], dcols)
                    if sql_uses[oracles[name]] > 1:
                        duck_chk_cache[oracles[name]] = dchk
                _done_with(oracles[name])
                ok = schk == dchk
                print(
                    f"{name} {'MATCH' if ok else 'MISMATCH'} [{dt:.1f}s, {n_out} rows,"
                    f" engine-side checksum]",
                    flush=True,
                )
                if not ok:
                    print(f"  spark {schk} duck {dchk}", flush=True)
                    fails.append(name)
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"{name} ERROR {type(exc).__name__}: {str(exc)[:200]}", flush=True)
            fails.append(name)
            continue
        dt = time.perf_counter() - t0
        if dt > 60:
            slow.append((name, dt))
        if name not in oracles:
            print(f"{name} rows-only {len(srows)} [{dt:.1f}s]", flush=True)
            continue
        try:
            if oracles[name] in duck_rows_cache:
                dcols, drows = duck_rows_cache[oracles[name]]
            else:
                rel = con.execute(oracles[name])
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
                if sql_uses[oracles[name]] > 1:
                    duck_rows_cache[oracles[name]] = (dcols, drows)
            _done_with(oracles[name])
        except Exception as exc:
            print(f"{name} ORACLE-ERROR {type(exc).__name__}: {str(exc)[:200]}", flush=True)
            fails.append(name)
            continue
        ok = sorted(sdf.columns) == sorted(dcols) and norm(srows, sdf.columns) == norm(drows, dcols)
        print(f"{name} {'MATCH' if ok else 'MISMATCH'} [{dt:.1f}s, {len(srows)} rows]", flush=True)
        if not ok:
            fails.append(name)
    print("SLOW (>60s):", slow, flush=True)
    print("RESULT:", fails or "ALL MATCH", flush=True)


if __name__ == "__main__":
    main()
