"""Steady-state maintenance probe: N SEQUENTIAL ingests over every
maintained table of the registry (olap_sus_spark/maintenance.specs()) at a
staged ×R corpus — the claim an operator depends on and the one
single-shot refresh probes never test.

The ×R corpus is staged by tools/sf1_sweep.stage (every table a directory
dataset, keys shifted per replica).  Each chosen spec is built cold, then
served again (build and serve seconds).  Per ingest the probe appends one
part file to each spec's source table — lineitem together with the orders
its rows belong to, all fact rows on one new day — and refreshes every
spec with its source's day, recording

- per-spec refresh seconds                -> must stay FLAT vs ingest #
  (first-5 median vs last-5 median),
- files, bytes and manifest bytes under   -> growth must be bounded per
  each spec's path                           ingest,
- staging/tomb debris in the index root   -> must be zero.

Every 10th ingest runs operators/compaction.compact_maintained_indexes
over every per-file table of the registry (the compaction cadence).  After ingest #N
the served state of every spec is digested against a FRESH REBUILD in a
clean index root; an epoch-pinned spec (``Spec.rebuild_exact=False``, the
semantic index) against a from-scratch dedup under its maintained
codebook instead.

The document ingest mix: most rows are fresh text (new doc_ids above the
corpus), ~1/4 duplicate EXISTING corpus text verbatim, so every ingest
carries unique->shared gram flips (the retroactive re-scrub path runs
steadily, not only in a one-shot flip probe).

Usage: python tools/steady_state_probe.py [N] [R] [spec ...]
       (default 30 10, every spec; the base corpus is $SPARK_GRAFT_SF_DIR,
       default sf0.1).  Writes STEADY_DETAIL_x<R>.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from olap_sus_spark.catalog import load_table  # noqa: E402
from olap_sus_spark.maintenance import specs  # noqa: E402
from olap_sus_spark.session import get_spark  # noqa: E402
from tools.race_probe import _debris, _digest  # noqa: E402
from tools.sf1_sweep import BASE_SF, stage  # noqa: E402

COMPACT_EVERY = 10


def dir_stats(path: str) -> dict:
    files = n_bytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            try:
                n_bytes += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    man_b = 0
    for m in ("_corpus_manifest.json", "_corpus_stamp.txt"):
        p = os.path.join(path, m)
        if os.path.exists(p):
            man_b += os.path.getsize(p)
    return {"files": files, "mb": round(n_bytes / 1e6, 2), "manifest_b": man_b}


def stage_single_part(df, dest: str) -> None:
    staging = dest + ".__stage__"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), dest)
    shutil.rmtree(staging)


def shifts(spark, r: int) -> dict:
    """Id offsets above every staged replica, and the last fact days."""
    def top(table: str, col):
        return load_table(spark, BASE_SF, table).agg(F.max(col)).first()[0]

    return {
        "doc": top("documents", "doc_id") + 1,
        "vec": top("embeddings", "vec_id") + 1,
        "order": (top("orders", "o_orderkey") + 1) * r,
        "event": (top("events", "event_id") + 1) * r,
        "ship": top("lineitem", "l_shipdate"),
        "ts_day": top("events", F.to_date("ts")),
    }


def ingest(spark, base: str, r: int, i: int, c: dict, sources: set[str]) -> dict[str, str]:
    """Append ingest #i (1-based) to each source table; returns the new
    fact day per fact source."""
    def append(table: str, df) -> None:
        stage_single_part(df, os.path.join(base, f"{table}.parquet", f"ingest-{i:03d}.parquet"))

    if "documents" in sources:
        docs0 = load_table(spark, BASE_SF, "documents")
        # ~1% fresh text (salted per ingest -> genuinely new grams) + ~0.25%
        # verbatim copies of replica-0 text: the staged corpus interleaves
        # the rep-0 salt (tools/scale_probe.replicate), so the same
        # transform makes these rows' grams exist verbatim there
        fresh = docs0.filter(F.col("doc_id") % 97 == i % 97).withColumn(
            "text",
            F.expr(f"array_join(transform(split(text, ' '), w -> concat('in{i}', w)), ' ')"),
        )
        dup = docs0.filter(F.col("doc_id") % 397 == i % 397).withColumn(
            "text",
            F.expr(
                "array_join(flatten(transform(split(text, ' '),"
                " w -> array(w, concat('qq0', w)))), ' ')"
            ),
        )
        batch = (
            fresh.unionAll(dup)
            .withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
            .withColumn("doc_id", F.lit((r + i) * c["doc"]).cast("bigint") + F.col("rn"))
            .select(*docs0.columns)
        )
        append("documents", batch)
    if "embeddings" in sources:
        emb0 = load_table(spark, BASE_SF, "embeddings")
        append("embeddings", (
            emb0.filter(F.col("vec_id") % 37 == i % 37)
            .withColumn("vec_id", F.col("vec_id") + F.lit((r + i) * c["vec"]).cast("bigint"))
            .withColumn(
                "embedding",
                F.expr(f"transform(embedding, (x, j) -> cast(x + sin({i} * 131 + j) * 0.03 as float))"),
            )
        ))
    days = {}
    if "lineitem" in sources:
        # one new day of orders and their lineitems, order keys above
        # every replica's
        day = F.date_add(F.to_date(F.lit(c["ship"])), i)
        okey = F.lit(i * c["order"]).cast("bigint")
        li0 = load_table(spark, BASE_SF, "lineitem")
        append("lineitem", li0.filter(F.col("l_orderkey") % 53 == i % 53)
               .withColumn("l_shipdate", day.cast(dict(li0.dtypes)["l_shipdate"]))
               .withColumn("l_orderkey", F.col("l_orderkey") + okey))
        od0 = load_table(spark, BASE_SF, "orders")
        append("orders", od0.filter(F.col("o_orderkey") % 53 == i % 53)
               .withColumn("o_orderdate", day.cast(dict(od0.dtypes)["o_orderdate"]))
               .withColumn("o_orderkey", F.col("o_orderkey") + okey))
        days["lineitem"] = day
    if "events" in sources:
        # every appended event lands on ONE new day, time of day kept
        day = F.date_add(F.lit(c["ts_day"]), i)
        ev0 = load_table(spark, BASE_SF, "events")
        append("events", (
            ev0.filter(F.col("event_id") % 41 == i % 41)
            .withColumn("ts", (
                day.cast("timestamp_ntz")
                + (F.col("ts") - F.col("ts").cast("date").cast("timestamp_ntz"))
            ).cast(dict(ev0.dtypes)["ts"]))
            .withColumn("event_id", F.col("event_id") + F.lit(i * c["event"]).cast("bigint"))
        ))
        days["events"] = day
    if not days:
        return {}
    row = spark.range(1).select(*[d.alias(t) for t, d in days.items()]).first()
    return {t: str(row[t]) for t in days}


def pinned_rebuild(spark, name: str, base: str):
    """A from-scratch rebuild under the maintained epoch of a spec whose
    fresh rebuild would re-train (semantic dedup: under its codebook)."""
    from olap_sus_spark.operators import similarity as sim

    assert name == "semantic_dedup", f"no pinned rebuild for {name}"
    cb = spark.read.parquet(
        os.path.join(sim.semantic_index_path(base, 64, 0.3), "codebook")
    ).localCheckpoint(eager=True)
    return lambda: sim.semantic_dedup(
        sim.semantic_cells(load_table(spark, base, "embeddings"), 64, codebook=cb),
        threshold=0.3,
    ).select("vec_id", "centroid_id", "is_kept", "dup_of", "dup_cosine")


def timed(fn) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def main(args: list[str]) -> None:
    from olap_sus_spark.operators.compaction import compact_maintained_indexes

    n = int(args[0]) if args else 30
    r = int(args[1]) if len(args) > 1 else 10
    all_specs = {s.name: s for s in specs()}
    names = args[2:] or list(all_specs)
    unknown = set(names) - set(all_specs)
    assert not unknown, f"unknown specs {sorted(unknown)}; known: {sorted(all_specs)}"
    chosen = [all_specs[x] for x in names]
    sources = {s.source for s in chosen}

    work = tempfile.mkdtemp(prefix=f"steady_x{r}_")
    base, idx = os.path.join(work, "sf"), os.path.join(work, "idx")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = idx
    spark = get_spark("steady-state-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.perf_counter()
        stage(spark, r, base)
        c = shifts(spark, r)
        print(f"staged x{r} of {BASE_SF} in {time.perf_counter() - t0:.1f}s", flush=True)

        cold = {}
        for s in chosen:
            _, b = timed(lambda: _digest(s.build(spark, base)))
            _, v = timed(lambda: _digest(s.build(spark, base)))
            cold[s.name] = {"build_s": b, "serve_s": v}
            print(f"  cold {s.name}: build {b}s serve {v}s", flush=True)

        timings: dict[str, list[float]] = {x: [] for x in names}
        growth: list[dict] = []
        for i in range(1, n + 1):
            days = ingest(spark, base, r, i, c, sources)
            row: dict = {"ingest": i}
            for s in chosen:
                d = [days[s.source]] if s.unit == "mes_dt" else []
                _, dt = timed(lambda: s.refresh(spark, base, d))
                timings[s.name].append(dt)
                row[s.name] = {"sec": dt}
            if i % COMPACT_EVERY == 0:
                done, dt = timed(lambda: compact_maintained_indexes(spark, base))
                row["compact"] = {"sec": dt, "partitions": sum(len(v) for v in done.values())}
                print(f"  compact @{i}: {row['compact']}", flush=True)
            # dir stats AFTER any compaction: the operator's steady state
            for s in chosen:
                row[s.name].update(dir_stats(s.path(base)))
            row["debris"] = _debris(idx)
            growth.append(row)
            print(f"ingest {i:02d}: " + " ".join(f"{x}={row[x]['sec']}s" for x in names),
                  flush=True)

        flat = {}
        for x, ts in timings.items():
            a, b = statistics.median(ts[:5]), statistics.median(ts[-5:])
            flat[x] = {"first5_med": round(a, 3), "last5_med": round(b, 3),
                       "ratio": round(b / a, 3) if a else None}
        print("\nFLATNESS (last5/first5 median):")
        for x, v in flat.items():
            print(f"  {x:<18} {v['first5_med']:>7.3f}s -> {v['last5_med']:>7.3f}s"
                  f"  ratio={v['ratio']}")

        g0, gN = growth[0], growth[-1]
        print("\nGROWTH (ingest 1 -> N):")
        for x in names:
            print(f"  {x:<18} files {g0[x]['files']:>5} -> {gN[x]['files']:>5}"
                  f"   mb {g0[x]['mb']:>8} -> {gN[x]['mb']:>8}"
                  f"   manifest_b {g0[x]['manifest_b']:>6} -> {gN[x]['manifest_b']:>6}")
        all_debris = [d for row in growth for d in row["debris"]]
        print(f"  staging/tomb debris across run: {all_debris or 'NONE'}")

        print("\nFINAL vs FRESH REBUILD:")
        maintained = {s.name: _digest(s.build(spark, base)) for s in chosen}
        rebuilds = {
            s.name: pinned_rebuild(spark, s.name, base)
            for s in chosen if not s.rebuild_exact
        }
        os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "fresh")
        verdicts = {}
        for s in chosen:
            fresh, dt = timed(lambda: _digest(
                rebuilds[s.name]() if s.name in rebuilds else s.build(spark, base)
            ))
            verdicts[s.name] = fresh == maintained[s.name]
            print(f"  {s.name:<18} {'MATCH' if verdicts[s.name] else 'MISMATCH'}"
                  f"{' (epoch-pinned codebook)' if s.name in rebuilds else ''}"
                  f"  (rebuild {dt}s)", flush=True)
        det = os.path.join(REPO, f"STEADY_DETAIL_x{r}.json")
        with open(det, "w") as f:
            json.dump({
                "n_ingests": n, "replicate": r, "cold": cold, "flatness": flat,
                "growth_first": g0, "growth_last": gN, "debris": all_debris,
                "rebuild_match": verdicts, "timings": timings,
            }, f, indent=1)
        print(f"\nwrote {det}")
        print(json.dumps({
            "probe": "steady_state", "n": n, "r": r,
            "all_match": all(verdicts.values()),
            "worst_flat_ratio": max((v["ratio"] or 0) for v in flat.values()),
            "debris": len(all_debris),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
