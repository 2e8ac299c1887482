"""Cross-process race probe for the maintained-table lifecycle
(operators/index_store.py), parametrised by registry spec name
(olap_sus_spark/maintenance.py).

Three legs, each running every chosen spec inside every worker process
(separate Spark drivers sharing one index root):

1. cold — two builders build every table concurrently into a fresh root:
   identical digests, exactly one promoted copy per table, no debris;
2. stale key — every table's key is made stale (stamp marker or manifest
   overwritten) and two builders race through retire → publish: identical
   digests, equal to leg 1's, no debris;
3. refresh with a reader — a 1% id-shifted part file is appended to the
   documents and embeddings corpora, then refreshers loop refresh + serve
   while a reader hammers raw reads of every table.  Month-partitioned
   (``mes_dt``) tables get two refreshers (their month publish is safe
   under concurrent refreshers); per-file (``src``) tables get one (their
   refresh overwrites partitions in place — single refresher by
   contract).  Every serve and every raw read may need AT MOST ONE
   transient retry (the two-rename publish window is real; readers retry
   the action and never see partial data).  Afterwards: the refreshers
   agree with each other and with a fresh rebuild of the grown corpus in a
   clean root (an epoch-pinned table, ``Spec.rebuild_exact=False``, with
   an un-raced build → append → refresh replay instead), every z-layout
   ``_zdomain.json`` sidecar is unchanged, and no debris is left.

Digests are order-free Spark-side checksums of the served rows: row count
plus the DECIMAL sum of a 64-bit hash of every row.

Usage: python tools/race_probe.py [spec ...]   (default: every spec)
Reads the sf0.01 test corpus, or $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ITERATIONS = 3  # refresh + serve rounds per refresher
READER_SECONDS = 60
DEBRIS = (".__build__", ".stale", "__compactstage__", "__ingest__")


# ---------------------------------------------------------------------------
# worker side (one Spark driver per process)
# ---------------------------------------------------------------------------
def _digest(out) -> str:
    from pyspark.sql import functions as F

    parts = []
    for df in out if isinstance(out, tuple) else (out,):
        cols = sorted(df.columns)
        n, h = df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        ).first()
        parts.append(f"{n}:{h}")
    return "/".join(parts)


def _serve_once_retried(fn) -> tuple[str, int]:
    try:
        return _digest(fn()), 0
    except Exception:  # noqa: BLE001 — one transient publish window allowed
        time.sleep(0.05)
        return _digest(fn()), 1


def _leaf_tables(root: str) -> list[str]:
    """Directories Spark reads as one table under ``root``: ones holding
    data files or partition directories; otherwise recurse."""
    entries = [e for e in os.scandir(root) if not e.name.startswith(("_", "."))]
    if any(e.is_file() or "=" in e.name for e in entries):
        return [root]
    return [t for e in entries if e.is_dir() for t in _leaf_tables(e.path)]


def worker(mode: str, sf: str, names: list[str], days: dict) -> None:
    from olap_sus_spark.maintenance import specs
    from olap_sus_spark.session import get_spark

    spark = get_spark(f"race-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    chosen = [s for s in specs() if s.name in names]
    result: dict = {"digests": {}, "retries": 0}
    if mode in ("build", "replay"):
        for s in chosen:
            result["digests"][s.name] = _digest(s.build(spark, sf))
    if mode == "replay":
        _append_day(sf)
        for s in chosen:
            s.refresh(spark, sf, [days[s.source]] if s.unit == "mes_dt" else [])
            result["digests"][s.name] = _digest(s.build(spark, sf))
    elif mode == "refresh":
        for _ in range(ITERATIONS):
            for s in chosen:
                s.refresh(spark, sf, [days[s.source]] if s.unit == "mes_dt" else [])
                d, r = _serve_once_retried(lambda: s.build(spark, sf))
                result["digests"][s.name] = d
                result["retries"] = max(result["retries"], r)
    elif mode == "read":
        roots = [os.path.join(os.environ["SPARK_GRAFT_INDEX_DIR"], n) for n in names]
        iters = retries = 0
        deadline = time.time() + READER_SECONDS
        while time.time() < deadline:
            iters += 1
            for root in roots:
                def read(root=root):
                    return sum(spark.read.parquet(t).count() for t in _leaf_tables(root))
                try:
                    read()
                except Exception:  # noqa: BLE001
                    retries += 1
                    time.sleep(0.05)
                    try:
                        read()
                    except Exception as exc:  # noqa: BLE001
                        result["double_fail"] = f"{root}: {exc!r}"[:300]
        result.update(iters=iters, retries=retries)
    spark.stop()
    print("WORKER_RESULT " + json.dumps(result), flush=True)


# ---------------------------------------------------------------------------
# driver side
# ---------------------------------------------------------------------------
def _spawn(mode: str, sf: str, root: str, names: list[str], days: dict):
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=root)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--worker", mode, sf,
         json.dumps(names), json.dumps(days)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )


def _results(procs, label: str) -> list[dict]:
    out = []
    for i, p in enumerate(procs):
        text = p.communicate()[0]
        lines = [ln for ln in text.splitlines() if ln.startswith("WORKER_RESULT ")]
        assert p.returncode == 0 and lines, f"{label}: worker {i} failed:\n{text[-3000:]}"
        out.append(json.loads(lines[0][len("WORKER_RESULT "):]))
    return out


def _debris(root: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(root)
        for n in dirs
        if any(m in n for m in DEBRIS)
    ]


def _make_stale(root: str) -> int:
    """Poison every table's key: stamp markers and corpus manifests."""
    n = 0
    for e in os.scandir(root):
        marker = os.path.join(e.path, "_corpus_stamp.txt")
        manifest = os.path.join(e.path, "_corpus_manifest.json")
        if os.path.exists(marker):
            with open(marker, "w") as f:
                f.write("stale-junk")
            n += 1
        elif os.path.exists(manifest):
            with open(manifest, "w") as f:
                json.dump({"files": {}, "epochs": []}, f)
            n += 1
    return n


def _sidecars(root: str) -> dict[str, str]:
    out = {}
    for e in os.scandir(root):
        p = os.path.join(e.path, "_zdomain.json")
        if os.path.exists(p):
            with open(p) as f:
                out[e.name] = f.read()
    return out


def _corpus(base: str, sf: str) -> str:
    """A working copy of the corpus: documents and embeddings as directory
    datasets (the shape appends grow), every other table linked."""
    os.makedirs(sf)
    for e in os.scandir(base):
        table = e.name.split(".")[0]
        if table in ("documents", "embeddings"):
            os.makedirs(os.path.join(sf, e.name))
            shutil.copy(e.path, os.path.join(sf, e.name, "part-00000.parquet"))
        else:
            os.symlink(e.path, os.path.join(sf, e.name))
    return sf


def _append_day(sf: str) -> None:
    """One ingest day: 1% of each corpus re-appended with ids shifted above
    every existing id (the shape every per-file refresh absorbs)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        d = os.path.join(sf, f"{table}.parquet")
        t = pq.read_table(os.path.join(d, "part-00000.parquet"))
        t = t.filter(pa.array([i % 100 == 0 for i in t[id_col].to_pylist()]))
        t = t.set_column(
            t.schema.get_field_index(id_col), id_col, pc.add(t[id_col], 100_000_000)
        )
        pq.write_table(t, os.path.join(d, "part-day1.parquet"))


def _days(base: str) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def first_day(table: str, col: str) -> str:
        t = pq.read_table(os.path.join(base, f"{table}.parquet"), columns=[col])
        return str(pc.min(t[col]).as_py())[:10]

    return {"lineitem": first_day("lineitem", "l_shipdate"), "events": first_day("events", "ts")}


def _race_build(sf: str, root: str, names: list[str], label: str) -> dict:
    t0 = time.perf_counter()
    a, b = _results([_spawn("build", sf, root, names, {}) for _ in range(2)], label)
    assert a["digests"] == b["digests"], f"{label}: divergent digests {a} vs {b}"
    assert not _debris(root), f"{label}: debris {_debris(root)}"
    print(f"{label}: both builders green, identical digests, "
          f"{time.perf_counter() - t0:.0f}s")
    return a["digests"]


def main(names: list[str]) -> None:
    from olap_sus_spark.catalog import DEFAULT_SF_DIR
    from olap_sus_spark.maintenance import specs

    base = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
    )
    all_specs = {s.name: s for s in specs()}
    names = names or list(all_specs)
    unknown = set(names) - set(all_specs)
    assert not unknown, f"unknown specs {sorted(unknown)}; known: {sorted(all_specs)}"
    work = tempfile.mkdtemp(prefix="race_probe_")
    try:
        sf = _corpus(base, os.path.join(work, "sf"))
        root = os.path.join(work, "idx")
        days = _days(base)

        d1 = _race_build(sf, root, names, "cold")
        tables = sorted(os.listdir(root))
        paths = {os.path.basename(all_specs[n].path(sf)) for n in names}
        assert set(tables) == paths, f"cold: promoted {tables}, expected {sorted(paths)}"
        print(f"cold: one promoted copy per table ({len(tables)} tables)")

        n = _make_stale(root)
        assert n == len(tables), f"stale: poisoned {n} of {len(tables)} keys"
        d2 = _race_build(sf, root, names, f"stale key ({n} tables)")
        assert d2 == d1, "rebuild after a stale key changed served values"

        sidecars = _sidecars(root)
        _append_day(sf)
        month = [x for x in names if all_specs[x].unit == "mes_dt"]
        t0 = time.perf_counter()
        procs = [
            _spawn("refresh", sf, root, names, days),
            _spawn("refresh", sf, root, month, days),
            _spawn("read", sf, root, tables, days),
        ]
        r1, r2, rd = _results(procs, "refresh")
        print(f"refresh: refreshers green (max retries {r1['retries']}, "
              f"{r2['retries']}); reader iters={rd['iters']} "
              f"retries={rd['retries']}, {time.perf_counter() - t0:.0f}s")
        assert r1["retries"] <= 1 and r2["retries"] <= 1
        assert "double_fail" not in rd, f"reader needed >1 retry: {rd['double_fail']}"
        assert all(r1["digests"][x] == r2["digests"][x] for x in month), (
            f"divergent month refreshes {r1} vs {r2}"
        )
        assert _sidecars(root) == sidecars, "a _zdomain.json sidecar changed"
        assert not _debris(root), f"refresh: debris {_debris(root)}"

        fresh = _race_build(sf, os.path.join(work, "fresh"), names, "fresh rebuild")
        pinned = [x for x in names if not all_specs[x].rebuild_exact]
        if pinned:
            replay = _corpus(base, os.path.join(work, "sf_replay"))
            (r,) = _results(
                [_spawn("replay", replay, os.path.join(work, "replay"), pinned, days)],
                "replay",
            )
            fresh.update(r["digests"])
        diff = sorted(x for x in names if fresh[x] != r1["digests"][x])
        assert not diff, f"refreshed != fresh rebuild / un-raced replay for {diff}"
        print(f"refreshed == fresh rebuild for {len(names) - len(pinned)} specs, "
              f"== un-raced replay for {pinned}; {len(sidecars)} sidecars "
              "intact; no debris")
        print("RACE PROBE PASS: " + " ".join(names))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        worker(sys.argv[2], sys.argv[3], json.loads(sys.argv[4]), json.loads(sys.argv[5]))
    else:
        main(sys.argv[1:])
