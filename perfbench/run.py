"""The repository's benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload warehouse_ingest --seed 1 --seconds 1 --trace 0

One process drives one SparkSession from ``olap_sus_spark.session.get_spark``
on every core (``SPARK_GRAFT_CPUS``), as a closed loop with a single client.
Inputs are generated from ``--seed`` under ``perfbench/.work`` (removed
again at the end), and the engine sees only those files.  The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer ones
from :mod:`spans` (preceded by one ``span {...}`` line per recorded span).
Any wrong output makes ``correct`` false and the exit status 1.

A run does the workload's fixed number of days, then its fixed number of
serve passes over the final state, and more passes only while ``--seconds``
are not yet spent; see :mod:`workloads`.  End-to-end metrics (tracing off),
per workload:

- ``op_cpu_s_p50``: CPU time of a day's operation, median over the run's
  timed days — landed drop to facts and daily aggregates written
  (``warehouse_ingest``: one day, cold), or append to every maintained table
  refreshed (``maintained_refresh``: two days, after a warm-up day);
- ``serve_pass_cpu_s_p50``: CPU time to serve every read once, construction
  plus collect, median over the run's two passes, made right after the
  days;
- ``setup_s``: CPU time of session start, input generation and the
  bootstrap or table builds.

CPU time is that of the driver JVM, the Python workers it starts and this
process (:class:`stats.CpuClock`): the engine runs in local mode, so that
is all the work the program does, the JVM's own compilation and
collection included.  It, not wall time, carries the regression bounds
because the host lends its cores to other machines.  On 4 virtual cores
of a shared host, with the same code, a warm maintained-table serve pass
took 2.4 to 3.8 s of wall time from run to run, following the time the
hypervisor ran other guests (``steal`` in ``/proc/stat``), against 8.1 to
8.9 s of CPU time; set-up took 25 to 44 s of wall time and 57 to 78 s of
CPU time.  A change that only makes the program wait less, or spreads the
same work over more cores, moves wall time and not these metrics; the wall
times are printed too (the ``setup``, ``op_s`` and ``serve_pass_s`` lines)
and reported by the traced run.

Memory is reported by the traced run only, with the JVM heap sized by
``get_spark`` as in use: ``process.peak_rss_mb`` is the peak resident memory
(``VmHWM``) of the driver JVM plus Python, and ``jvm.heap_live_mb`` the heap
still in use after full collections at the end of the run.  Neither repeats
well enough to carry a regression bound: on the same work peak RSS followed
how far the collector let the heap grow (2.6 to 4.0 GB), and the live heap
settled at 80 or at 144 MB.

The traced run's ``trace.op_cpu_s_p50`` minus the untraced ``op_cpu_s_p50``
is the tracing overhead end to end; ``trace.overhead_s`` is the wall time
spent in the tracer's own bookkeeping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from spans import Tracer
from stats import CpuClock, heap_live_mb, median, peak_rss_mb, tail

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Spans the traced run reports, each with five values (see spans.Span), and
# the end-to-end metric each should move, on the workload that exercises it.
# The other workload does little or none of that layer's work.  Session
# start runs no Spark job, so it reports only ``session.start.self_s``
# (which should move setup_s, both workloads).
SPANS = {
    "sources.raw_csv.read": "op_cpu_s_p50, warehouse_ingest",
    "operators.facts.build": "op_cpu_s_p50, warehouse_ingest",
    "etl.load_dims": "op_cpu_s_p50, warehouse_ingest",
    "etl.refresh_aggregate": "op_cpu_s_p50, warehouse_ingest",
    "etl.read_aggregate": "serve_pass_cpu_s_p50, warehouse_ingest",
    "sources.sinks.append_bridge": "op_cpu_s_p50, warehouse_ingest",
    "sources.sinks.write_fact": "op_cpu_s_p50 (and serve_pass_cpu_s_p50 through the files it "
                                "lays out), warehouse_ingest",
    "queries.construct": "serve_pass_cpu_s_p50, both workloads",
    "queries.collect": "serve_pass_cpu_s_p50, both workloads",
    **{f"operators.maintained.refresh.{k}": "op_cpu_s_p50 (and serve_pass_cpu_s_p50), "
                                            "maintained_refresh"
       for k in ("daily_revenue", "supplier_cms")},
    "operators.index_store.refresh.inverted": "op_cpu_s_p50 (and serve_pass_cpu_s_p50), "
                                              "maintained_refresh",
}
SPAN_VALUES = ("self_s", "jobs", "task_s", "shuffle_mb", "driver_gap_s")
SERVE_SPANS = ("queries.", "etl.read_aggregate")  # reported per serve pass, the rest per day


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # No perf-data file: HotSpot writes it to /tmp whatever the temp
        # directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired; make sure it is gone
            proc.kill()
            proc.wait()


def layer_metrics(tracer, session_span, setup_s, wl, log) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: each span's values per day, or per serve pass for
    the serve-side spans, and the layer counts."""
    days = max(1, len(log.op_s))
    passes = max(1, len(log.pass_s))
    totals = tracer.totals()
    out: dict[str, tuple[float, str]] = {"session.start.self_s": (session_span, "s")}
    units = {"self_s": "s", "jobs": "count", "task_s": "s", "shuffle_mb": "MB",
             "driver_gap_s": "s"}
    for name in SPANS:
        t = totals.get(name, {})
        per = passes if name.startswith(SERVE_SPANS) else days
        for v in SPAN_VALUES:
            out[f"{name}.{v}"] = (t.get(v, 0.0) / per, units[v])
    c = log.counts
    bridge = totals.get("sources.sinks.append_bridge", {})
    served = max(1, c["queries.served"])
    out.update({
        "sources.sinks.files_written": (c["sources.sinks.files_written"] / days, "count"),
        "sources.sinks.bytes_written_per_raw_byte": (
            c["sources.sinks.bytes_written"] / c["raw_bytes"] if c["raw_bytes"] else 0.0, "ratio"),
        "sources.sinks.bridge_shuffle_read_mb": (bridge.get("shuffle_read_mb", 0.0) / days, "MB"),
        "warehouse.files_total": (c["warehouse.files_total"], "count"),
        "queries.construct_jobs": (c["queries.construct_jobs"] / served, "count"),
        "queries.rows_out": (c["queries.rows_out"] / served, "count"),
        "operators.maintained.files_total": (c["operators.maintained.files_total"], "count"),
        "operators.index_store.files_written": (
            c["operators.index_store.files_written"] / days, "count"),
        "operators.index_store.bytes_per_corpus_byte": (
            c["operators.index_store.bytes_per_corpus_byte"], "ratio"),
        "trace.op_cpu_s_p50": (p50(log.op_cpu_s[wl.WARMUP_DAYS:]), "s"),
        "trace.op_s_p50": (p50(log.op_s[wl.WARMUP_DAYS:]), "s"),
        "trace.serve_pass_s_p50": (p50(log.pass_s), "s"),
        "trace.setup_wall_s": (setup_s, "s"),
        "trace.overhead_s": (c["trace.own_s"] / days, "s"),
    })
    return out


def p50(values: list[float]) -> float:
    return median(values) if values else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    sys.path.insert(0, REPO)
    try:
        import olap_sus_spark  # noqa: F401 — the engine must be importable from the checkout
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {REPO}: {exc}", file=sys.stderr)
        return 1

    from workloads import WORKLOADS, DayLog

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    spark = None
    try:
        t_setup, py_cpu0 = time.perf_counter(), sum(os.times()[:2])
        from olap_sus_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        cpu = CpuClock(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        setup_cpu_s = cpu() - py_cpu0

        log = DayLog(cpu)
        wl.instrument()
        try:
            for _ in range(wl.DAYS):
                if not wl.day(log):
                    break
        finally:
            tracer.unwrap_all()
        t_serve = time.perf_counter()
        while log.op_s and not log.failed and (
                len(log.pass_s) < wl.PASSES or time.perf_counter() - t_serve < args.seconds):
            wl.serve_pass(log)
        wl.final_check(log)
        wl.end_counts(log)
        if args.trace:
            metrics = layer_metrics(tracer, session_s, setup_s, wl, log)
            metrics["process.peak_rss_mb"] = (
                peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid()), "MB")
            metrics["jvm.heap_live_mb"] = (heap_live_mb(spark._jvm), "MB")
            for rec in tracer.records():
                print("span", json.dumps(rec))
        else:
            metrics = {
                "op_cpu_s_p50": (p50(log.op_cpu_s[wl.WARMUP_DAYS:]), "s"),
                "serve_pass_cpu_s_p50": (p50(log.pass_cpu_s), "s"),
                "setup_s": (setup_cpu_s, "s"),
            }
        print(f"setup: {setup_s:.4f}s wall, {setup_cpu_s:.2f}s cpu")
        for name, samples in (
                ("op_s", log.op_s[wl.WARMUP_DAYS:]), ("op_cpu_s", log.op_cpu_s[wl.WARMUP_DAYS:]),
                ("serve_pass_s", log.pass_s), ("serve_pass_cpu_s", log.pass_cpu_s),
                ("serve_s", log.serve_s), ("serve_cpu_s", log.serve_cpu_s)):
            tl = tail(samples)
            tail_txt = f"p{tl[0]:g}={tl[1]:.4f}s" if tl else "(too few samples for a tail percentile)"
            print(f"{name}: n={len(samples)} p50={p50(samples):.4f}s {tail_txt}")
        if log.op_s:
            print(f"throughput: {log.rows_in / sum(log.op_s):.1f} landed rows/s over "
                  f"{len(log.op_s)} day(s) of {log.rows_in // len(log.op_s)} rows")
        for err in log.errors:
            print(f"FAILED {err}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": log.failed == 0 and len(log.op_s) == wl.DAYS,
        "attempted": max(1, log.attempted),
        "failed": log.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
