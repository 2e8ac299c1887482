"""Tests for the benchmark's own helpers.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys
import time
from datetime import date

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import corpus_gen  # noqa: E402
import stats  # noqa: E402
import sus_gen  # noqa: E402
from spans import Span, StageCost, Tracer, union_length  # noqa: E402


def _landing(root, seed):
    seeds = sus_gen.write_seeds(os.path.join(root, "seeds"), seed)
    truth = sus_gen.Truth()
    for d in (date(2024, 1, 1), date(2024, 1, 2)):
        sus_gen.write_day(os.path.join(root, "landing"), seeds, d, seed, truth, 300, 150, 80)
    return truth


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_sus_generator_is_byte_identical_per_seed(tmp_path):
    t1 = _landing(str(tmp_path / "a"), 7)
    t2 = _landing(str(tmp_path / "b"), 7)
    _landing(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert t1 == t2


def test_sus_generator_cardinalities_and_sentinel_paths(tmp_path):
    seeds = sus_gen.write_seeds(str(tmp_path / "seeds"), 3)
    assert len(seeds.municipios) == sus_gen.N_MUNICIPIOS
    assert len({m.code7[:6] for m in seeds.municipios}) == sus_gen.N_MUNICIPIOS
    assert len(set(seeds.cbo_codes)) == sus_gen.N_CBO
    assert len(set(seeds.cid_codes)) == sus_gen.N_CID10
    truth = sus_gen.Truth()
    sus_gen.write_day(str(tmp_path / "landing"), seeds, date(2024, 3, 1), 3, truth, 2000, 1000, 500)
    births = open(tmp_path / "landing/sinasc/dt=2024-03-01/part-0.csv").read()
    deaths = open(tmp_path / "landing/sim/dt=2024-03-01/part-0.csv").read()
    assert 0 < 2000 - truth.births["2024-03-01"] < 200  # invalid dates are dropped
    assert sus_gen.UNKNOWN_MUN in births and sus_gen.UNKNOWN_CID in deaths
    assert deaths.count("X*") > 100  # multi-code LINHAII fields
    assert sum(truth.births_uf_year.values()) == truth.births["2024-03-01"]


def test_corpus_generator_is_byte_identical_per_seed(tmp_path):
    for name in ("a", "b"):
        c = corpus_gen.Corpus(str(tmp_path / name), 5)
        c.write_base()
        c.append_day()
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,want", [
    (19, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    got = stats.tail([float(i) for i in range(n)])
    assert (got[0] if got else None) == want
    if got:
        assert sum(1 for i in range(n) if i > got[1]) >= stats.MIN_BEYOND


def test_cpu_clock_counts_work_not_waiting():
    child = subprocess.Popen(["sleep", "30"])  # stands in for an idle JVM
    try:
        clock = stats.CpuClock(child.pid)
        c0, t0 = clock(), time.process_time()
        while time.process_time() - t0 < 0.3:
            pass
        busy = clock() - c0
        c1 = clock()
        time.sleep(0.3)
        idle = clock() - c1
    finally:
        child.kill()
        child.wait()
    assert 0.25 <= busy < 0.6
    assert idle < 0.05


def test_cpu_clock_counts_the_jvm_workers():
    # A parent that starts a busy worker, as the JVM starts Python workers;
    # the worker ends, then the parent idles.
    burn = "import time; t = time.process_time()\nwhile time.process_time() - t < 0.4: pass"
    parent = subprocess.Popen([sys.executable, "-c", (
        "import subprocess, sys, time; "
        f"subprocess.run([sys.executable, '-c', {burn!r}]); time.sleep(30)")])
    try:
        clock = stats.CpuClock(parent.pid)
        c0 = clock()
        time.sleep(2.0)
        worked = clock() - c0
    finally:
        parent.kill()
        parent.wait()
    assert worked >= 0.35


def test_cpu_clock_holds_while_threads_come_and_go():
    # Spark starts and ends threads all the time; one ending while the clock
    # reads the process must not drop the process from the count.
    churn = ("import threading, time\n"
             "def work():\n"
             "    t = time.process_time()\n"
             "    while time.process_time() - t < 0.002: pass\n"
             "while True:\n"
             "    ts = [threading.Thread(target=work) for _ in range(8)]\n"
             "    [t.start() for t in ts]\n"
             "    [t.join() for t in ts]\n")
    proc = subprocess.Popen([sys.executable, "-c", churn])
    try:
        clock = stats.CpuClock(proc.pid)
        time.sleep(0.3)
        readings = [clock() for _ in range(2000)]
    finally:
        proc.kill()
        proc.wait()
    assert readings[-1] > readings[0]
    assert min(b - a for a, b in zip(readings, readings[1:])) > -0.05


def _stage(s, e):
    return StageCost(s, e, e - s, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_and_driver_gap():
    # parent [0, 10] with children [2, 4] and [3, 6]; own stages [1, 2.5]
    # (half hidden by a child) and [7, 8] and one past the span's end.
    parent = Span("p", 0.0)
    parent.end = 10.0
    for s, e in ((2.0, 4.0), (3.0, 6.0)):
        c = Span("c", s, parent)
        c.end = e
        parent.children.append(c)
    parent.stages = [_stage(1.0, 2.5), _stage(7.0, 8.0), _stage(9.5, 11.0)]
    assert parent.self_s == pytest.approx(6.0)  # 10 - union(2..6)
    # own coverage outside children: [1, 2] + [7, 8] + [9.5, 10] = 2.5
    assert parent.driver_gap_s == pytest.approx(3.5)
    leaf = parent.children[0]
    assert leaf.self_s == leaf.wall_s == pytest.approx(2.0)
    assert leaf.driver_gap_s == pytest.approx(2.0)

    t = Tracer(spark=None, enabled=False)
    t.spans = [*parent.children, parent]  # closing order: children first
    recs = t.records()
    assert [r["parent"] for r in recs] == [2, 2, None]
    assert recs[2]["self_s"] == pytest.approx(6.0) and recs[2]["stages"] == 3
    assert t.totals()["c"]["count"] == 2


def test_disabled_tracer_runs_code_and_records_nothing():
    t = Tracer(spark=None, enabled=False)
    with t.span("x") as sp:
        assert sp is None
    t.wrap(os.path, "join", "never")
    assert os.path.join("a", "b") == "a/b"
    assert t.spans == [] and t.totals() == {}


@pytest.fixture(scope="module")
def spark():
    from olap_sus_spark.session import get_spark

    s = get_spark("perfbench-tests")
    assert s.conf.get("spark.ui.enabled") == "false"
    yield s
    s.stop()


def test_status_store_reader_with_ui_disabled(spark):
    t = Tracer(spark, enabled=True)
    with t.span("outer") as outer:
        with t.span("inner"):
            spark.range(0, 200_000, numPartitions=4).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
        spark.range(10).collect()
    inner = outer.children[0]
    assert inner.jobs >= 1 and outer.jobs >= 1
    assert inner.stages and all(st.task_s >= 0 for st in inner.stages)
    assert sum(st.shuffle_write_mb for st in inner.stages) > 0
    for st in inner.stages:
        assert inner.start - 1 <= st.start <= st.end <= inner.end + 1
    totals = t.totals()
    assert totals["inner"]["count"] == 1 and totals["inner"]["shuffle_mb"] > 0
    assert 0 <= totals["outer"]["driver_gap_s"] <= totals["outer"]["self_s"]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_heap_live_is_below_the_heap_cap(spark):
    jvm = spark._jvm
    cap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getMax()
    assert 0 < stats.heap_live_mb(jvm) < cap / (1024.0 * 1024.0)
