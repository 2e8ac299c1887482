"""Unit tests for the maintained-index persistence contract
(operators/index_store.py) and its consumers' recovery behavior —
especially the quarantine-then-verify path that ADVICE round 3 flagged
(a partial-looking index dir must never be deleted if a concurrent
builder promoted a complete one into place)."""

from __future__ import annotations

import os
import shutil

import pytest

from olap_sus_spark.operators import index_store as ix


def test_promote_never_deletes_live_destination(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = str(tmp_path / "idx_live")
    os.makedirs(os.path.join(path, "assignments"))
    staging = ix.staging_path(path)
    os.makedirs(staging)
    open(os.path.join(staging, "marker"), "w").write("loser")
    ix.promote(staging, path)  # race loser
    assert os.path.exists(os.path.join(path, "assignments"))  # live untouched
    assert not os.path.exists(staging)  # loser's copy reaped


def test_promote_renames_into_empty_slot(tmp_path):
    path = str(tmp_path / "idx_new")
    staging = ix.staging_path(path)
    os.makedirs(staging)
    open(os.path.join(staging, "marker"), "w").write("winner")
    ix.promote(staging, path)
    assert open(os.path.join(path, "marker")).read() == "winner"
    assert not os.path.exists(staging)


def test_sweep_reaps_only_stale_staging(tmp_path, monkeypatch):
    import time

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    old = str(tmp_path / "x.__build__123_dead")
    fresh = str(tmp_path / "y.__build__456_live")
    live_index = str(tmp_path / "srp_abc")
    for d in (old, fresh, live_index):
        os.makedirs(d)
    past = time.time() - 7200
    os.utime(old, (past, past))
    ix.sweep_stale_staging(max_age_sec=3600)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)
    assert os.path.exists(live_index)


def test_corpus_stamp_tracks_part_file_rewrites(tmp_path):
    src = tmp_path / "sf" / "documents.parquet"
    src.mkdir(parents=True)
    (src / "part-0").write_bytes(b"aaaa")
    s1 = ix.corpus_stamp(str(tmp_path / "sf"), "documents")
    (src / "part-0").write_bytes(b"bbbb-longer")  # in-place rewrite
    s2 = ix.corpus_stamp(str(tmp_path / "sf"), "documents")
    assert s1 != s2
    assert ix.corpus_stamp(str(tmp_path / "nope"), "documents") == "na"


def test_ivf_loader_restores_concurrently_completed_index(spark, tmp_path, monkeypatch):
    """The ADVICE race: the loader sees a partial dir, but by the time it
    acts a complete index exists.  Simulate by pre-building the real index,
    then removing one component and planting a COMPLETE copy under the
    exact path again before the loader's delete can run — the quarantine
    rename must verify completeness and keep serving rather than rebuild.
    Here we exercise the two reachable outcomes: (a) complete index reused
    untouched, (b) verified-partial index quarantined + rebuilt."""
    from olap_sus_spark.operators import similarity as sim
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    a1, c1 = sim.load_or_build_ivf_index(spark, SF_DIR, num_centroids=4)
    path = sim.ivf_index_path(SF_DIR, 4)
    stamp = os.path.getmtime(path)
    # (a) complete: loader must not touch it
    sim.load_or_build_ivf_index(spark, SF_DIR, num_centroids=4)
    assert os.path.getmtime(path) == stamp
    # (b) partial: centroids missing -> quarantine + rebuild, never an
    # in-place rmtree of the live path name while readers might resolve it
    shutil.rmtree(os.path.join(path, "centroids"))
    a2, c2 = sim.load_or_build_ivf_index(spark, SF_DIR, num_centroids=4)
    assert os.path.exists(os.path.join(path, "centroids"))
    assert c2.count() == 4
    # no quarantine/staging debris left behind
    leftovers = [e for e in os.listdir(tmp_path) if ".__build__" in e]
    assert leftovers == []


# ---------------------------------------------------------------------------
# The shared lifecycle routines: publish, the bounded-retry serve, and the
# per-file driver's empty-component read.
# ---------------------------------------------------------------------------
def _dir_with(path: str, text: str) -> str:
    os.makedirs(path)
    with open(os.path.join(path, "marker"), "w") as f:
        f.write(text)
    return path


def _read(path: str) -> str:
    with open(os.path.join(path, "marker")) as f:
        return f.read()


def _debris(root) -> list[str]:
    return [e for e in os.listdir(root) if ".__build__" in e or e.endswith(".stale")]


def test_publish_keeps_concurrent_winners_current_copy(tmp_path):
    path = _dir_with(str(tmp_path / "idx"), "winner")
    staging = _dir_with(ix.staging_path(path), "ours")
    ix.publish(staging, path, is_current=lambda: True)
    assert _read(path) == "winner"
    assert _debris(tmp_path) == []


def test_publish_replaces_stale_live_copy_without_debris(tmp_path):
    path = _dir_with(str(tmp_path / "idx"), "stale")
    staging = _dir_with(ix.staging_path(path), "fresh")
    ix.publish(staging, path, is_current=lambda: False)
    assert _read(path) == "fresh"
    assert _debris(tmp_path) == []


def test_publish_lost_retire_falls_through_to_promote(tmp_path, monkeypatch):
    """Another retirer moves the live copy between our existence check and
    our retire rename: the rename fails, and publish still promotes."""
    path = _dir_with(str(tmp_path / "idx"), "stale")
    staging = _dir_with(ix.staging_path(path), "fresh")
    other_tomb = str(tmp_path / "other.stale")
    real_rename = os.rename

    def racing_rename(src, dst):
        if src == path and dst.endswith(".stale"):
            real_rename(path, other_tomb)  # the other retirer wins
            raise FileNotFoundError(src)
        real_rename(src, dst)

    monkeypatch.setattr(ix.os, "rename", racing_rename)
    ix.publish(staging, path)
    monkeypatch.setattr(ix.os, "rename", real_rename)
    assert _read(path) == "fresh"
    assert not os.path.exists(staging)
    assert not os.path.exists(staging + ".stale")
    shutil.rmtree(other_tomb)  # the other retirer reaps its own tomb
    assert _debris(tmp_path) == []


def _partition_layout(tmp_path):
    live = str(tmp_path / "t")
    for v in ("a", "b", "f%C3%A9", "keep"):
        _dir_with(os.path.join(live, f"k={v}"), f"old {v}")
    staging = ix.staging_path(live)
    for v in ("a", "new"):
        _dir_with(os.path.join(staging, f"k={v}"), f"new {v}")
    return live, staging


def test_publish_partitions_swaps_staged_and_drops_scoped_empty_units(tmp_path):
    live, staging = _partition_layout(tmp_path)
    ix.publish_partitions(staging, live, "k", scope=["a", "b", "fé", "new"])
    assert sorted(os.listdir(live)) == ["k=a", "k=keep", "k=new"]
    assert _read(os.path.join(live, "k=a")) == "new a"
    assert _read(os.path.join(live, "k=new")) == "new new"
    assert _read(os.path.join(live, "k=keep")) == "old keep"  # out of scope
    assert _debris(tmp_path) == []


def test_publish_partitions_failed_promote_keeps_old_rows_and_raises(tmp_path, monkeypatch):
    live, staging = _partition_layout(tmp_path)
    real_promote = ix.promote

    def failing_promote(src, dst):
        if dst.endswith("k=a"):
            raise OSError("injected promote failure")
        real_promote(src, dst)

    monkeypatch.setattr(ix, "promote", failing_promote)
    with pytest.raises(OSError, match="k=a"):
        ix.publish_partitions(staging, live, "k", scope=["a", "b"])
    assert _read(os.path.join(live, "k=a")) == "old a"  # the retired copy is back
    assert _read(os.path.join(live, "k=new")) == "new new"  # the others still land
    assert not os.path.exists(os.path.join(live, "k=b"))
    assert _debris(tmp_path) == []  # staging held no only copy


def test_publish_partitions_keeps_staging_holding_a_units_only_copy(tmp_path, monkeypatch):
    live, staging = _partition_layout(tmp_path)
    real_rename = os.rename

    def rename(src, dst):
        if dst.endswith("k=a"):  # the promote AND the restore of the retired copy
            raise OSError("injected rename failure")
        real_rename(src, dst)

    monkeypatch.setattr(ix.os, "rename", rename)
    with pytest.raises(OSError):
        ix.publish_partitions(staging, live, "k")
    monkeypatch.setattr(ix.os, "rename", real_rename)
    assert not os.path.exists(os.path.join(live, "k=a"))
    assert _read(os.path.join(staging, "k=a.stale")) == "old a"  # the only copy
    assert _read(os.path.join(live, "k=new")) == "new new"


def test_publish_partitions_is_local_only(tmp_path):
    with pytest.raises(ValueError):
        ix.publish_partitions(str(tmp_path / "s"), "s3a://bucket/t", "dt", scope=["x"])
    with pytest.raises(ValueError):
        ix.publish_partitions("s3a://bucket/t.__build__", str(tmp_path / "t"), "dt")
    assert os.listdir(tmp_path) == []


def test_swap_in_lands_over_a_crash_left_retired_copy(tmp_path):
    """A sink stages under a fixed name, so a crash after an earlier
    promote can leave the retired copy where this swap retires to; the
    rewrite still lands and nothing is left behind."""
    from olap_sus_spark.sources.sinks import _swap_in

    path = _dir_with(str(tmp_path / "table"), "old")
    staging = _dir_with(path + ".__compact__", "new")
    _dir_with(staging + ".stale", "left by a crash")
    _swap_in(path, staging)
    assert _read(path) == "new"
    assert _debris(tmp_path) == []


class _FakeTime:
    def __init__(self, on_sleep=None):
        self.sleeps = 0
        self.on_sleep = on_sleep

    def sleep(self, _s):
        self.sleeps += 1
        if self.on_sleep:
            self.on_sleep(self.sleeps)


def _write_parquet(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table({"x": [1, 2, 3]}), os.path.join(path, "part-0.parquet"))


def test_serve_returns_once_the_path_reappears(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    staged = str(tmp_path / "staged")
    _write_parquet(staged)

    def promote_on_third_wait(n):  # a concurrent publish lands its rename
        if n == 3:
            os.rename(staged, path)

    fake = _FakeTime(promote_on_third_wait)
    monkeypatch.setattr(ix, "time", fake)
    assert sorted(r.x for r in ix.serve(spark, path).collect()) == [1, 2, 3]
    assert fake.sleeps == 3


def test_serve_raises_at_once_when_present_but_unreadable(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    fake = _FakeTime()
    monkeypatch.setattr(ix, "time", fake)
    try:
        ix.serve(spark, path, empty_schema="x bigint").collect()
    except Exception:
        pass
    else:
        raise AssertionError("an unreadable table must raise")
    assert fake.sleeps == 0


def test_empty_src_component_serves_typed_empty_frame(spark, tmp_path):
    """Every src= partition of a component dropped (a refresh whose
    sources all recomputed empty): the read serves a typed empty frame."""
    path = str(tmp_path / "idx")
    t = ix.SrcTable(path, str(tmp_path / "sf"), "documents", {"grams": (("gram",), 1)})
    frame = spark.createDataFrame([("a.parquet", 7, 1)], "src string, gram bigint, n_docs bigint")
    t.write(path, "grams", frame)
    t.write(path, "grams", frame.filter("false"), ["a.parquet"])
    out = ix.serve(spark, path, "grams", "gram bigint, n_docs bigint")
    assert out.count() == 0
    assert out.dtypes == [("gram", "bigint"), ("n_docs", "bigint")]


def test_relative_and_absolute_corpus_dir_share_every_index(tmp_path, monkeypatch):
    """Every maintained table's path keys the corpus LOCATION, absolute:
    ``sf`` and ``/abs/sf`` name one table, so neither spelling builds a
    second copy (the inverted index used to key the spelling as given)."""
    from olap_sus_spark.maintenance import specs
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    absolute = os.path.abspath(SF_DIR)
    monkeypatch.chdir(os.path.dirname(absolute))
    relative = os.path.basename(absolute)
    for spec in specs():
        assert spec.path(relative) == spec.path(absolute), spec.name


def test_cluster_map_views_never_share_an_index(spark, tmp_path, monkeypatch):
    """The corpus view keys the cluster map's path: a PLAIN map built
    first over the same corpus and index root must not be served as the
    registry's near_dup_clusters, which is over the AUG view."""
    from olap_sus_spark.maintenance import specs
    from olap_sus_spark.operators import dedup as dd
    from olap_sus_spark.operators.corpus_view import PLAIN
    from tests.conftest import SF_DIR

    spec = next(s for s in specs() if s.name == "near_dup_clusters")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "fresh"))
    want = spec.build(spark, SF_DIR).count()
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    plain = dd.load_or_build_cluster_index(spark, SF_DIR, PLAIN, threshold=0.5)
    assert plain.count() < want
    assert spec.build(spark, SF_DIR).count() == want


def test_month_table_is_served_without_a_listing_job(spark, tmp_path, monkeypatch):
    """A month table holds one ``mes_dt=`` directory per month (83 for
    lineitem here), more than Spark's default parallel-discovery threshold
    of 32 entries. The session lists on the driver, so serving it runs one
    job (the footer read) and a declared-schema read runs none; the rows
    are the same as a fresh read's."""
    from olap_sus_spark.queries.incremental import DAILY_REVENUE
    from tests.conftest import SF_DIR, count_jobs

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    DAILY_REVENUE.load_or_build(spark, SF_DIR)
    path = DAILY_REVENUE.path(SF_DIR)
    assert sum(e.startswith("mes_dt=") for e in os.listdir(path)) > 32

    served = []
    build = lambda: served.append(DAILY_REVENUE.load_or_build(spark, SF_DIR))  # noqa: E731
    assert count_jobs(spark, "test_month_serve", build) == 1
    schema = served[0].schema
    declared = lambda: spark.read.schema(schema).parquet(path)  # noqa: E731
    assert count_jobs(spark, "test_month_declared_read", declared) == 0

    fresh = DAILY_REVENUE.partials(spark, SF_DIR).select(*served[0].columns)
    assert sorted(served[0].collect()) == sorted(fresh.collect())
    assert sorted(declared().collect()) == sorted(fresh.collect())
