"""Round-8 hardening (ADVICE r07): degraded refresh skips the marker
write (stale stamp forces rebuild instead of serving pre-refresh data as
current), first-commit-wins in the no-hardlink append fallback."""

from __future__ import annotations

import errno
import os

from pyspark.sql import functions as F  # noqa: F401  (fixture parity)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# maintained.refresh_partials: when a month degrades (promote failed, the
# retired copy was restored) the NEW stamp must NOT be written — a marker
# claiming currency over pre-refresh data would be served indefinitely.
# The stale stamp makes the next load_or_build_partials rebuild.
# ---------------------------------------------------------------------------
def test_refresh_degraded_skips_marker_so_next_load_rebuilds(
    spark, tmp_path, monkeypatch
):
    from olap_sus_spark.operators import maintained as mt

    data = {"2024-01": [(1, 10.0)], "2024-02": [(3, 20.0)]}

    def build(months):
        rows = [
            (m, k, v)
            for m, kvs in data.items()
            for k, v in kvs
            if months is None or m in months
        ]
        return spark.createDataFrame(rows, "mes_dt string, k int, v double")

    path = str(tmp_path / "partials")
    mt.load_or_build_partials(spark, path, "s1", build)
    assert mt.read_marker(path) == "s1"

    data["2024-01"] = [(1, 99.0)]  # simulated new ingest changed January
    real_rename = os.rename

    def failing_promote(src, dst):
        if ".__build__" in src and not src.endswith(".stale"):
            raise OSError(errno.ENOENT, "injected promote failure", src)
        real_rename(src, dst)

    monkeypatch.setattr(mt.os, "rename", failing_promote)
    mt.refresh_partials(spark, path, "s2", build, ["2024-01-15"])
    monkeypatch.setattr(mt.os, "rename", real_rename)

    # January degraded to its pre-refresh rows AND the marker still says s1:
    # the refresh must not certify the new stamp over stale data
    assert (1, 10.0, "2024-01") in _rows(spark.read.parquet(path))
    assert mt.read_marker(path) == "s1"

    # the stale stamp now self-heals: the next load rebuilds in full
    out = mt.load_or_build_partials(spark, path, "s2", build)
    assert (1, 99.0, "2024-01") in _rows(out)
    assert mt.read_marker(path) == "s2"


# ---------------------------------------------------------------------------
# sinks.append_exactly_once no-hardlink fallback: the commit claim is
# O_EXCL (open 'xb'), so a concurrent replayer that lands dst between our
# staging write and our commit WINS and our copy is discarded — POSIX
# rename would have silently replaced it (ADVICE r07).
# ---------------------------------------------------------------------------
def test_append_fallback_is_first_commit_wins(spark, tmp_path, monkeypatch):
    from olap_sus_spark.sources import sinks

    table = str(tmp_path / "facts")
    batch = spark.createDataFrame([(1, "a")], "id int, s string")
    dst = os.path.join(table, "ingest_batch_runY_000007.parquet")
    winner_bytes = b"winner-parquet-bytes"

    def link_races_then_fails(src, d):
        # simulate a concurrent replayer committing dst during our attempt,
        # on a filesystem that then reports no hardlink support
        os.makedirs(table, exist_ok=True)
        with open(dst, "wb") as f:
            f.write(winner_bytes)
        raise OSError(errno.EPERM, "Operation not permitted (no hardlinks)")

    monkeypatch.setattr(sinks.os, "link", link_races_then_fails)
    sinks.append_exactly_once(batch, table, 7, "runY")  # must not raise

    # the concurrent winner's bytes survive untouched
    with open(dst, "rb") as f:
        assert f.read() == winner_bytes
    # and no staging debris is left behind
    assert not [p for p in os.listdir(str(tmp_path)) if "__ingest__" in p]


def test_append_fallback_commits_when_unraced(spark, tmp_path, monkeypatch):
    from olap_sus_spark.sources import sinks

    table = str(tmp_path / "facts")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")

    def no_link(src, dst):
        raise OSError(errno.ENOTSUP, "no hardlinks")

    monkeypatch.setattr(sinks.os, "link", no_link)
    sinks.append_exactly_once(batch, table, 9, "runZ")
    assert _rows(spark.read.parquet(table)) == [(1, "a"), (2, "b")]
    # replay skips (file present), still no duplicates
    sinks.append_exactly_once(batch, table, 9, "runZ")
    assert _rows(spark.read.parquet(table)) == [(1, "a"), (2, "b")]
