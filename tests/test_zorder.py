"""Z-order layout (sources/zorder.py): Morton-value correctness, the
measured row-group-skipping win over a single-column sort, the monthly
maintained layout's contract, and oracle-exact serving."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.sources import zorder as zo
from tests.conftest import SF_DIR


def _py_interleave(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def _z_sorted(df, files: int):
    """``df`` globally Morton-ordered on (l_partkey, l_suppkey) with the
    shipped key and domain: range exchange + sort on z, helper dropped."""
    key = zo._z_key("l_partkey", "l_suppkey", zo._domain(df, "l_partkey", "l_suppkey"))
    return (
        df.withColumn("_z", key)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def test_z_value_matches_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 1)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "z", zo.z_value(F.col("x"), F.col("y"), 16)
    )
    for r in df.collect():
        assert r.z == _py_interleave(r.x, r.y, 16), (r.x, r.y)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """The measurable claim: for a box selective in the SECOND column, the
    z-layout's footer stats intersect far fewer row groups than a layout
    sorted on the first column only — same rows, same query answers, a
    fraction of the I/O."""
    li = load_table(spark, SF_DIR, "lineitem")
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "linear")
    _z_sorted(li, 32).write.parquet(zdir)
    (
        li.repartitionByRange(32, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(ldir)
    )
    # box on the SECOND dimension only — the 1-D layout can't skip on it
    smax = li.agg(F.max("l_suppkey")).first()[0]
    box = {"l_suppkey": (1, max(1, smax // 16))}
    zt, ztot = zo.row_groups_touched(zdir, box)
    lt, ltot = zo.row_groups_touched(ldir, box)
    assert ztot >= 16 and ltot >= 16  # enough granularity to mean anything
    z_frac, l_frac = zt / ztot, lt / ltot
    assert l_frac > 0.9, (lt, ltot)  # 1-D sort: stats useless for dim 2
    assert z_frac < 0.6 * l_frac, (zt, ztot, lt, ltot)
    # and a 2-D box prunes on both dimensions at once
    pmax = li.agg(F.max("l_partkey")).first()[0]
    box2 = {"l_partkey": (1, max(1, pmax // 8)), "l_suppkey": (1, max(1, smax // 8))}
    zt2, _ = zo.row_groups_touched(zdir, box2)
    assert zt2 / ztot < 0.5, (zt2, ztot)
    # layout is answer-invariant
    q = lambda d: (
        spark.read.parquet(d)
        .filter(F.col("l_suppkey") <= box["l_suppkey"][1])
        .agg(F.count(F.lit(1)), F.sum("l_quantity"))
        .first()
    )
    assert q(zdir) == q(ldir)


def test_zorder_box_filters_reach_scan(spark, tmp_path, monkeypatch):
    """Serving plan: both box predicates push to the z-layout parquet scan."""
    import io
    from contextlib import redirect_stdout

    import olap_sus_spark.queries  # noqa: F401
    from olap_sus_spark.registry import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    df = QUERIES["zorder_box_revenue"](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThanOrEqual(l_partkey,20)" in ln and "LessThanOrEqual(l_suppkey,7)" in ln
        for ln in pushed
    ), pushed


def test_zorder_maintained_copy_is_cached_and_stale_safe(spark, tmp_path, monkeypatch):
    """A second serve of an unchanged corpus reads the published months
    (no file rewritten); a corpus identity change rebuilds the layout
    under the new stamp."""
    import shutil

    from olap_sus_spark.operators.index_store import corpus_stamp
    from olap_sus_spark.operators.maintained import read_marker

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    dst = os.path.join(sf, "lineitem.parquet")
    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), dst)
    keys = ("lineitem", "l_partkey", "l_suppkey", "l_shipdate")
    path = zo.zorder_monthly_path(sf, *keys)

    def month_files():
        return {
            os.path.join(e, f): os.path.getmtime(os.path.join(path, e, f))
            for e in os.listdir(path)
            if e.startswith("mes_dt=")
            for f in os.listdir(os.path.join(path, e))
            if f.endswith(".parquet")
        }

    n = zo.load_or_build_zorder_monthly(spark, sf, *keys).count()
    built = month_files()
    assert built
    assert zo.load_or_build_zorder_monthly(spark, sf, *keys).count() == n
    assert month_files() == built  # served, not rebuilt
    # corpus change -> stale stamp -> full rebuild, stamped current
    old_stamp = read_marker(path)
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert zo.load_or_build_zorder_monthly(spark, sf, *keys).count() == n
    assert read_marker(path) == corpus_stamp(sf, "lineitem") != old_stamp
    assert month_files() != built


def test_zorder_per_partition_layout(spark, tmp_path):
    """The maintenance-boundary claim: the Morton key works per ingest
    partition (a month loop — how production re-layouts at compaction), so
    a month+box probe prunes row groups within one month too.  That the
    composed months answer box queries like the raw table is
    test_zorder_monthly_is_a_permutation_of_the_facts."""
    li = load_table(spark, SF_DIR, "lineitem")
    m0 = li.agg(F.min(F.date_format("l_shipdate", "yyyy-MM"))).first()[0]
    mdir = str(tmp_path / f"mes={m0}")
    _z_sorted(li.filter(F.date_format("l_shipdate", "yyyy-MM") == m0), 4).write.parquet(
        mdir
    )
    smax = li.agg(F.max("l_suppkey")).first()[0]
    t, tot = zo.row_groups_touched(mdir, {"l_suppkey": (1, max(1, smax // 8))})
    assert tot >= 4 and t < tot, (t, tot)


# ---------------------------------------------------------------------------
# Monthly MAINTAINED z-layout (round 7): the fact lake's default layout.
# ---------------------------------------------------------------------------
def _multiset(df):
    """Order-insensitive content signature over the fact columns."""
    cols = sorted(c for c in df.columns if c != "mes_dt")
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()


def test_zorder_monthly_is_a_permutation_of_the_facts(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix"))
    zl = zo.load_or_build_zorder_monthly(
        spark, SF_DIR, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    li = load_table(spark, SF_DIR, "lineitem")
    assert "mes_dt" in zl.columns and "_z" not in zl.columns
    assert _multiset(zl) == _multiset(li)
    # box answers are layout-invariant
    box = F.col("l_partkey").between(20, 80) & F.col("l_suppkey").between(2, 7)
    q = lambda d: d.filter(box).agg(F.count(F.lit(1)), F.sum("l_quantity")).first()
    assert q(zl) == q(li)
    # the Morton domain is persisted next to the layout for O(month) refresh
    path = zo.zorder_monthly_path(SF_DIR, "lineitem", "l_partkey", "l_suppkey", "l_shipdate")
    assert zo._read_domain(path) is not None


def test_zorder_monthly_refresh_is_month_scoped_and_equals_rebuild(
    spark, tmp_path, monkeypatch
):
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(
        os.path.join(SF_DIR, "lineitem.parquet"), os.path.join(sf, "lineitem.parquet")
    )
    zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    path = zo.zorder_monthly_path(sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate")
    dom0 = zo._read_domain(path)
    before = {}  # per-month file identities — refresh must not touch other months
    for entry in os.listdir(path):
        if entry.startswith("mes_dt="):
            d = os.path.join(path, entry)
            before[entry] = {
                (f, os.path.getmtime(os.path.join(d, f)), os.stat(os.path.join(d, f)).st_ino)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

    # append one day of rows with an OUT-OF-DOMAIN partkey (clamps, never corrupts)
    li = load_table(spark, sf, "lineitem")
    day = str(li.select(F.to_date("l_shipdate").alias("d")).orderBy("d").first()[0])
    extra = li.filter(F.to_date("l_shipdate") == day).withColumn(
        "l_partkey", F.col("l_partkey") + F.lit(int(dom0[1]) + 1000)
    )
    staged = str(tmp_path / "new.parquet")
    li.unionByName(extra).write.mode("overwrite").parquet(staged)
    trash = os.path.join(sf, "lineitem.parquet.trash")
    shutil.move(os.path.join(sf, "lineitem.parquet"), trash)
    shutil.move(staged, os.path.join(sf, "lineitem.parquet"))
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.exists(trash):
        os.remove(trash)

    zo.refresh_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate", [day]
    )
    # domain reused (NOT re-derived from the grown corpus) → refresh O(month)
    assert zo._read_domain(path) == dom0
    month = day[:7]
    for entry, files in before.items():
        d = os.path.join(path, entry)
        now = {
            (f, os.path.getmtime(os.path.join(d, f)), os.stat(os.path.join(d, f)).st_ino)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
        if entry == f"mes_dt={month}":
            assert now != files  # the touched month WAS rewritten
        else:
            assert now == files, entry  # every other month untouched

    served = zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix_fresh"))
    fresh = zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    assert _multiset(served) == _multiset(fresh)
    assert _multiset(served) == _multiset(load_table(spark, sf, "lineitem"))


def test_zorder_monthly_domain_drift_triggers_full_relayout(
    spark, tmp_path, monkeypatch
):
    """VERDICT r07 #4: when the refreshed months' keys have drifted OUTSIDE
    the stored Morton domain (escape fraction > ESCAPE_REBUILD_FRACTION),
    the refresh must retire the domain and rebuild the whole layout with a
    freshly derived one — clamped keys all land on the edge cells, so the
    old domain can no longer prune inside those months."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(
        os.path.join(SF_DIR, "lineitem.parquet"), os.path.join(sf, "lineitem.parquet")
    )
    zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    path = zo.zorder_monthly_path(sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate")
    dom0 = zo._read_domain(path)
    assert dom0 is not None

    # a WHOLE NEW MONTH lands 2x outside the stored domain in both keys
    # (monotone id growth — the canonical drift shape): escape fraction of
    # the refreshed month is 1.0, far past the trigger
    li = load_table(spark, sf, "lineitem")
    max_day = li.agg(F.max(F.to_date("l_shipdate"))).first()[0]
    shift_x, shift_y = 2 * int(dom0[1]), 2 * int(dom0[3])
    extra = (
        li.limit(500)
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(shift_x))
        .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(shift_y))
        .withColumn("l_shipdate", F.lit(str(max_day)).cast("date") + F.expr("INTERVAL 60 DAYS"))
    )
    new_day = str(extra.select(F.to_date("l_shipdate").alias("d")).first()[0])
    staged = str(tmp_path / "new.parquet")
    li.unionByName(extra).write.mode("overwrite").parquet(staged)
    os.remove(os.path.join(sf, "lineitem.parquet"))
    shutil.move(staged, os.path.join(sf, "lineitem.parquet"))

    zo.refresh_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate", [new_day]
    )
    dom1 = zo._read_domain(path)
    # the trigger fired: domain re-derived, now covering the drifted keys
    assert dom1 != dom0
    assert dom1[1] >= int(dom0[1]) + shift_x and dom1[3] >= int(dom0[3]) + shift_y
    # the rebuilt layout is the full corpus and is stamped current
    from olap_sus_spark.operators.index_store import corpus_stamp
    from olap_sus_spark.operators.maintained import read_marker

    assert read_marker(path) == corpus_stamp(sf, "lineitem")
    served = zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    assert _multiset(served) == _multiset(load_table(spark, sf, "lineitem"))


def test_zorder_monthly_small_escape_keeps_domain(spark, tmp_path, monkeypatch):
    """Below the trigger the stored domain is REUSED (O(month) refresh):
    a few clamped rows bloat the edge cells but in-domain boxes keep their
    pruning — re-deriving per refresh would make every dated ingest pay a
    full-table scan."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "ix"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(
        os.path.join(SF_DIR, "lineitem.parquet"), os.path.join(sf, "lineitem.parquet")
    )
    zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    path = zo.zorder_monthly_path(sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate")
    dom0 = zo._read_domain(path)

    li = load_table(spark, sf, "lineitem")
    day = str(li.select(F.to_date("l_shipdate").alias("d")).orderBy("d").first()[0])
    month_rows = li.filter(F.date_format("l_shipdate", "yyyy-MM") == day[:7]).count()
    n_escape = max(1, int(month_rows * 0.05))  # 5% of the month escapes
    extra = (
        li.filter(F.to_date("l_shipdate") == day)
        .limit(n_escape)
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(2 * int(dom0[1])))
    )
    staged = str(tmp_path / "new.parquet")
    li.unionByName(extra).write.mode("overwrite").parquet(staged)
    os.remove(os.path.join(sf, "lineitem.parquet"))
    shutil.move(staged, os.path.join(sf, "lineitem.parquet"))

    zo.refresh_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate", [day]
    )
    assert zo._read_domain(path) == dom0  # domain kept: refresh stayed O(month)
    served = zo.load_or_build_zorder_monthly(
        spark, sf, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    assert _multiset(served) == _multiset(load_table(spark, sf, "lineitem"))


def test_monthly_domain_of_empty_table(spark, tmp_path):
    """An empty table yields the degenerate [0,0,0,0] domain
    (scale_to_bits clamps everything to 0) instead of int(None)."""
    sf_dir = str(tmp_path)
    spark.createDataFrame([], "l_partkey long, l_suppkey long, l_shipdate date").write.parquet(
        os.path.join(sf_dir, "lineitem.parquet")
    )
    bounds = zo._domain(load_table(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey")
    assert bounds == [0, 0, 0, 0]
