"""The shared maintained-partials contract (operators/maintained.py),
proven against a CHANGING corpus for every month-partitioned family: append
new facts to a copied corpus, refresh ONLY the changed day, and the served
answer must equal a from-scratch rebuild over the new facts — plus the
stale-marker safety net (mutate without refresh → serve detects and
rebuilds, never serves stale partials).  The same recipe as
test_incremental_agg's revenue proof, applied to the KMV cube, the CMS
grid, the histogram and the monthly z-layout."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.queries import cms as qcms
from olap_sus_spark.queries import hist as qhist
from olap_sus_spark.queries import sketches as qsk
from olap_sus_spark.sources import zorder as zo
from tests.conftest import SF_DIR

pytestmark = pytest.mark.slow  # hour-scale chain/probe suite: opt-in via -m slow (driver verify window, r11)



def _replace(path: str, new: str) -> None:
    trash = path + ".trash"
    shutil.move(path, trash)
    shutil.move(new, path)
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.exists(trash):
        os.remove(trash)


def _stage_corpus(tmp_path, table: str) -> str:
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    src = os.path.join(SF_DIR, f"{table}.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(
        src, os.path.join(sf, f"{table}.parquet")
    )
    return sf


# (family, fact table, date column, serve fn, refresh fn, append builder)
# The append builder returns extra rows for one existing day; KMV needs NEW
# order keys (duplicated rows would leave the distinct sketch unchanged),
# the additive families just duplicate the day's rows.
def _dup_day(df, datecol, day):
    return df.filter(F.to_date(datecol) == day)


def _shift_orderkeys(df, datecol, day):
    shift = df.agg(F.max("l_orderkey")).first()[0] + 1
    return _dup_day(df, datecol, day).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.lit(shift)
    )


_ZKEYS = ("lineitem", "l_partkey", "l_suppkey", "l_shipdate")

FAMILIES = [
    pytest.param(
        "lineitem",
        "l_shipdate",
        lambda s, sf: qsk.kmv_monthly_distinct_served(s, sf),
        lambda s, sf, d: qsk.refresh_orderkey_kmv(s, sf, [d]),
        _shift_orderkeys,
        id="kmv_cube",
    ),
    pytest.param(
        "lineitem",
        "l_shipdate",
        lambda s, sf: qcms.cms_supplier_counts_served(s, sf),
        lambda s, sf, d: qcms.refresh_supplier_cms(s, sf, [d]),
        _dup_day,
        id="cms_grid",
    ),
    pytest.param(
        "orders",
        "o_orderdate",
        lambda s, sf: qhist.hist_order_value_served(s, sf),
        lambda s, sf, d: qhist.refresh_order_hist(s, sf, [d]),
        _dup_day,
        id="histogram",
    ),
    pytest.param(
        "lineitem",
        "l_shipdate",
        lambda s, sf: zo.load_or_build_zorder_monthly(s, sf, *_ZKEYS),
        lambda s, sf, d: zo.refresh_zorder_monthly(s, sf, *_ZKEYS, [d]),
        _dup_day,
        id="zorder_layout",
    ),
]


def test_daily_close_refreshes_every_summary(spark, tmp_path, monkeypatch):
    """One refresh_fact_summaries call after a day's ingest must bring ALL
    maintained summaries (revenue rollup, KMV cube, CMS grid, histogram)
    in line with a fresh rebuild over the new facts — ingest pipelines call
    this single entry point instead of knowing the summary inventory."""
    from olap_sus_spark.maintenance import refresh_fact_summaries
    from olap_sus_spark.queries import incremental as qinc

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("lineitem", "orders", "supplier"):
        src = os.path.join(SF_DIR, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(
            src, os.path.join(sf, f"{t}.parquet")
        )

    serves = [
        lambda s, d: qinc.incremental_revenue_by_month(s, d),
        lambda s, d: qsk.kmv_monthly_distinct_served(s, d),
        lambda s, d: qcms.cms_supplier_counts_served(s, d),
        lambda s, d: qhist.hist_order_value_served(s, d),
        lambda s, d: qinc.zorder_box_revenue(s, d),
    ]
    for serve in serves:  # build everything against the original corpus
        assert serve(spark, sf).count() > 0

    # ingest one day into BOTH fact tables (new order keys for the sketch)
    li = load_table(spark, sf, "lineitem")
    day = str(li.select(F.to_date("l_shipdate").alias("d")).orderBy("d").first()[0])
    staged = str(tmp_path / "li.parquet")
    li.unionByName(_shift_orderkeys(li, "l_shipdate", day)).write.mode(
        "overwrite"
    ).parquet(staged)
    _replace(os.path.join(sf, "lineitem.parquet"), staged)
    od = load_table(spark, sf, "orders")
    oday = str(od.select(F.to_date("o_orderdate").alias("d")).orderBy("d").first()[0])
    staged2 = str(tmp_path / "od.parquet")
    od.unionByName(_dup_day(od, "o_orderdate", oday)).write.mode("overwrite").parquet(
        staged2
    )
    _replace(os.path.join(sf, "orders.parquet"), staged2)

    assert refresh_fact_summaries(spark, sf, sorted({day, oday})) == [
        "daily_revenue",
        "orderkey_kmv",
        "supplier_cms",
        "order_hist",
        "zorder_lineitem",
    ]
    served = [sorted(tuple(r) for r in serve(spark, sf).collect()) for serve in serves]
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    fresh = [sorted(tuple(r) for r in serve(spark, sf).collect()) for serve in serves]
    assert served == fresh


@pytest.mark.parametrize("table,datecol,serve,refresh,extra_rows", FAMILIES)
def test_append_then_dated_refresh_equals_fresh_rebuild(
    spark, tmp_path, monkeypatch, table, datecol, serve, refresh, extra_rows
):
    # CMS candidate probing needs the supplier dim next to the staged facts
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = _stage_corpus(tmp_path, table)
    if table != "supplier":
        shutil.copy(
            os.path.join(SF_DIR, "supplier.parquet"),
            os.path.join(sf, "supplier.parquet"),
        )

    base = sorted(tuple(r) for r in serve(spark, sf).collect())
    assert base

    facts = load_table(spark, sf, table)
    day = str(facts.select(F.to_date(datecol).alias("d")).orderBy("d").first()[0])
    new_facts = facts.unionByName(extra_rows(facts, datecol, day))
    staged = str(tmp_path / "new.parquet")
    new_facts.write.mode("overwrite").parquet(staged)
    _replace(os.path.join(sf, f"{table}.parquet"), staged)

    # refresh ONLY the changed day → served == fresh rebuild over new facts
    refresh(spark, sf, day)
    served = sorted(tuple(r) for r in serve(spark, sf).collect())
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh"))
    recomputed = sorted(tuple(r) for r in serve(spark, sf).collect())
    assert served == recomputed
    assert served != base  # the appended facts are visible

    # stale-marker safety net: mutate again WITHOUT refresh → serve must
    # detect the stamp mismatch and full-rebuild, never serve stale rows
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    facts2 = load_table(spark, sf, table)
    staged2 = str(tmp_path / "new2.parquet")
    facts2.unionByName(extra_rows(facts2, datecol, day)).write.mode(
        "overwrite"
    ).parquet(staged2)
    _replace(os.path.join(sf, f"{table}.parquet"), staged2)
    served2 = sorted(tuple(r) for r in serve(spark, sf).collect())
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx_fresh2"))
    recomputed2 = sorted(tuple(r) for r in serve(spark, sf).collect())
    assert served2 == recomputed2
