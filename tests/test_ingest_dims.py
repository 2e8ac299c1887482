"""Ingest-side plan and session hygiene: every warehouse table reads by
its declared schema without a Spark job (the dashboard queries build with
none but the pivot's category job), the SIM cause lookup is one plan node
whatever dimCausa's size, an empty fact's view keeps its types across the
first ingest, the fact sink leaves the session's overwrite mode alone, and
a re-run day that comes out empty stops serving its old rows."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from olap_sus_spark import etl, schemas
from olap_sus_spark.operators.facts import build_fact_obitos
from olap_sus_spark.operators.transforms import transform_sim
from olap_sus_spark.queries import warehouse as W
from olap_sus_spark.sources import formats, sinks
from olap_sus_spark.sources.raw_csv import read_dataset
from tests.conftest import count_jobs
from tests.test_etl_e2e import DT, LANDING, SEEDS


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wh_dims"))
    etl.bootstrap_warehouse(spark, SEEDS, d)
    return d


@pytest.fixture(scope="module")
def full_wh(spark, tmp_path_factory):
    """Every warehouse table written: one day of each dataset and both
    aggregates."""
    d = str(tmp_path_factory.mktemp("wh_full"))
    etl.bootstrap_warehouse(spark, SEEDS, d)
    for ds in etl.DATASETS:
        etl.run_ingest(spark, ds, DT, LANDING, d)
    for agg in etl.AGGREGATES:
        etl.refresh_aggregate(spark, d, agg, dates=[DT])
    return d


def _types(df) -> list[tuple[str, object]]:
    # Parquet reads every column back nullable: compare names and types.
    return [(f.name, f.dataType) for f in df.schema]


def test_load_dims_runs_no_spark_job(spark, wh):
    assert count_jobs(spark, "test_load_dims", lambda: etl.load_dims(spark, wh)) == 0


def test_declared_dim_schemas_equal_bootstrapped(spark, full_wh):
    """Every declared warehouse schema equals what the engine writes."""
    assert tuple(schemas.DIMENSIONS) == etl.DIM_TABLES
    assert set(schemas.WAREHOUSE) == {
        *etl.DIM_TABLES, *etl.FACT_TABLES, etl.BRIDGE_TABLE, *etl.AGGREGATES}
    for t in schemas.WAREHOUSE:
        inferred = spark.read.parquet(os.path.join(full_wh, t))
        assert _types(schemas.read_table(spark, full_wh, t)) == _types(inferred), t


def test_dashboard_queries_build_without_spark_jobs(spark, full_wh):
    """Building a dashboard query runs no Spark job (tables are read by
    declared schema); the pivot runs exactly one, for its category list."""
    builds = {
        "rollup_occupation": lambda: W.rollup_deaths_by_occupation_schooling(spark, full_wh),
        "rollup_births": lambda: W.rollup_births_by_state_age(spark, full_wh),
        "slice_dice": lambda: W.slice_dice_deaths(spark, full_wh, "São Paulo", 2020, 2024),
        "pivot": lambda: W.pivot_deaths_year_by_uf(spark, full_wh),
        "drill_across": lambda: W.drill_across_growth(spark, full_wh, ["Grande São Paulo"]),
        "topk": lambda: W.topk_causes_per_family(spark, full_wh, 3),
        "rollup_cost": lambda: W.rollup_cost_by_cause_chapter(spark, full_wh),
        "stay_cost": lambda: W.stay_cost_by_municipality(spark, full_wh),
        **{agg: (lambda a=agg: etl.read_aggregate(spark, full_wh, a)) for agg in etl.AGGREGATES},
    }
    got = {name: count_jobs(spark, f"test_construct_{name}", b) for name, b in builds.items()}
    assert got == {name: int(name == "pivot") for name in builds}


def test_pivot_categories_sort_as_spark_orders(spark):
    values = ["Z", None, "É", "A"]
    spark_order = [
        r.v for r in spark.createDataFrame([(v,) for v in values], "v string")
        .orderBy("v").collect()
    ]
    assert sorted(values, key=W.orderby_key) == spark_order == [None, "A", "Z", "É"]


def _expression_nodes(df) -> int:
    """Expression nodes in ``df``'s analyzed plan, walked over py4j."""

    def expr(e) -> int:
        kids = e.children()
        return 1 + sum(expr(kids.apply(i)) for i in range(kids.size()))

    def plan(p) -> int:
        exprs, kids = p.expressions(), p.children()
        return sum(expr(exprs.apply(i)) for i in range(exprs.size())) + sum(
            plan(kids.apply(i)) for i in range(kids.size())
        )

    return plan(df._jdf.queryExecution().analyzed())


def test_cause_lookup_plan_size_is_independent_of_dim_causa(spark, wh):
    """dimCausa enters the SIM fact plan as one literal: 12,000 more codes
    add no expression node."""
    dims = etl.load_dims(spark, wh)
    deaths = transform_sim(read_dataset(spark, LANDING, "sim", DT))
    extra = spark.range(12000).select(
        F.format_string("Z%05d", "id").alias("codigo_cid10"),
        (F.col("id") + 100000).cast("int").alias("chave_causa"),
    )
    big = dict(dims, dim_causa=dims["dim_causa"].unionByName(extra, allowMissingColumns=True))
    small_fact, _ = build_fact_obitos(deaths, dims)
    big_fact, _ = build_fact_obitos(deaths, big)
    assert _expression_nodes(big_fact) == _expression_nodes(small_fact)


def test_empty_fact_view_types_survive_first_ingest(spark, wh):
    """A never-ingested fact reads with the column types it has once its
    first ``dt=`` partition lands (``dt`` is inferred as DATE)."""

    def types():
        return _types(schemas.read_table(spark, wh, "fact_internacoes"))

    before = types()
    etl.run_ingest(spark, "sih", DT, LANDING, wh)
    assert types() == before


def test_fact_sink_leaves_session_overwrite_mode_static(spark, tmp_path):
    """The fact sink overwrites one dt partition per write, and a later full
    partitioned overwrite in the same session still drops every partition
    absent from its frame."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    fact = spark.createDataFrame([(1,)], "v int")
    sinks.write_fact_partition(fact, str(tmp_path), "fact", "2024-01-01")
    sinks.write_fact_partition(fact, str(tmp_path), "fact", "2024-01-02")
    assert sorted(p for p in os.listdir(tmp_path / "fact") if p.startswith("dt=")) == [
        "dt=2024-01-01", "dt=2024-01-02"]
    assert spark.conf.get(key) == before

    path = str(tmp_path / "t")
    formats.write_table(spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int"),
                        path, partition_by=["p"])
    formats.write_table(spark.createDataFrame([("a", 3)], "p string, v int"),
                        path, partition_by=["p"])
    assert sorted(p for p in os.listdir(path) if p.startswith("p=")) == ["p=a"]


def test_empty_rerun_day_drops_fact_and_aggregate_partitions(spark, tmp_path):
    """Re-landing the SIM day with every death date unresolvable leaves the
    day with no fact row: the re-run drops its ``dt=`` partition from the
    fact and from the aggregate, the emptied fact reads as the typed empty
    fact, and the aggregate, every day of it dropped, serves zero rows (a
    never-built aggregate still raises)."""
    wh = str(tmp_path / "wh")
    etl.bootstrap_warehouse(spark, SEEDS, wh)
    etl.run_ingest(spark, "sim", DT, LANDING, wh)
    etl.refresh_aggregate(spark, wh, "agg_obitos_uf_ano")

    def day_rows(table):
        return schemas.read_table(spark, wh, table).filter(F.col("dt") == DT).count()

    assert day_rows("fact_obitos") > 0 and day_rows("agg_obitos_uf_ano") > 0
    types = _types(schemas.read_table(spark, wh, "fact_obitos"))
    served = _types(etl.read_aggregate(spark, wh, "agg_obitos_uf_ano"))

    relanded = str(tmp_path / "landing")
    shutil.copytree(os.path.join(LANDING, "sim"), os.path.join(relanded, "sim"))
    csv = os.path.join(relanded, "sim", f"dt={DT}", "part-0.csv")
    with open(csv) as f:
        header, *rows = f.read().splitlines()
    with open(csv, "w") as f:
        f.write("\n".join([header] + ["99999999" + r[r.index(";"):] for r in rows]) + "\n")
    etl.run_ingest(spark, "sim", DT, relanded, wh)
    etl.refresh_aggregate(spark, wh, "agg_obitos_uf_ano", dates=[DT])

    assert day_rows("fact_obitos") == 0
    assert not os.path.exists(os.path.join(wh, "agg_obitos_uf_ano", f"dt={DT}"))
    assert _types(schemas.read_table(spark, wh, "fact_obitos")) == types
    emptied = etl.read_aggregate(spark, wh, "agg_obitos_uf_ano")
    assert emptied.count() == 0 and _types(emptied) == served
    with pytest.raises(AnalysisException):
        etl.read_aggregate(spark, wh, "agg_nascimentos_uf_ano")
