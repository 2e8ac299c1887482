"""Batch ingest orchestration — the engine's equivalent of the reference's
Airflow DAG + spark-submit scripts (/root/reference/dags/spark_dag.py:48-78).

One plain function per concern, no scheduler: incrementality stays
partition-based (``dt=YYYY-MM-DD`` landing folders in, ``dt=`` fact
partitions out).  Re-running a (dataset, date) pair is idempotent: a fact
day and its aggregate partials are staged and swapped in by
index_store.publish_partitions (a re-run whose day came out empty drops
it), bridge rows are content-keyed and anti-joined (sources/sinks.py).
The warehouse is a local directory.

Typical use::

    warehouse = bootstrap_warehouse(spark, seed_paths, warehouse_dir)
    run_ingest(spark, "sinasc", "2024-01-15", landing_dir, warehouse_dir)
    run_ingest(spark, "sim", "2024-01-15", landing_dir, warehouse_dir)
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark import schemas
from olap_sus_spark.operators import facts as facts_ops
from olap_sus_spark.operators.dims import ALL_GENERATED
from olap_sus_spark.operators.transforms import (
    transform_sih,
    transform_sim,
    transform_sinasc,
)
from olap_sus_spark.sources import seeds, sinks
from olap_sus_spark.sources.raw_csv import read_dataset

DIM_TABLES = tuple(schemas.DIMENSIONS)
BRIDGE_TABLE = "ponte_grupo_causas"


@dataclass(frozen=True)
class Dataset:
    """One landing dataset: its raw→clean ``transform``, the ``build``
    that turns clean rows + dims into its fact (and, with ``bridge``, the
    cause-group bridge rows), and the fact table it lands in (its schema
    is ``schemas.FACTS[fact_table]``)."""

    transform: Callable[[DataFrame], DataFrame]
    build: Callable[[DataFrame, dict[str, DataFrame]], object]
    fact_table: str
    bridge: bool


# The transforms and builders are looked up at call time, so whatever
# wraps the module attributes (tracing) sees every call.
DATASETS = {
    "sinasc": Dataset(
        lambda raw: transform_sinasc(raw),
        lambda clean, dims: facts_ops.build_fact_nascimentos(clean, dims),
        "fact_nascimentos", False,
    ),
    "sim": Dataset(
        lambda raw: transform_sim(raw),
        lambda clean, dims: facts_ops.build_fact_obitos(clean, dims),
        "fact_obitos", True,
    ),
    "sih": Dataset(
        lambda raw: transform_sih(raw),
        lambda clean, dims: facts_ops.build_fact_internacoes(clean, dims),
        "fact_internacoes", False,
    ),
}
FACT_TABLES = tuple(d.fact_table for d in DATASETS.values())


def get_dataset(name: str) -> Dataset:
    try:
        return DATASETS[name]
    except KeyError:
        raise ValueError(
            f"unknown dataset {name!r} (expected one of {sorted(DATASETS)})"
        ) from None


def bootstrap_warehouse(
    spark: SparkSession, seed_paths: dict[str, str], warehouse_dir: str
) -> dict[str, DataFrame]:
    """One-time dimension bootstrap (reference init.sql, SURVEY.md §3 EP3):
    generate the calendar/junk dimensions, load the three seed CSVs, write
    everything as Parquet.  ``seed_paths`` maps
    {'municipio','ocupacao','causa'} -> seed CSV path."""
    dims: dict[str, DataFrame] = {name: fn(spark) for name, fn in ALL_GENERATED.items()}
    dims["dim_municipio"] = seeds.load_dim_municipio(spark, seed_paths["municipio"])
    dims["dim_ocupacao"] = seeds.load_dim_ocupacao(spark, seed_paths["ocupacao"])
    dims["dim_causa"] = seeds.load_dim_causa(spark, seed_paths["causa"])
    for name, df in dims.items():
        sinks.write_dimension(df, warehouse_dir, name)
    # Bridge sentinel group: id '0' containing only the sentinel cause, so
    # star joins through the bridge keep cause-less deaths (init.sql:585-652
    # key-0 convention).
    sentinel = spark.createDataFrame(
        [(facts_ops.BRIDGE_SENTINEL, 1, 0)], schemas.PONTE_GRUPO_CAUSAS
    )
    sentinel.write.mode("overwrite").parquet(posixpath.join(warehouse_dir, BRIDGE_TABLE))
    return dims


def load_dims(spark: SparkSession, warehouse_dir: str) -> dict[str, DataFrame]:
    """The seven dimensions, read by their declared schemas: no Spark job
    (an undeclared Parquet read runs one per table to infer the schema)."""
    return {t: schemas.read_table(spark, warehouse_dir, t) for t in DIM_TABLES}


def run_ingest(
    spark: SparkSession,
    dataset: str,
    date: str,
    landing_dir: str,
    warehouse_dir: str,
) -> DataFrame:
    """Ingest one (dataset, date) landing partition into the warehouse.

    Replaces one SparkSubmitOperator run.  Unlike the reference, which loops
    over files in Python (spark_script_sinasc.py:188) and re-reads the dims
    per file, this reads the whole partition in one scan and builds one plan.
    Returns the aggregated fact written (for logging/inspection).
    """
    ds = get_dataset(dataset)
    raw = read_dataset(spark, landing_dir, dataset, date)
    return write_day(ds, raw, load_dims(spark, warehouse_dir), warehouse_dir, date)


def write_day(
    ds: Dataset, raw: DataFrame, dims: dict[str, DataFrame], warehouse_dir: str, date: str
) -> DataFrame:
    """Transform one day's raw rows, build the fact and write it as the
    ``dt=<date>`` partition; returns the fact."""
    fact = ds.build(ds.transform(raw), dims)
    if ds.bridge:
        fact, bridge = fact
        # Bridge first (reference order, sim:239 before :402): groups must
        # exist before facts referencing them are visible.
        sinks.append_bridge(bridge, warehouse_dir, BRIDGE_TABLE)
    sinks.write_fact_partition(fact, warehouse_dir, ds.fact_table, date)
    return fact


def refresh_aggregates_of(
    spark: SparkSession, warehouse_dir: str, fact_table: str, dates: list[str]
) -> None:
    """Refresh, for ``dates``, every maintained aggregate over ``fact_table``."""
    for agg, (ft, _, _, _) in AGGREGATES.items():
        if ft == fact_table:
            refresh_aggregate(spark, warehouse_dir, agg, dates=dates)


def run_backfill(
    spark: SparkSession,
    dataset: str,
    start_date: str,
    end_date: str,
    landing_dir: str,
    warehouse_dir: str,
    refresh_aggregates: bool = True,
) -> list[str]:
    """Catch-up ingest over a date window — the engine's analogue of the
    reference DAG's ``catchup=True`` backfill (spark_dag.py:48-78: Airflow
    replays one ``@daily`` task per missed day).

    Walks ``[start_date, end_date]`` inclusive, ingesting every day whose
    landing partition exists (days with no drop are skipped, like an Airflow
    run over an empty source prefix).  The no-drop decision is an explicit
    glob of the day's landing path BEFORE the ingest — never inferred from
    ingest exception text, so a real failure inside run_ingest (missing
    warehouse dim, bad data) always propagates instead of silently skipping
    a day that had data.  Where Airflow pays one full
    aggregate-refresh per replayed day, the backfill refreshes each
    maintained aggregate ONCE over all ingested days at the end — by
    additive-partial idempotency (refresh_aggregate) the final warehouse
    state is identical to N single-day runs, pinned by
    tests/test_etl_e2e.py::test_backfill_matches_single_day_ingests.

    Returns the list of dates actually ingested.
    """
    import glob as _glob
    from datetime import date as _date, timedelta

    from olap_sus_spark.sources.raw_csv import landing_glob

    d0, d1 = _date.fromisoformat(start_date), _date.fromisoformat(end_date)
    if d1 < d0:
        raise ValueError(f"end_date {end_date} precedes start_date {start_date}")
    ingested: list[str] = []
    cur = d0
    while cur <= d1:
        day = cur.isoformat()
        if _glob.glob(landing_glob(landing_dir, dataset, day)):
            run_ingest(spark, dataset, day, landing_dir, warehouse_dir)
            ingested.append(day)
        cur += timedelta(days=1)
    if refresh_aggregates and ingested:
        refresh_aggregates_of(spark, warehouse_dir, get_dataset(dataset).fact_table, ingested)
    return ingested


def _agg_nascimentos_uf_ano(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    data = dims["dim_data"].select(F.col("chave_data"), "ano")
    mun = dims["dim_municipio"].select(
        F.col("chave_municipio").alias("chave_municipio_residencia"), "uf"
    )
    return (
        fact.join(F.broadcast(data), "chave_data")
        .join(F.broadcast(mun), "chave_municipio_residencia")
        .groupBy("dt", "uf", "ano")
        .agg(F.sum("quantidade_nascimentos").alias("quantidade_nascimentos"))
    )


def _agg_obitos_uf_ano(fact: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    data = dims["dim_data"].select(F.col("chave_data").alias("chave_data_obito"), "ano")
    mun = dims["dim_municipio"].select(
        F.col("chave_municipio").alias("chave_municipio_residencia"), "uf"
    )
    return (
        fact.join(F.broadcast(data), "chave_data_obito")
        .join(F.broadcast(mun), "chave_municipio_residencia")
        .groupBy("dt", "uf", "ano")
        .agg(F.sum("quantidade_obitos").alias("quantidade_obitos"))
    )


# Maintained aggregate tables:
# name -> (source fact, partial-agg builder, grain keys, additive measure).
# Each measure is ADDITIVE (a sum), so per-dt partials compose: the stored
# table keeps the dt partition column and readers sum across it.
AGGREGATES = {
    "agg_nascimentos_uf_ano": (
        "fact_nascimentos", _agg_nascimentos_uf_ano, ("uf", "ano"), "quantidade_nascimentos",
    ),
    "agg_obitos_uf_ano": (
        "fact_obitos", _agg_obitos_uf_ano, ("uf", "ano"), "quantidade_obitos",
    ),
}


def refresh_aggregate(
    spark: SparkSession,
    warehouse_dir: str,
    name: str,
    dates: list[str] | None = None,
) -> DataFrame:
    """Maintain a pre-aggregated rollup table incrementally by ingest day.

    The scalable warehouse pattern the reference lacks: instead of
    recomputing a summary over the whole fact history after every daily
    ingest, only the ``dt`` partitions just ingested are re-aggregated and
    their partitions of the aggregate table swapped in by
    index_store.publish_partitions — the same idempotency contract as the
    fact sink: a date whose fact day is gone or empty loses its partials.
    ``dates=None`` rewrites every day the fact holds and drops none.  At
    100 TB the daily refresh therefore scans one day, not the decade:
    partition pruning makes refresh cost O(day), and the additive partials
    keep query-time work O(aggregate cardinality).
    """
    from olap_sus_spark.operators.index_store import publish_partitions, staging_path

    fact_table, build, _, _ = AGGREGATES[name]
    path = posixpath.join(warehouse_dir, name)
    if dates is not None and not os.path.exists(path):
        # A dated refresh against a never-built aggregate would create a
        # partial table covering only these dt partitions, which
        # read_aggregate would then serve as if complete — first build must
        # cover the whole fact history (same guard as
        # refresh_daily_revenue's never-built fallback).
        dates = None
    fact = schemas.read_table(spark, warehouse_dir, fact_table)
    if dates is not None:
        fact = fact.filter(F.col("dt").isin(dates))  # partition-pruned scan
    partial = build(fact, load_dims(spark, warehouse_dir))
    staging = staging_path(path)
    partial.write.partitionBy("dt").parquet(staging)
    publish_partitions(staging, path, "dt", scope=dates or ())
    return partial


def read_aggregate(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """Serve a maintained aggregate: sum the per-dt partials.  One whose
    every day was dropped serves zero rows; a never-built one raises."""
    _, _, keys, measure = AGGREGATES[name]
    df = schemas.read_table(spark, warehouse_dir, name)
    return df.groupBy(*keys).agg(F.sum(measure).alias(measure))


def register_warehouse_views(spark: SparkSession, warehouse_dir: str) -> None:
    """Register every warehouse table as a temp view for spark.sql OLAP.

    A fact with no ingested partition yet (e.g. fact_internacoes before any
    'sih' drop) is registered as an empty frame with the declared schema, so
    queries against a fresh warehouse parse and return zero rows instead of
    failing on a missing path."""
    for t in (*DIM_TABLES, *FACT_TABLES, BRIDGE_TABLE):
        if t in FACT_TABLES or os.path.exists(posixpath.join(warehouse_dir, t)):
            schemas.read_table(spark, warehouse_dir, t).createOrReplaceTempView(t)


def register_reference_views(spark: SparkSession, warehouse_dir: str) -> None:
    """Compatibility views with the reference's table and column names
    (/root/reference/scripts/init.sql DDL), so SQL written against the
    reference warehouse runs on this engine unchanged: ``factObitos``,
    ``dimOcupacao``, ``ponteGrupoCausas``, … (Spark view names are
    case-insensitive).  Columns already share names except where the
    reference diverges: dimCausa exposes ``descricao_subcategoria`` /
    ``codigo_cid`` aliases, dimHorario exposes ``tempo``."""

    def load(t: str) -> DataFrame:
        return schemas.read_table(spark, warehouse_dir, t)

    alias_map = {
        "factnascimentos": load("fact_nascimentos"),
        "factobitos": load("fact_obitos"),
        "factinternacoes": load("fact_internacoes"),
        "dimdata": load("dim_data"),
        "dimhorario": load("dim_horario").withColumn("tempo", F.col("tempo_str")),
        "dimmunicipio": load("dim_municipio"),
        "dimocupacao": load("dim_ocupacao"),
        "dimdemografia": load("dim_demografia"),
        "diminfonascimento": load("dim_info_nascimento"),
        "dimcausa": load("dim_causa")
        .withColumn("descricao_subcategoria", F.col("descricao_causa"))
        .withColumn("codigo_cid", F.col("codigo_cid10")),
        "pontegrupocausas": load(BRIDGE_TABLE),
    }
    for name, df in alias_map.items():
        df.createOrReplaceTempView(name)
