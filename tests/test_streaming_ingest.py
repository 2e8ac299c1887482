"""Streaming ingest (foreachBatch ETL) + multi-day incremental semantics."""

from __future__ import annotations

import os
import shutil

import pytest

from olap_sus_spark import etl
from olap_sus_spark.streaming.ingest import stream_ingest
from tests.test_etl_e2e import DT, LANDING, SEEDS

DT2 = "2024-01-16"


@pytest.fixture()
def env(spark, tmp_path):
    """Mutable copy of the fixture landing zone + a bootstrapped warehouse."""
    landing = str(tmp_path / "landing")
    shutil.copytree(LANDING, landing)
    wh = str(tmp_path / "wh")
    etl.bootstrap_warehouse(spark, SEEDS, wh)
    return landing, wh, str(tmp_path / "ckpt")


def _add_day2(landing: str) -> None:
    src = os.path.join(landing, "sinasc", f"dt={DT}", "part-0.csv")
    dst_dir = os.path.join(landing, "sinasc", f"dt={DT2}")
    os.makedirs(dst_dir)
    with open(src) as f:
        lines = f.read().replace("15012024", "16012024")
    with open(os.path.join(dst_dir, "part-0.csv"), "w") as f:
        f.write(lines)


def _counts_by_dt(spark, wh, table):
    df = spark.read.parquet(os.path.join(wh, table))
    return {
        str(r.dt): r.n
        for r in df.groupBy("dt").sum().withColumnRenamed(
            f"sum(quantidade_nascimentos)", "n"
        ).collect()
    }


def test_stream_ingest_matches_batch(spark, env):
    landing, wh, ckpt = env
    stream_ingest(spark, "sinasc", landing, wh, ckpt + "/sinasc")
    got = _counts_by_dt(spark, wh, "fact_nascimentos")
    assert got == {DT: 5}


def test_stream_ingest_incremental_day2(spark, env):
    landing, wh, ckpt = env
    stream_ingest(spark, "sinasc", landing, wh, ckpt + "/sinasc")
    # Day 2 lands later; the same checkpoint processes ONLY the new files.
    _add_day2(landing)
    stream_ingest(spark, "sinasc", landing, wh, ckpt + "/sinasc")
    got = _counts_by_dt(spark, wh, "fact_nascimentos")
    assert got == {DT: 5, DT2: 5}
    # Re-running with nothing new is a no-op.
    stream_ingest(spark, "sinasc", landing, wh, ckpt + "/sinasc")
    assert _counts_by_dt(spark, wh, "fact_nascimentos") == {DT: 5, DT2: 5}


def test_stream_ingest_sim(spark, env):
    landing, wh, ckpt = env
    stream_ingest(spark, "sim", landing, wh, ckpt + "/sim")
    fact = spark.read.parquet(os.path.join(wh, "fact_obitos"))
    assert sum(r.quantidade_obitos for r in fact.collect()) == 4
    bridge = spark.read.parquet(os.path.join(wh, "ponte_grupo_causas"))
    assert bridge.count() == 5  # sentinel + 3-cause group + 1-cause group


def test_stream_ingest_sih_matches_batch(spark, env, tmp_path):
    """The SIH stream lands the same fact_internacoes rows as batch
    run_ingest over the same landing day."""
    landing, wh, ckpt = env
    stream_ingest(spark, "sih", landing, wh, ckpt + "/sih")
    batch_wh = str(tmp_path / "wh_batch")
    etl.bootstrap_warehouse(spark, SEEDS, batch_wh)
    etl.run_ingest(spark, "sih", DT, landing, batch_wh)

    def rows(w):
        fact = spark.read.parquet(os.path.join(w, "fact_internacoes"))
        return sorted(tuple(r) for r in fact.select(*sorted(fact.columns)).collect())

    got = rows(wh)
    assert got and got == rows(batch_wh)


def test_batch_multiday_reingest_scoped_overwrite(spark, env):
    """Batch path: re-running one day's ingest must not touch other days."""
    landing, wh, _ = env
    _add_day2(landing)
    etl.run_ingest(spark, "sinasc", DT, landing, wh)
    etl.run_ingest(spark, "sinasc", DT2, landing, wh)
    assert _counts_by_dt(spark, wh, "fact_nascimentos") == {DT: 5, DT2: 5}
    etl.run_ingest(spark, "sinasc", DT, landing, wh)  # re-run day 1 only
    assert _counts_by_dt(spark, wh, "fact_nascimentos") == {DT: 5, DT2: 5}


def test_stream_ingest_maintains_aggregates(spark, env):
    """The streaming loop closes ingest→refresh→serve: after the drain,
    every maintained aggregate over the ingested fact serves exactly what a
    full rebuild over the complete fact history would."""
    landing, wh, ckpt = env
    stream_ingest(spark, "sinasc", landing, wh, ckpt + "/sinasc_agg")
    served = sorted(
        tuple(r)
        for r in etl.read_aggregate(spark, wh, "agg_nascimentos_uf_ano").collect()
    )
    assert served
    etl.refresh_aggregate(spark, wh, "agg_nascimentos_uf_ano", dates=None)  # full rebuild
    full = sorted(
        tuple(r)
        for r in etl.read_aggregate(spark, wh, "agg_nascimentos_uf_ano").collect()
    )
    assert served == full
