"""factObitos over a dimCausa that holds only its sentinel member: every
cause maps to key 0 instead of the fact build failing on an empty literal
array."""

from __future__ import annotations

from pyspark.sql import functions as F

from olap_sus_spark import etl
from tests.test_etl_e2e import DT, LANDING, SEEDS


def test_fact_obitos_with_sentinel_only_dim_causa(spark, tmp_path):
    from olap_sus_spark.operators.facts import build_fact_obitos
    from olap_sus_spark.operators.transforms import transform_sim
    from olap_sus_spark.sources.raw_csv import read_dataset

    wh = str(tmp_path / "wh")
    etl.bootstrap_warehouse(spark, SEEDS, wh)
    dims = etl.load_dims(spark, wh)
    deaths = transform_sim(read_dataset(spark, LANDING, "sim", DT))
    full_fact, _ = build_fact_obitos(deaths, dims)

    dims["dim_causa"] = dims["dim_causa"].filter(F.col("chave_causa") == 0)
    assert dims["dim_causa"].count() == 1
    fact, bridge = build_fact_obitos(deaths, dims)

    keys = {r[0] for r in bridge.select("chave_causa").distinct().collect()}
    assert keys == {0}
    total = F.sum("quantidade_obitos")
    assert fact.agg(total).first()[0] == full_fact.agg(total).first()[0]
