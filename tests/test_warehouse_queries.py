"""Golden tests for the reference OLAP query surface over the engine's own
warehouse (queries/warehouse.py), pinned to hand-computed values on the
tests/fixtures ETL output.

Fixture facts (see tests/fixtures/landing/*): 5 valid births (2 identical),
4 valid deaths (2 identical), 2024-01-15.
"""

from __future__ import annotations

import pytest

from olap_sus_spark import etl
from olap_sus_spark.queries import warehouse as W
from tests.test_etl_e2e import DT, LANDING, SEEDS


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wh_queries"))
    etl.bootstrap_warehouse(spark, SEEDS, d)
    etl.run_ingest(spark, "sinasc", DT, LANDING, d)
    etl.run_ingest(spark, "sim", DT, LANDING, d)
    etl.run_ingest(spark, "sih", DT, LANDING, d)
    return d


def test_rollup_births_by_state_age(spark, wh):
    got = {
        (r.estado, r.faixa_etaria): r.quantidade_nascimentos
        for r in W.rollup_births_by_state_age(spark, wh).collect()
    }
    assert got == {
        ("São Paulo", "21 a 25 anos"): 2,   # age-25 twins, São Paulo
        ("São Paulo", "16 a 20 anos"): 1,   # age 17, Rio Claro
        ("São Paulo", "Ignorado"): 1,       # blank age, São Paulo
        ("Ignorado", "41 a 45 anos"): 1,    # unknown birth municipality
    }


def test_rollup_deaths_by_occupation_schooling(spark, wh):
    got = {
        (r.descricao_familia, r.escolaridade): r.quantidade_obitos
        for r in W.rollup_deaths_by_occupation_schooling(spark, wh).collect()
    }
    assert got == {
        ("Enfermeiros e afins", "4 a 7 anos"): 2,  # ESC '3'
        ("Ignorado", "1 a 3 anos"): 1,             # unknown CBO, ESC '2'
        ("Ignorado", "Ignorado"): 1,               # blank CBO, ESC '9'
    }


def test_slice_dice_deaths(spark, wh):
    rows = W.slice_dice_deaths(spark, wh, "São Paulo", 2024, 2024).collect()
    assert [(r.mes, r.ano, r.numero_mes, r.quantidade_obitos) for r in rows] == [
        ("Janeiro", 2024, 1, 2)
    ]
    # year range excluding the data -> empty
    assert W.slice_dice_deaths(spark, wh, "São Paulo", 2020, 2023).count() == 0


def test_pivot_deaths_year_by_uf(spark, wh):
    rows = W.pivot_deaths_year_by_uf(spark, wh).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["ano"] == 2024
    assert r["SP"] == 3      # São Paulo x2 + Rio Claro x1 (residence)
    assert r["IG"] == 1      # blank residence -> sentinel UF
    assert r.get("BA") is None  # no deaths in Bahia


def test_drill_across_growth_all(spark, wh):
    got = {
        (r.ano, r.municipio): (r.nascimentos, r.obitos, r.crescimento_natural)
        for r in W.drill_across_growth(spark, wh).collect()
    }
    assert got[(2024, "São Paulo")] == (2, 2, 0)
    assert got[(2024, "Araraquara")] == (1, 0, 1)
    assert got[(2024, "Salvador")] == (1, 0, 1)
    assert got[(2024, "Rio Claro")] == (0, 1, -1)
    assert got[(2024, "Ignorado")] == (1, 1, 0)


def test_drill_across_growth_health_regions(spark, wh):
    regions = ["Coração do DRS III", "Central do DRS III", "Rio Claro"]
    got = {
        (r.ano, r.municipio): (r.nascimentos, r.obitos)
        for r in W.drill_across_growth(spark, wh, regions).collect()
    }
    assert got == {
        (2024, "Araraquara"): (1, 0),
        (2024, "Rio Claro"): (0, 1),
    }


def _broadcasts_over(df, table: str) -> int:
    """BroadcastExchange nodes over a scan of ``table`` in ``df``'s
    executed (final adaptive) plan; a ReusedExchange does not count."""

    def kids(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def scans(node) -> bool:
        if node.nodeName().startswith("Scan"):
            return f"/{table}]" in node.toString()
        return any(scans(k) for k in kids(node))

    def walk(node) -> int:
        own = node.nodeName() == "BroadcastExchange" and scans(node)
        return own + sum(walk(k) for k in kids(node))

    return walk(df._jdf.queryExecution().executedPlan())


def test_drill_across_growth_broadcasts_dim_data_once(spark, wh):
    """Births and deaths join the same dim_data frame, so the executed plan
    builds its broadcast once and the deaths branch reuses it."""
    df = W.drill_across_growth(spark, wh)
    df.collect()
    assert _broadcasts_over(df, "dim_data") == 1
    assert _broadcasts_over(df, "dim_municipio") == 1


def test_topk_causes_per_family(spark, wh):
    rows = W.topk_causes_per_family(spark, wh, k=10).collect()
    got = {
        (r.descricao_familia, r.descricao_causa): (r.quantidade_obitos, r.ranking)
        for r in rows
    }
    # primary causes only (ordem 1): I219 for the nurse pair, X999 for the
    # unknown-occupation death; the cause-less death maps to '0000' which is
    # excluded.
    assert got == {
        ("Enfermeiros e afins", "Infarto agudo do miocárdio, não especificado"): (2, 1),
        ("Ignorado", "Agressão por meios não especificados"): (1, 1),
    }


def test_rollup_cost_by_cause_chapter(spark, wh):
    from decimal import Decimal

    got = {
        r.capitulo: (r.valor_total, r.quantidade_procedimentos)
        for r in W.rollup_cost_by_cause_chapter(spark, wh).collect()
    }
    assert got == {
        "IX": (Decimal("2000.75"), 5),     # I219 pair, merged grain
        "X": (Decimal("320.10"), 1),       # J189 open stay
        "Ignorado": (Decimal("89.90"), 1),  # unknown cause -> sentinel
    }


def test_stay_cost_by_municipality(spark, wh):
    from decimal import Decimal

    got = {
        (r.nome_municipio, r.estado): (
            r.valor_total, r.media_permanencia_dias, r.quantidade_procedimentos
        )
        for r in W.stay_cost_by_municipality(spark, wh).collect()
    }
    # open stay (Rio Claro) excluded; unknown municipality -> 'Ignorado'.
    assert got == {
        ("São Paulo", "São Paulo"): (Decimal("2000.75"), 5.0, 5),
        ("Ignorado", "Ignorado"): (Decimal("89.90"), 1.0, 1),
    }
