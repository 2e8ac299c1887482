"""The reference's OLAP query surface over the engine's own warehouse.

These are the six named operations a user of the reference runs today
(SURVEY.md §2.11 — /root/reference/queries/queries-scripts.py,
/root/reference/dashboard/app.py), re-expressed as parameterized DataFrame
pipelines over the Parquet star schema built by olap_sus_spark.etl.  The
TPC-H-recast twins in queries/olap.py carry the DuckDB oracle parity; these
carry the *domain* parity (same tables, same grouping attributes, same
filters as the reference SQL) and are pinned by golden tests on the e2e
fixture warehouse (tests/test_warehouse_queries.py).

Every function takes (spark, warehouse_dir) so it works on any warehouse the
ETL produced; all dims broadcast (≤ ~90k rows), facts prune on their dt=
partitions.  Tables are read by their declared schemas (schemas.read_table),
so building a query runs no Spark job — except the pivot's one category
job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olap_sus_spark.schemas import read_table


def orderby_key(v: str | None) -> tuple[bool, str]:
    """Sort key that orders strings on the driver as Spark's ascending
    ``orderBy`` does: nulls first, then by code point (UTF-8 byte order,
    which Spark compares, is code-point order)."""
    return (v is not None, v or "")


def rollup_deaths_by_occupation_schooling(spark: SparkSession, wh: str) -> DataFrame:
    """ROLL-UP 1 (queries-scripts.py:9-20): deaths by occupation family ×
    schooling."""
    fact = read_table(spark, wh, "fact_obitos")
    ocup = read_table(spark, wh, "dim_ocupacao")
    demog = read_table(spark, wh, "dim_demografia")
    return (
        fact.join(F.broadcast(ocup), "chave_ocupacao")
        .join(F.broadcast(demog), "chave_demografia")
        .groupBy("descricao_familia", "escolaridade")
        .agg(F.sum("quantidade_obitos").alias("quantidade_obitos"))
    )


def rollup_births_by_state_age(spark: SparkSession, wh: str) -> DataFrame:
    """ROLL-UP 2 (queries-scripts.py:29-40): births by state (birth
    municipality) × mother age band."""
    fact = read_table(spark, wh, "fact_nascimentos")
    mun = read_table(spark, wh, "dim_municipio").select(
        F.col("chave_municipio").alias("chave_municipio_nascimento"), "estado"
    )
    demog = read_table(spark, wh, "dim_demografia")
    return (
        fact.join(F.broadcast(mun), "chave_municipio_nascimento")
        .join(F.broadcast(demog), "chave_demografia")
        .groupBy("estado", "faixa_etaria")
        .agg(F.sum("quantidade_nascimentos").alias("quantidade_nascimentos"))
    )


def slice_dice_deaths(
    spark: SparkSession, wh: str, city: str, y0: int, y1: int
) -> DataFrame:
    """SLICE & DICE (dashboard/app.py:84-109): deaths for one residence city
    over a year range, grouped month × year."""
    fact = read_table(spark, wh, "fact_obitos")
    mun = (
        read_table(spark, wh, "dim_municipio")
        .filter(F.col("nome_municipio") == city)
        .select(F.col("chave_municipio").alias("chave_municipio_residencia"))
    )
    data = (
        read_table(spark, wh, "dim_data")
        .filter(F.col("ano").between(y0, y1))
        .select(F.col("chave_data").alias("chave_data_obito"), "mes", "numero_mes", "ano")
    )
    return (
        fact.join(F.broadcast(mun), "chave_municipio_residencia")
        .join(F.broadcast(data), "chave_data_obito")
        .groupBy("mes", "ano", "numero_mes")
        .agg(F.sum("quantidade_obitos").alias("quantidade_obitos"))
        .orderBy("ano", "numero_mes")
    )


def pivot_deaths_year_by_uf(spark: SparkSession, wh: str) -> DataFrame:
    """PIVOT (queries-scripts.py:76-105): deaths, years × UF matrix.

    Dynamic pivot replaces the reference's hardcoded 28-column CROSSTAB; the
    category list is computed from the dimension (same two-query structure
    as CROSSTAB's categories argument) so the column set is stable and
    sorted.
    """
    fact = read_table(spark, wh, "fact_obitos")
    mun = read_table(spark, wh, "dim_municipio").select(
        F.col("chave_municipio").alias("chave_municipio_residencia"), "uf"
    )
    data = read_table(spark, wh, "dim_data").select(
        F.col("chave_data").alias("chave_data_obito"), "ano"
    )
    # One job: a single partition needs no exchange for the distinct.
    ufs = sorted(
        (r.uf for r in mun.select("uf").coalesce(1).distinct().collect()), key=orderby_key
    )
    return (
        fact.join(F.broadcast(mun), "chave_municipio_residencia")
        .join(F.broadcast(data), "chave_data_obito")
        .groupBy("ano")
        .pivot("uf", ufs)
        .sum("quantidade_obitos")
        .orderBy("ano")
    )


def drill_across_growth(
    spark: SparkSession, wh: str, health_regions: list[str] | None = None
) -> DataFrame:
    """DRILL-ACROSS (queries-scripts.py:113-147): births and deaths joined by
    (year, residence municipality), optionally restricted to health regions,
    with COALESCE defaults and the natural-growth derivation (the reference
    computed growth dashboard-side in pandas, dashboard/app.py:277).

    Full-outer + coalesce implements the intent the reference's comment
    documents (queries-scripts.py:117-118) — its INNER join silently dropped
    municipality-years present on only one side.
    """
    mun = read_table(spark, wh, "dim_municipio")
    if health_regions:
        mun = mun.filter(F.col("regiao_saude").isin(*health_regions))
    mun = mun.select(
        F.col("chave_municipio").alias("chave_municipio_residencia"), "nome_municipio"
    )
    data = read_table(spark, wh, "dim_data").select("chave_data", "ano")

    # Both branches join the SAME mun and data frames, so AQE builds each
    # broadcast once and the other branch reuses it (a renamed copy of
    # dim_data would be a second 48k-row broadcast).
    births = (
        read_table(spark, wh, "fact_nascimentos")
        .join(F.broadcast(mun), "chave_municipio_residencia")
        .join(F.broadcast(data), "chave_data")
        .groupBy("ano", "nome_municipio")
        .agg(F.sum("quantidade_nascimentos").alias("nascimentos"))
    )
    obitos = read_table(spark, wh, "fact_obitos")
    deaths = (
        obitos.join(F.broadcast(mun), "chave_municipio_residencia")
        .join(F.broadcast(data), obitos["chave_data_obito"] == data["chave_data"])
        .groupBy("ano", "nome_municipio")
        .agg(F.sum("quantidade_obitos").alias("obitos"))
    )
    joined = births.alias("n").join(
        deaths.alias("o"),
        (F.col("n.ano") == F.col("o.ano")) & (F.col("n.nome_municipio") == F.col("o.nome_municipio")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("n.ano"), F.col("o.ano")).alias("ano"),
        F.coalesce(F.col("n.nome_municipio"), F.col("o.nome_municipio")).alias("municipio"),
        F.coalesce(F.col("nascimentos"), F.lit(0)).alias("nascimentos"),
        F.coalesce(F.col("obitos"), F.lit(0)).alias("obitos"),
        (F.coalesce(F.col("nascimentos"), F.lit(0)) - F.coalesce(F.col("obitos"), F.lit(0))).alias(
            "crescimento_natural"
        ),
    ).orderBy("municipio", "ano")


def topk_causes_per_family(spark: SparkSession, wh: str, k: int = 10) -> DataFrame:
    """TOP-K per group (dashboard/app.py:44-68): top-k primary death causes
    per occupation family — primary cause only (ordem_causa = 1), sentinel
    cause '0000' excluded, ROW_NUMBER ranking with a deterministic
    tie-break."""
    fact = read_table(spark, wh, "fact_obitos")
    ocup = read_table(spark, wh, "dim_ocupacao").select("chave_ocupacao", "descricao_familia")
    bridge = read_table(spark, wh, "ponte_grupo_causas").filter(F.col("ordem_causa") == 1)
    causa = read_table(spark, wh, "dim_causa").filter(F.col("codigo_cid10") != "0000").select(
        "chave_causa", "descricao_causa"
    )
    grouped = (
        fact.join(F.broadcast(ocup), "chave_ocupacao")
        .join(F.broadcast(bridge), "chave_grupo_causa")
        .join(F.broadcast(causa), "chave_causa")
        .groupBy("descricao_familia", "descricao_causa")
        .agg(F.sum("quantidade_obitos").alias("quantidade_obitos"))
    )
    w = Window.partitionBy("descricao_familia").orderBy(
        F.desc("quantidade_obitos"), F.asc("descricao_causa")
    )
    return grouped.withColumn("ranking", F.row_number().over(w)).filter(
        F.col("ranking") <= k
    )


def rollup_cost_by_cause_chapter(spark: SparkSession, wh: str) -> DataFrame:
    """ROLL-UP over the money fact: hospitalization spend and procedure
    volume by primary-cause ICD-10 chapter.  Same star-join + SUM shape as
    ROLL-UP 1, but over factInternacoes — which the reference declared and
    never loaded, so this query has no reference twin; the measure semantics
    (exact DECIMAL money) are what the NUMERIC(15,2) DDL implies."""
    fact = read_table(spark, wh, "fact_internacoes")
    causa = read_table(spark, wh, "dim_causa").select(
        F.col("chave_causa").alias("chave_causa_primaria"),
        "capitulo", "descricao_capitulo",
    )
    return (
        fact.join(F.broadcast(causa), "chave_causa_primaria")
        .groupBy("capitulo", "descricao_capitulo")
        .agg(
            F.sum("valor").cast("decimal(15,2)").alias("valor_total"),
            F.sum("quantidade_procedimentos").alias("quantidade_procedimentos"),
        )
    )


def stay_cost_by_municipality(spark: SparkSession, wh: str) -> DataFrame:
    """Drill over both date roles: closed stays only (exit key ≠ sentinel),
    length-of-stay from the two role-played dimData members, total spend and
    mean stay per residence municipality."""
    fact = read_table(spark, wh, "fact_internacoes").filter(F.col("chave_data_saida") != 0)
    data = read_table(spark, wh, "dim_data")
    entrada = data.select(
        F.col("chave_data").alias("chave_data_entrada"), F.col("data").alias("data_entrada")
    )
    saida = data.select(
        F.col("chave_data").alias("chave_data_saida"), F.col("data").alias("data_saida")
    )
    mun = read_table(spark, wh, "dim_municipio").select(
        F.col("chave_municipio"), "nome_municipio", "estado"
    )
    return (
        fact.join(F.broadcast(entrada), "chave_data_entrada")
        .join(F.broadcast(saida), "chave_data_saida")
        .join(F.broadcast(mun), "chave_municipio")
        .withColumn("permanencia_dias", F.datediff("data_saida", "data_entrada"))
        .groupBy("nome_municipio", "estado")
        .agg(
            F.sum("valor").cast("decimal(15,2)").alias("valor_total"),
            F.avg("permanencia_dias").alias("media_permanencia_dias"),
            F.sum("quantidade_procedimentos").alias("quantidade_procedimentos"),
        )
    )
