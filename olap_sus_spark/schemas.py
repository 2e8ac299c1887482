"""Explicit schemas for raw inputs and every warehouse table.

The reference reads raw CSVs all-string with no inference
(/root/reference/dags/spark_script_sinasc.py:192) and declares warehouse
tables in DDL (/root/reference/scripts/init.sql).  The rebuild pins every
schema here so scans never depend on sampling — mandatory at 100 TB where a
schema-inference pass is a full extra read.  That holds for Parquet too:
``spark.read.parquet`` without a schema runs a Spark job to merge footers.
So every table the engine writes into a warehouse — the seven dimensions,
the three ``dt``-partitioned facts, the cause-group bridge and the two
maintained aggregates — is declared once in ``WAREHOUSE`` (StructTypes or
DDL strings, equal to what ``etl`` writes — pinned by
tests/test_ingest_dims.py), and :func:`read_table` is the one reader of
them: no Spark job at construction.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _all_string(*names: str) -> StructType:
    return StructType([StructField(n, StringType(), True) for n in names])


# Raw extracts: exactly the columns the reference ETL consumes (FIXTURES.md
# B1/B2); real extracts carry more, which spark.read.csv ignores by name.
SINASC_RAW = _all_string(
    "DTNASC", "HORANASC", "CODMUNNASC", "CODMUNRES", "IDADEMAE", "RACACORMAE",
    "ESCMAE", "ESTCIVMAE", "SEXO", "RACACOR", "PESO", "PARTO", "GESTACAO", "GRAVIDEZ",
)

SIM_RAW = _all_string(
    "DTOBITO", "DTNASC", "HORAOBITO", "SEXO", "RACACOR", "ESTCIV", "ESC", "IDADE",
    "LINHAA", "LINHAB", "LINHAC", "LINHAD", "LINHAII", "CODMUNRES", "CODMUNOCOR", "OCUP",
)

# Seed CSVs (init.sql staging layouts :272-300, :342-354, :396-406) — only
# the consumed columns.
MUNICIPIO_SEED = _all_string(
    "id_municipio", "nome", "capital_uf", "nome_regiao_saude",
    "nome_regiao_metropolitana", "sigla_uf", "nome_uf", "nome_regiao",
)

CBO_SEED = _all_string(
    "cbo_2002", "descricao", "familia", "descricao_familia", "subgrupo",
    "descricao_subgrupo", "subgrupo_principal", "descricao_subgrupo_principal",
    "grande_grupo", "descricao_grande_grupo", "indicador_cbo_2002_ativa",
)

CID10_SEED = _all_string(
    "subcategoria", "descricao_subcategoria", "categoria", "descricao_categoria",
    "capitulo", "descricao_capitulo", "causa_violencia", "causa_overdose", "cid_datasus",
)

DIM_MUNICIPIO = StructType(
    [
        StructField("chave_municipio", IntegerType(), False),
        StructField("codigo_ibge", IntegerType(), True),
        StructField("nome_municipio", StringType(), True),
        StructField("uf", StringType(), True),
        StructField("estado", StringType(), True),
        StructField("regiao", StringType(), True),
        StructField("regiao_saude", StringType(), True),
        StructField("regiao_metropolitana", StringType(), True),
        StructField("is_capital", BooleanType(), True),
    ]
)

DIM_DATA = (
    "chave_data int, data date, numero_dia_semana int, dia_semana string, numero_dia int, "
    "dia_ano int, numero_mes int, mes string, ano int, bimestre int, trimestre int, "
    "semestre int"
)

DIM_HORARIO = (
    "chave_tempo int, hora int, minutos int, segundos int, tempo_str string, periodo string"
)

DIM_DEMOGRAFIA = (
    "chave_demografia int, raca string, escolaridade string, nivel_escolaridade int, "
    "estado_civil string, sexo string, descricao_sexo string, faixa_etaria string, "
    "idade_minima int, idade_maxima int"
)

DIM_INFO_NASCIMENTO = (
    "chave_info_nascimento int, sexo string, descricao_sexo string, raca_cor string, "
    "faixa_peso string, peso_min_gramas int, peso_max_gramas int, tipo_parto string, "
    "tempo_gestacao string, semanas_gestacao_min int, semanas_gestacao_max int, "
    "tipo_gravidez string"
)

DIM_OCUPACAO = (
    "chave_ocupacao int, codigo_cbo string, descricao_ocupacao string, "
    "descricao_familia string, descricao_subgrupo string, "
    "descricao_subgrupo_principal string, descricao_grande_grupo string"
)

DIM_CAUSA = (
    "chave_causa int, codigo_cid10 string, descricao_causa string, categoria string, "
    "descricao_categoria string, capitulo string, descricao_capitulo string, "
    "causa_violencia boolean, causa_overdose boolean"
)

# Warehouse dimension table -> its schema, in bootstrap order.
DIMENSIONS = {
    "dim_data": DIM_DATA,
    "dim_horario": DIM_HORARIO,
    "dim_demografia": DIM_DEMOGRAFIA,
    "dim_info_nascimento": DIM_INFO_NASCIMENTO,
    "dim_municipio": DIM_MUNICIPIO,
    "dim_ocupacao": DIM_OCUPACAO,
    "dim_causa": DIM_CAUSA,
}

FACT_NASCIMENTOS = StructType(
    [
        StructField("chave_data", IntegerType(), True),
        StructField("chave_tempo", IntegerType(), True),
        StructField("chave_municipio_nascimento", IntegerType(), True),
        StructField("chave_municipio_residencia", IntegerType(), True),
        StructField("chave_demografia", IntegerType(), True),
        StructField("chave_info_nascimento", IntegerType(), True),
        StructField("quantidade_nascimentos", LongType(), False),
    ]
)

FACT_OBITOS = StructType(
    [
        StructField("chave_data_nascimento", IntegerType(), True),
        StructField("chave_data_obito", IntegerType(), True),
        StructField("chave_tempo_obito", IntegerType(), True),
        StructField("chave_municipio_residencia", IntegerType(), True),
        StructField("chave_municipio_obito", IntegerType(), True),
        StructField("chave_demografia", IntegerType(), True),
        StructField("chave_grupo_causa", StringType(), True),  # content-hash id
        StructField("chave_ocupacao", IntegerType(), True),
        StructField("quantidade_obitos", LongType(), False),
    ]
)

# Declared in the reference but never loaded (init.sql:252-262; the 'sih'
# dataset is commented out of the DAG at spark_dag.py:56).  This engine
# implements the load (operators/facts.py:build_fact_internacoes): the raw
# contract uses the public SIH-RD field names, dates arrive ddMMyyyy like
# the other landing datasets, and VAL_TOT maps to DecimalType(15,2) — money
# must aggregate exactly, never as double.
SIH_RAW = _all_string(
    "DT_INTER", "DT_SAIDA", "MUNIC_RES", "DIAG_PRINC", "DIAG_SECUN",
    "CBOR", "VAL_TOT", "QT_PROC",
)

FACT_INTERNACOES = StructType(
    [
        StructField("chave_data_entrada", IntegerType(), True),
        StructField("chave_data_saida", IntegerType(), True),
        StructField("chave_municipio", IntegerType(), True),
        StructField("chave_causa_primaria", IntegerType(), True),
        StructField("chave_causa_secundaria", IntegerType(), True),
        StructField("chave_ocupacao", IntegerType(), True),
        StructField("valor", DecimalType(15, 2), True),
        StructField("quantidade_procedimentos", LongType(), False),
    ]
)


def _with_dt(schema: StructType) -> StructType:
    """A fact as stored: its ``dt=`` partition column read back as DATE."""
    return StructType([*schema.fields, StructField("dt", DateType(), True)])


FACTS = {
    "fact_nascimentos": _with_dt(FACT_NASCIMENTOS),
    "fact_obitos": _with_dt(FACT_OBITOS),
    "fact_internacoes": _with_dt(FACT_INTERNACOES),
}

# Cause-group bridge: one row per (content-hash group, cause position).
PONTE_GRUPO_CAUSAS = "chave_grupo_causa string, ordem_causa int, chave_causa int"

# Maintained aggregates: additive per-``dt`` partials (etl.AGGREGATES).
AGGREGATES = {
    "agg_nascimentos_uf_ano": "uf string, ano int, quantidade_nascimentos bigint, dt date",
    "agg_obitos_uf_ano": "uf string, ano int, quantidade_obitos bigint, dt date",
}

# Every warehouse table -> its schema.
WAREHOUSE = {
    **DIMENSIONS,
    **FACTS,
    "ponte_grupo_causas": PONTE_GRUPO_CAUSAS,
    **AGGREGATES,
}


def read_table(spark: SparkSession, warehouse_dir: str, table: str) -> DataFrame:
    """Read a warehouse table by its declared schema.  A directory holding
    no data reads as a typed empty frame (a fact or aggregate whose every
    day was dropped), and so does a fact never ingested; any other missing
    table raises."""
    schema = WAREHOUSE[table]
    path = posixpath.join(warehouse_dir, table)
    if table in FACTS and not os.path.exists(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)
