"""Generated dimensions (the reference's warehouse bootstrap, recast).

The reference builds its date/time/demographics dimensions with Postgres
``generate_series`` + ``CROSS JOIN`` DO-blocks (/root/reference/scripts/
init.sql:50-130,442-579) and inserts sentinel "Ignorado" members with key
0 / −1 (:585-652).  Here each dimension is a deterministic, seed-free pure
function of the Spark session — calendar dims generated distributed
(``sequence``/``spark.range``), bounded junk dims generated driver-side —
then written as Parquet by ``etl.bootstrap_warehouse``.

Cardinalities (BASELINE.md): dimData 47,847 · dimHorario 86,401 ·
dimDemografia 14,256+1 · dimInfoNascimento 9,072+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.functions.calendar import (
    bimester,
    isodow,
    month_name_ptbr,
    semester,
    trimester,
    weekday_name_ptbr,
)

RACAS = ["Branca", "Preta", "Amarela", "Parda", "Indígena", "Ignorado"]
ESCOLARIDADES = [
    ("Nenhuma", 0),
    ("1 a 3 anos", 1),
    ("4 a 7 anos", 2),
    ("8 a 11 anos", 3),
    ("12 e mais", 4),
    ("Ignorado", 9),
]
ESTADOS_CIVIS = [
    "Solteiro",
    "Casado",
    "Viúvo",
    "Separado judicialmente/divorciado",
    "União estável",
    "Ignorado",
]
SEXOS = [("M", "Masculino"), ("F", "Feminino"), ("I", "Ignorado")]
FAIXAS_PESO = [
    ("Extremo Baixo Peso", 0, 999),
    ("Muito Baixo Peso", 1000, 1499),
    ("Baixo Peso", 1500, 2499),
    ("Normal", 2500, 3999),
    ("Macrossômico", 4000, None),
    ("Ignorado", None, None),
]
TIPOS_PARTO = ["Vaginal", "Cesário", "Ignorado"]
TEMPOS_GESTACAO = [
    ("Menos de 22 semanas", 0, 21),
    ("22 a 27 semanas", 22, 27),
    ("28 a 31 semanas", 28, 31),
    ("32 a 36 semanas", 32, 36),
    ("37 a 41 semanas", 37, 41),
    ("42 semanas e mais", 42, None),
    ("Ignorado", None, None),
]
TIPOS_GRAVIDEZ = ["Única", "Dupla", "Tripla ou mais", "Ignorado"]


def faixas_etarias() -> list[tuple[str, int | None, int | None]]:
    """Age bands: '0 a 5' ∪ 5-year bands 6..100 ∪ open top ∪ Ignorado
    (init.sql:494-506)."""
    bands: list[tuple[str, int | None, int | None]] = [("0 a 5 anos", 0, 5)]
    bands += [(f"{n} a {n + 4} anos", n, n + 4) for n in range(6, 97, 5)]
    bands.append(("Mais de 100 anos", 101, None))
    bands.append(("Ignorado", None, None))
    return bands


def dim_data(spark: SparkSession, start_year: int = 1900, end_year: int = 2030) -> DataFrame:
    """Date dimension, one row per day (init.sql:50-100 semantics).

    Generated with ``sequence`` + ``explode`` (fully distributed, no driver
    loop); ``chave_data`` is the 1-based day ordinal, matching the
    reference's SERIAL assignment order.
    """
    days = spark.sql(
        f"""
        SELECT explode(sequence(
            to_date('{start_year}-01-01'), to_date('{end_year}-12-31'), interval 1 day
        )) AS data
        """
    )
    d = F.col("data")
    body = days.select(
        (F.datediff(d, F.lit(f"{start_year}-01-01").cast("date")) + 1).cast("int").alias("chave_data"),
        d,
        isodow(d).alias("numero_dia_semana"),
        weekday_name_ptbr(d).alias("dia_semana"),
        F.dayofmonth(d).alias("numero_dia"),
        F.dayofyear(d).alias("dia_ano"),
        F.month(d).alias("numero_mes"),
        month_name_ptbr(d).alias("mes"),
        F.year(d).alias("ano"),
        bimester(d).alias("bimestre"),
        trimester(d).alias("trimestre"),
        semester(d).alias("semestre"),
    )
    # Sentinel key-0 member ("Ignorado", init.sql:585-601) so fact rows with
    # an unresolvable *non-event* date (e.g. unknown birth date on a death
    # record) survive inner star joins.
    sentinel = spark.createDataFrame(
        [(0, None, None, "Ignorado", None, None, None, "Ignorado", None, None, None, None)],
        "chave_data int, data date, numero_dia_semana int, dia_semana string, "
        "numero_dia int, dia_ano int, numero_mes int, mes string, ano int, "
        "bimestre int, trimestre int, semestre int",
    )
    return sentinel.unionByName(body)


def dim_horario(spark: SparkSession) -> DataFrame:
    """Time-of-day dimension: 86,400 seconds + sentinel −1 (init.sql:106-130).

    ``spark.range(86400)`` + arithmetic replaces the 3-way CROSS JOIN — same
    rows, one narrow stage, no shuffle.  Keys are 1-based in time order to
    match the reference's SERIAL ordering (ORDER BY tempo).
    """
    base = spark.range(0, 86400).select(
        (F.col("id") + 1).cast("int").alias("chave_tempo"),
        (F.col("id") / 3600).cast("int").alias("hora"),
        ((F.col("id") % 3600) / 60).cast("int").alias("minutos"),
        (F.col("id") % 60).cast("int").alias("segundos"),
    )
    base = base.withColumn(
        "tempo_str",
        F.format_string("%02d:%02d:%02d", F.col("hora"), F.col("minutos"), F.col("segundos")),
    ).withColumn(
        "periodo",
        F.when(F.col("hora").between(0, 5), "madrugada")
        .when(F.col("hora").between(6, 11), "manhã")
        .when(F.col("hora").between(12, 17), "tarde")
        .otherwise("noite"),
    )
    sentinel = spark.createDataFrame(
        [(-1, None, None, None, None, "Ignorado")],
        "chave_tempo int, hora int, minutos int, segundos int, tempo_str string, periodo string",
    )
    return sentinel.unionByName(base)


def _null_first(v):
    """Python sort key matching Spark ASC NULLS FIRST."""
    return (v is not None, v)


def dim_demografia(spark: SparkSession) -> DataFrame:
    """Junk dimension: race × schooling × marital × sex × age band
    (init.sql:442-510) + sentinel key 0 (:602-624).

    A junk dimension is *bounded by definition* (6×6×6×3×22 = 14,256 rows),
    so the cross-product and key assignment happen driver-side in one
    ``createDataFrame`` — a chain of crossJoins over literal frames planned
    4 sequential broadcast jobs and took ~25 s for 14k rows.  Keys follow a
    deterministic dense ordering (Spark-style NULLS FIRST), not load order.
    """
    from itertools import product

    rows = [
        (raca, esc, nivel, estciv, sexo, dsexo, faixa, lo, hi)
        for raca, (esc, nivel), estciv, (sexo, dsexo), (faixa, lo, hi) in product(
            RACAS, ESCOLARIDADES, ESTADOS_CIVIS, SEXOS, faixas_etarias()
        )
    ]
    rows.sort(key=lambda r: (r[0], r[2], r[3], r[4], _null_first(r[7]), r[6]))
    body = [
        (i + 1, r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8])
        for i, r in enumerate(rows)
    ]
    sentinel = (0, "Ignorado", "Ignorado", 0, "Ignorado", "I", "Ignorado", "Ignorado", 0, 0)
    return spark.createDataFrame(
        [sentinel, *body],
        "chave_demografia int, raca string, escolaridade string, nivel_escolaridade int, "
        "estado_civil string, sexo string, descricao_sexo string, faixa_etaria string, "
        "idade_minima int, idade_maxima int",
        verifySchema=False,  # rows are constructed typed; verification is 7x the cost
    ).coalesce(1)


def dim_info_nascimento(spark: SparkSession) -> DataFrame:
    """Junk dimension: sex × race × weight band × delivery × gestation ×
    pregnancy (init.sql:512-579) + sentinel key 0 (:626-652).  Driver-side
    generation — see dim_demografia."""
    from itertools import product

    rows = [
        (sexo, dsexo, raca, fp, plo, phi, parto, gest, glo, ghi, grav)
        for (sexo, dsexo), raca, (fp, plo, phi), parto, (gest, glo, ghi), grav in product(
            SEXOS, RACAS, FAIXAS_PESO, TIPOS_PARTO, TEMPOS_GESTACAO, TIPOS_GRAVIDEZ
        )
    ]
    rows.sort(
        key=lambda r: (r[0], r[2], _null_first(r[4]), r[3], r[6], _null_first(r[8]), r[7], r[10])
    )
    body = [(i + 1, *r) for i, r in enumerate(rows)]
    sentinel = (0, "I", "Ignorado", "Ignorado", "Ignorado", 0, 0, "Ignorado", "Ignorado", 0, 0, "Ignorado")
    return spark.createDataFrame(
        [sentinel, *body],
        "chave_info_nascimento int, sexo string, descricao_sexo string, raca_cor string, "
        "faixa_peso string, peso_min_gramas int, peso_max_gramas int, tipo_parto string, "
        "tempo_gestacao string, semanas_gestacao_min int, semanas_gestacao_max int, tipo_gravidez string",
        verifySchema=False,
    ).coalesce(1)


ALL_GENERATED = {
    "dim_data": dim_data,
    "dim_horario": dim_horario,
    "dim_demografia": dim_demografia,
    "dim_info_nascimento": dim_info_nascimento,
}

