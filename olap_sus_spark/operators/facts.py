"""Fact builders: surrogate-key pipelines + fact-grain aggregation.

Spark-native recast of the reference's two ETL jobs
(/root/reference/dags/spark_script_sinasc.py:162-274,
/root/reference/dags/spark_script_sim.py:258-403): decoded records are
surrogate-keyed against the conformed dimensions through broadcast equi-joins
(J1-J3, J6-J7), band attributes through the **band-label equi-join** rewrite
(J4/J5 — SURVEY.md §7: compute the band label fact-side with a searched CASE,
then hash-join on the label tuple; the faithful theta variant lives in
operators/joins.py and is oracle-tested separately), unresolved FKs are
pointed at the sentinel members (P7/P8), and the grain collapse is a
``groupBy(keys).count()`` (A1) whose partial aggregation happens map-side.

NULL policy (documented per SURVEY.md §2.12, adopting the coherent
SINASC-style rule for both facts): a row is kept iff its *event date* key
resolves; every other miss → sentinel (0, or −1 for time-of-day).  NULL band
values (unknown age/weight) match the 'Ignorado' band member, mirroring the
SINASC NULL arm (spark_script_sinasc.py:224-227).

Scale notes: every dimension side is ≤ ~90k rows (BASELINE.md) → all eight
joins broadcast; the only shuffle in either pipeline is the final fact-grain
aggregation, pre-reduced map-side.  The plan survives a 100× scale-up: fact
rows stream through one codegen stage per pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olap_sus_spark.operators.dims import FAIXAS_PESO, faixas_etarias
from olap_sus_spark.operators.joins import band_label

NASC_KEYS = [
    "chave_data",
    "chave_tempo",
    "chave_municipio_nascimento",
    "chave_municipio_residencia",
    "chave_demografia",
    "chave_info_nascimento",
]

OBITO_KEYS = [
    "chave_data_nascimento",
    "chave_data_obito",
    "chave_tempo_obito",
    "chave_municipio_residencia",
    "chave_municipio_obito",
    "chave_demografia",
    "chave_grupo_causa",
    "chave_ocupacao",
]

INTERN_KEYS = [
    "chave_data_entrada",
    "chave_data_saida",
    "chave_municipio",
    "chave_causa_primaria",
    "chave_causa_secundaria",
    "chave_ocupacao",
]

BRIDGE_SENTINEL = "0"  # group-of-causes sentinel id (cause '0000', key 0)


def _date_role(dim_data: DataFrame, join_col: str, out_key: str) -> DataFrame:
    """Role-play dimData (J1): (data -> join_col, chave_data -> out_key)."""
    return dim_data.filter(F.col("chave_data") != 0).select(
        F.col("data").alias(join_col), F.col("chave_data").alias(out_key)
    )


def _time_role(dim_horario: DataFrame, join_col: str, out_key: str) -> DataFrame:
    """dimHorario joins on the formatted 'HH:mm:ss' string (J2,
    spark_script_sim.py:295-298)."""
    return dim_horario.filter(F.col("chave_tempo") != -1).select(
        F.col("tempo_str").alias(join_col), F.col("chave_tempo").alias(out_key)
    )


def _mun_role(dim_municipio: DataFrame, join_col: str, out_key: str) -> DataFrame:
    """dimMunicipio joins on the truncated 6-digit IBGE code (J3:
    floor(codigo_ibge/10), spark_script_sinasc.py:178)."""
    return dim_municipio.filter(F.col("codigo_ibge").isNotNull()).select(
        F.floor(F.col("codigo_ibge") / 10).cast("int").alias(join_col),
        F.col("chave_municipio").alias(out_key),
    )


def build_fact_nascimentos(births: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """SINASC fact pipeline (spark_script_sinasc.py:162-274) → aggregated
    ``factNascimentos`` grain: 6 dim FKs + quantidade_nascimentos."""
    b = births.withColumn(
        "faixa_etaria", band_label(F.col("idade_mae"), faixas_etarias(), null_label="Ignorado")
    ).withColumn(
        "faixa_peso", band_label(F.col("peso_gramas"), FAIXAS_PESO, null_label="Ignorado")
    )

    f = b.join(F.broadcast(_date_role(dims["dim_data"], "data_nascimento", "chave_data")),
               "data_nascimento", "left")
    f = f.join(F.broadcast(_time_role(dims["dim_horario"], "tempo_nascimento", "chave_tempo")),
               "tempo_nascimento", "left")
    f = f.join(F.broadcast(_mun_role(dims["dim_municipio"], "cod_mun_nasc",
                                     "chave_municipio_nascimento")), "cod_mun_nasc", "left")
    f = f.join(F.broadcast(_mun_role(dims["dim_municipio"], "cod_mun_res",
                                     "chave_municipio_residencia")), "cod_mun_res", "left")

    # J4 — mother demographics: the dim is pre-filtered to the mother role
    # (sexo='F', hardcoded at sinasc:223) and joined on the full label tuple.
    # The sexo filter already excludes the sentinel (sexo='I'); the explicit
    # key filter documents the invariant every attribute-join role needs.
    demog = dims["dim_demografia"].filter(
        (F.col("sexo") == "F") & (F.col("chave_demografia") != 0)
    ).select(
        F.col("raca").alias("raca_mae_desc"),
        F.col("escolaridade").alias("esc_mae_desc"),
        F.col("estado_civil").alias("estciv_mae_desc"),
        F.col("faixa_etaria"),
        "chave_demografia",
    )
    f = f.join(F.broadcast(demog),
               ["raca_mae_desc", "esc_mae_desc", "estciv_mae_desc", "faixa_etaria"], "left")

    # J5 — newborn profile: 5 label equalities + weight band label.  The
    # sentinel (key 0) must be excluded: its attribute tuple equals the real
    # all-'Ignorado' member's, and a left join against both would duplicate
    # every all-unknown row (caught by test_ingest_robustness).
    info = dims["dim_info_nascimento"].filter(F.col("chave_info_nascimento") != 0).select(
        F.col("sexo").alias("sexo_rn_desc"),
        F.col("raca_cor").alias("raca_rn_desc"),
        F.col("faixa_peso"),
        F.col("tipo_parto").alias("parto_desc"),
        F.col("tempo_gestacao").alias("gestacao_desc"),
        F.col("tipo_gravidez").alias("gravidez_desc"),
        "chave_info_nascimento",
    )
    f = f.join(
        F.broadcast(info),
        ["sexo_rn_desc", "raca_rn_desc", "faixa_peso", "parto_desc", "gestacao_desc",
         "gravidez_desc"],
        "left",
    )

    f = f.fillna({
        "chave_tempo": -1,
        "chave_municipio_nascimento": 0,
        "chave_municipio_residencia": 0,
        "chave_demografia": 0,
        "chave_info_nascimento": 0,
    })
    f = f.filter(F.col("chave_data").isNotNull())  # P5: event date must resolve
    return f.groupBy(*NASC_KEYS).agg(F.count(F.lit(1)).alias("quantidade_nascimentos"))


def _causa_role(dim_causa: DataFrame, join_col: str, out_key: str) -> DataFrame:
    """Role-play dimCausa on the ICD-10 code (J7 shape): sentinel excluded
    from the join side — it is a fillna target, not a join candidate."""
    return dim_causa.filter(F.col("chave_causa") != 0).select(
        F.col("codigo_cid10").alias(join_col), F.col("chave_causa").alias(out_key)
    )


def build_fact_internacoes(admissions: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """SIH fact pipeline → aggregated ``factInternacoes`` grain: 6 dim FKs +
    SUM(valor) money measure + SUM(quantidade_procedimentos).

    The reference declares this fact but never loads it (init.sql:252-262);
    the pipeline follows the house rules of the two implemented ETLs: every
    dimension joins broadcast (role-playing dimData twice and dimCausa
    twice), the *admission* date is the event date (row dropped iff it
    fails to resolve — the discharge date may legitimately be open for
    in-progress stays → sentinel 0), every other miss → sentinel.  Measures
    aggregate with SUM, not COUNT: the grain is (entry, exit, municipality,
    primary cause, secondary cause, occupation), and ``valor`` stays
    DECIMAL(15,2) end-to-end."""
    f = admissions.join(
        F.broadcast(_date_role(dims["dim_data"], "data_entrada", "chave_data_entrada")),
        "data_entrada", "left",
    )
    f = f.join(
        F.broadcast(_date_role(dims["dim_data"], "data_saida", "chave_data_saida")),
        "data_saida", "left",
    )
    f = f.join(
        F.broadcast(_mun_role(dims["dim_municipio"], "cod_mun_res", "chave_municipio")),
        "cod_mun_res", "left",
    )
    f = f.join(
        F.broadcast(_causa_role(dims["dim_causa"], "causa_primaria_cid",
                                "chave_causa_primaria")), "causa_primaria_cid", "left",
    )
    f = f.join(
        F.broadcast(_causa_role(dims["dim_causa"], "causa_secundaria_cid",
                                "chave_causa_secundaria")), "causa_secundaria_cid", "left",
    )
    ocup = dims["dim_ocupacao"].filter(F.col("codigo_cbo").isNotNull()).select(
        F.col("codigo_cbo").alias("ocupacao_cbo"), "chave_ocupacao"
    )
    f = f.join(F.broadcast(ocup), "ocupacao_cbo", "left")

    f = f.fillna({
        "chave_data_saida": 0,
        "chave_municipio": 0,
        "chave_causa_primaria": 0,
        "chave_causa_secundaria": 0,
        "chave_ocupacao": 0,
    })
    f = f.filter(F.col("chave_data_entrada").isNotNull())  # event-date rule
    return f.groupBy(*INTERN_KEYS).agg(
        F.sum("valor").cast("decimal(15,2)").alias("valor"),
        F.sum("qt_procedimentos").alias("quantidade_procedimentos"),
    )


def causes_array() -> F.Column:
    """Per-row array of (ordem_causa, codigo) death-certificate causes.

    Lines A-D carry ordem 1-4; part-II codes continue at 5+ — the
    sim:149-157 construction via array/struct concat + indexed transform.
    """
    line_structs = F.array(*[
        F.struct(F.lit(i + 1).alias("ordem_causa"),
                 F.col(f"linha{c}_clean").alias("codigo"))
        for i, c in enumerate("abcd")
    ])
    # NULL part-II array would null the whole concat — coalesce to empty.
    part2 = F.transform(
        F.coalesce(F.col("linhaii_arr"), F.array().cast("array<string>")),
        lambda x, i: F.struct((i + 5).cast("int").alias("ordem_causa"), x.alias("codigo")),
    )
    return F.filter(
        F.concat(line_structs, part2),
        lambda s: s["codigo"].isNotNull() & (s["codigo"] != ""),
    )


def build_fact_obitos(
    deaths: DataFrame, dims: dict[str, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """SIM fact pipeline (spark_script_sim.py:258-403) → (factObitos, bridge).

    Returns the aggregated fact (8 FKs + quantidade_obitos) and the
    ``ponteGrupoCausas`` bridge rows (content-hash group ids — see
    operators/bridge.py for why that replaces the reference's sequence).
    """
    # Event-date rule applied *before* the cause subplan.  The reference
    # assigns cause groups first and filters later (sim:130-255 vs :399),
    # leaving orphan bridge groups for dropped rows; filtering first keeps
    # the bridge referencing only live facts.
    deaths = deaths.filter(F.col("data_obito").isNotNull())

    # Cause-group subplan, fully NARROW: the dimCausa lookup is a constant
    # map (the dim is ≤ ~12k entries by construction, BASELINE.md) applied
    # inside the per-row cause array, and the group id is the content hash
    # of the in-row canonical signature — exactly
    # operators/bridge.py:canonical_signature, computed without the
    # explode → groupBy(row_id) → join-back cycle.  This removes two
    # shuffles from the fact path; at 100 TB the deaths pipeline is one
    # codegen stage ending in the single grain-collapse shuffle.
    #
    # The map is ONE string literal parsed by from_json, which
    # ConstantFolding turns into a map<string,int> constant.  Not
    # map_from_arrays over two literal arrays: those are 2×|dimCausa|
    # nodes that every analysis and optimizer pass over this plan (the
    # joins below, then both executions: bridge append and fact write)
    # walks.  Spark renders the JSON itself, in one row and one job
    # (coalesce(1): no exchange before the global aggregate); a
    # sentinel-only dim yields '{}', a typed empty map (every cause → 0).
    (causa_json,) = dims["dim_causa"].filter(F.col("chave_causa") != 0).coalesce(1).agg(
        F.to_json(F.map_from_entries(F.collect_list(F.struct("codigo_cid10", "chave_causa"))))
    ).first()
    causa_map = F.from_json(F.lit(causa_json), "map<string,int>")
    keyed = F.transform(
        causes_array(),
        lambda s: F.struct(
            s["ordem_causa"].alias("ordem_causa"),
            F.coalesce(F.try_element_at(causa_map, s["codigo"]), F.lit(0)).alias("chave_causa"),
        ),
    )
    # In-row twin of bridge.canonical_signature: 'chave:ordem' fragments
    # sorted by (ordem, chave, frag), joined by '|', md5-hashed.
    causas = F.col("_causas")
    trip = F.transform(
        causas,
        lambda s: F.struct(
            s["ordem_causa"].alias("o"),
            s["chave_causa"].alias("i"),
            F.concat_ws(
                ":", s["chave_causa"].cast("string"), s["ordem_causa"].cast("string")
            ).alias("f"),
        ),
    )
    sig = F.concat_ws("|", F.transform(F.array_sort(trip), lambda x: x["f"]))
    group_id = F.when(F.size(causas) > 0, F.md5(sig)).otherwise(F.lit(BRIDGE_SENTINEL))

    d = deaths.withColumn("_causas", keyed).withColumn("chave_grupo_causa", group_id)
    bridge = (
        d.filter(F.size("_causas") > 0)
        .select("chave_grupo_causa", F.explode("_causas").alias("c"))
        .select("chave_grupo_causa", "c.ordem_causa", "c.chave_causa")
        .dropDuplicates(["chave_grupo_causa", "ordem_causa", "chave_causa"])
    )

    d = d.withColumn(
        "faixa_etaria", band_label(F.col("idade_anos"), faixas_etarias(), null_label="Ignorado")
    )

    f = d.join(F.broadcast(_date_role(dims["dim_data"], "data_nascimento",
                                      "chave_data_nascimento")), "data_nascimento", "left")
    f = f.join(F.broadcast(_date_role(dims["dim_data"], "data_obito", "chave_data_obito")),
               "data_obito", "left")
    f = f.join(F.broadcast(_time_role(dims["dim_horario"], "tempo_obito",
                                      "chave_tempo_obito")), "tempo_obito", "left")
    f = f.join(F.broadcast(_mun_role(dims["dim_municipio"], "cod_mun_res",
                                     "chave_municipio_residencia")), "cod_mun_res", "left")
    f = f.join(F.broadcast(_mun_role(dims["dim_municipio"], "cod_mun_ocor",
                                     "chave_municipio_obito")), "cod_mun_ocor", "left")

    # J4 — deceased demographics; SIM joins on the long sex description
    # (sim:361-373).
    demog = dims["dim_demografia"].select(
        F.col("raca").alias("raca_desc"),
        F.col("escolaridade").alias("esc_desc"),
        F.col("estado_civil").alias("estciv_desc"),
        F.col("descricao_sexo").alias("sexo_desc"),
        F.col("faixa_etaria"),
        "chave_demografia",
    ).filter(F.col("chave_demografia") != 0)
    f = f.join(F.broadcast(demog),
               ["raca_desc", "esc_desc", "estciv_desc", "sexo_desc", "faixa_etaria"], "left")

    # J6 — occupation on the CBO code string.
    ocup = dims["dim_ocupacao"].filter(F.col("codigo_cbo").isNotNull()).select(
        F.col("codigo_cbo").alias("ocupacao_cbo"), "chave_ocupacao"
    )
    f = f.join(F.broadcast(ocup), "ocupacao_cbo", "left")

    f = f.fillna({
        "chave_data_nascimento": 0,
        "chave_tempo_obito": -1,
        "chave_municipio_residencia": 0,
        "chave_municipio_obito": 0,
        "chave_demografia": 0,
        "chave_ocupacao": 0,
    })
    f = f.filter(F.col("chave_data_obito").isNotNull())
    fact = f.groupBy(*OBITO_KEYS).agg(F.count(F.lit(1)).alias("quantidade_obitos"))
    return fact, bridge
